package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of a run, as the harness saw it from outside. */
final case class OpRecord(id: Int, key: String, phase: String,
    startMs: Long, endMs: Long, wallS: Double, buildS: Double,
    rows: Long, fingerprint: String, error: String,
    codegenCompiles: Long, codegenNs: Long, cpuS: Double)

/** A closed interval of one layer, tied to the operation it ran under. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, op: Int)

/** Spark's public listeners, registered by the harness for a traced run.
  *
  * Jobs and stages carry the harness's `perfbench.op` local property, set
  * on the client thread before each operation (streaming query threads
  * inherit it at start). Planning phases and micro-batch progress carry no
  * properties; they are tied to the operation whose wall interval holds
  * their start — the harness runs one client thread, so the intervals are
  * disjoint.
  */
final class Tracer(spark: SparkSession) {
  final case class Task(stage: Int, launch: Long, finish: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, fetchWaitMs: Long, spill: Long, retry: Boolean)
  final case class Phases(analysis: (Long, Long), optimization: (Long, Long),
      planning: (Long, Long))
  final case class Batch(startMs: Long, inputRows: Long,
      durations: Map[String, Long], stateCommitMs: Long, rowsTotal: Long,
      rowsUpdated: Long, rowsRemoved: Long, memoryBytes: Long,
      dropped: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTimes =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val phases = new ConcurrentLinkedQueue[Phases]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toInt).getOrElse(-1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      jobs.put(e.jobId, (op, e.time))
      e.stageIds.foreach { st =>
        stageJob.putIfAbsent(st, e.jobId); stageOp.putIfAbsent(st, op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.put(e.jobId, e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageOp.put(e.stageInfo.stageId, opOf(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageTimes.put(i.stageId, (i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        i.attemptNumber > 0 || i.speculative || i.failed))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def of(n: String) = ph.get(n).map(p => (p.startTimeMs, p.endTimeMs))
        .getOrElse((0L, 0L))
      phases.add(Phases(of("analysis"), of("optimization"), of("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
        ops.map(_.numRowsUpdated).sum, ops.map(_.numRowsRemoved).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued event, then detach the listeners. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Spans of the traced operations: op → planning phases, jobs → stages
    * → tasks, and micro-batches → their duration components.
    */
  def spans(ops: Seq[OpRecord]): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var next = 0
    def add(name: String, s: Double, e: Double, parent: Int, op: Int): Int = {
      next += 1; out += Span(next, name, s, e, parent, op); next
    }
    val sorted = ops.sortBy(_.startMs).toIndexedSeq
    val opSpan = sorted.map(o =>
      o.id -> add(s"op:${o.key}", o.startMs, o.endMs, 0, o.id)).toMap
    def owner(ms: Long): Option[OpRecord] =
      sorted.find(o => o.startMs <= ms && ms <= o.endMs)
    phases.asScala.foreach { p =>
      owner(p.analysis._1.max(p.optimization._1)).foreach { o =>
        Seq("catalyst.analysis" -> p.analysis,
          "catalyst.optimization" -> p.optimization,
          "catalyst.planning" -> p.planning).foreach { case (n, (s, e)) =>
          if (e > 0) add(n, s, e, opSpan(o.id), o.id)
        }
      }
    }
    val jobSpan = jobs.asScala.toSeq.sortBy(_._1).flatMap { case (j, (op, t0)) =>
      val o = if (opSpan.contains(op)) Some(op) else owner(t0).map(_.id)
      o.map(id => j -> (add("spark.job", t0, jobEnds.getOrDefault(j, t0),
        opSpan(id), id), id))
    }.toMap
    val stageSpan = stageTimes.asScala.toSeq.sortBy(_._1).flatMap {
      case (st, (s, e)) =>
        stageJob.asScala.get(st).flatMap(jobSpan.get).map {
          case (p, op) => st -> (add("spark.stage", s, e, p, op), op)
        }
    }.toMap
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stage).foreach { case (p, op) =>
        add("spark.task", t.launch, t.finish, p, op)
      }
    }
    batches.asScala.foreach { b =>
      owner(b.startMs).foreach { o =>
        val total = b.durations.getOrElse("triggerExecution", 0L)
        val bs = add("stream.batch", b.startMs, b.startMs + total, opSpan(o.id), o.id)
        var at = b.startMs.toDouble
        Seq("queryPlanning", "addBatch", "walCommit", "commitOffsets",
          "latestOffset", "getBatch").foreach { k =>
          b.durations.get(k).foreach { d => add(s"stream.$k", at, at + d, bs, o.id); at += d }
        }
        if (b.stateCommitMs > 0)
          add("state.commit", b.startMs, b.startMs + b.stateCommitMs, bs, o.id)
      }
    }
    out.result()
  }

  /** The per-layer metrics of the traced operations, per operation unless
    * the name says otherwise.
    */
  def layers(ops: Seq[OpRecord], windowS: Double, cpus: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val ids = ops.map(_.id).toSet
    def inOps(ms: Long) = ops.exists(o => o.startMs <= ms && ms <= o.endMs)
    val ownStages = stageOp.asScala.collect { case (s, op) if ids(op) => s }.toSet
    val ts = tasks.asScala.toSeq.filter(t => ownStages(t.stage))
    val ownJobs = jobs.asScala.toSeq.filter { case (_, (op, t0)) =>
      ids(op) || (op == -1 && inOps(t0)) }
    val ph = phases.asScala.toSeq.filter(p => inOps(p.analysis._1.max(p.optimization._1)))
    val bs = batches.asScala.toSeq.filter(b => inOps(b.startMs))
    def d(p: (Long, Long)) = (p._2 - p._1).max(0L).toDouble
    def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val busyMs = ts.map(_.runMs).sum.toDouble
    val mb = 1024.0 * 1024.0
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { g =>
      val times = g.map(t => (t.finish - t.launch).toDouble).sorted
      val med = times(times.size / 2)
      if (med > 0) times.last / med else 1.0
    }
    val wall = ops.map(_.wallS).sum
    val trigger = dur("triggerExecution")
    Map(
      "catalyst.analysis_ms" -> ph.map(p => d(p.analysis)).sum / n,
      "catalyst.optimization_ms" -> ph.map(p => d(p.optimization)).sum / n,
      "catalyst.planning_ms" -> ph.map(p => d(p.planning)).sum / n,
      "codegen.compiles" -> ops.map(_.codegenCompiles).sum / n,
      "codegen.compile_ms" -> ops.map(_.codegenNs).sum / 1e6 / n,
      "spark.jobs" -> ownJobs.size / n,
      "spark.stages" -> ownStages.size / n,
      "spark.tasks" -> ts.size / n,
      "spark.task_busy_s" -> busyMs / 1000.0 / n,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / n,
      "spark.core_util" -> (if (windowS > 0) busyMs / 1000.0 / (windowS * cpus) else 0.0),
      "spark.task_retry_frac" -> (if (ts.isEmpty) 0.0 else ts.count(_.retry).toDouble / ts.size),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb / n,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb / n,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb / n,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum / n,
      "shuffle.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.size),
      "queries.build_ms" -> ops.map(_.buildS).sum * 1000.0 / n,
      "stream.batches" -> bs.size / n,
      "stream.trigger_ms" -> trigger / n,
      "stream.add_batch_ms" -> dur("addBatch") / n,
      "stream.query_planning_ms" -> dur("queryPlanning") / n,
      "stream.wal_commit_ms" -> dur("walCommit") / n,
      "stream.commit_offsets_ms" -> dur("commitOffsets") / n,
      "stream.start_stop_ms" -> (if (bs.isEmpty) 0.0
        else (wall * 1000.0 - trigger).max(0.0) / n),
      "stream.nodata_batch_frac" -> (if (bs.isEmpty) 0.0
        else bs.count(_.inputRows == 0).toDouble / bs.size),
      "state.commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble / n,
      "state.rows_total" -> (if (bs.isEmpty) 0.0 else bs.map(_.rowsTotal).max.toDouble),
      "state.rows_updated" -> bs.map(_.rowsUpdated).sum.toDouble / n,
      "state.rows_removed" -> bs.map(_.rowsRemoved).sum.toDouble / n,
      "state.memory_mb" -> (if (bs.isEmpty) 0.0 else bs.map(_.memoryBytes).max / mb),
      "state.dropped_by_watermark" -> bs.map(_.dropped).sum.toDouble / n)
  }
}

object Tracer {
  val OpProperty = "perfbench.op"
}
