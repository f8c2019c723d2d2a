package graft

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.queries.Q.QFn

/** The perf surface and the one timing loop: every key is timed
  * as `fn(spark, sfDir).count()`, the build (the query-function call —
  * for a replay key, the whole replay) apart from the count, and every
  * micro-batch its streaming queries ran is tallied per key.
  *
  * stdout is EXACTLY ONE JSON line (also written to bench_out.json); the
  * per-key layers go to bench_layers.json next to it. SPARK_GRAFT_ONLY
  * (comma-separated names, dev only) times a subset.
  */
object Bench {

  /** One key's layers: build and action wall seconds, the micro-batches
    * of the streaming runs it started with their summed `durationMs` per
    * component, `incomplete` when a run's termination event did not
    * arrive within the wait bound, and the error of a failed key.
    */
  final case class Layers(buildS: Double, actionS: Double, batches: Int,
      durationMs: Map[String, Long], incomplete: Boolean,
      error: Option[String])

  /** The bench_layers.json record: the warm-up's `SparkEntry.entry` row
    * count (or its error) and each timed key's [[Layers]], in run order.
    */
  final case class Sidecar(entryRows: Either[String, Long],
      keys: Seq[(String, Layers)]) {
    def json: String = {
      import DumpIO.jsonString
      val entry = entryRows.fold(e => s""""entry_error":${jsonString(e)}""",
        n => s""""entry_rows":$n""")
      val ks = keys.map { case (k, l) =>
        val dur = l.durationMs.toSeq.sorted.map { case (c, ms) => s"${jsonString(c)}:$ms" }
          .mkString("{", ",", "}")
        jsonString(k) + s""":{"build_s":${l.buildS},"action_s":${l.actionS},""" +
          s""""batches":${l.batches},"duration_ms":$dur""" +
          (if (l.incomplete) ""","incomplete":true""" else "") +
          l.error.fold("")(e => s""","error":${jsonString(e)}""") + "}"
      }.mkString("{", ",", "}")
      s"""{$entry,"keys":$ks}"""
    }
  }

  /** Upper bound on the post-key wait for termination events. */
  private val TerminationWaitMs = 60000L

  /** Session listener that tags each streaming run with the key being
    * timed and tallies its progress events. `onQueryStarted` runs
    * synchronously inside `start()` (Spark's listener contract), so a run
    * is tagged before it can make progress; progress and termination
    * arrive FIFO on the listener bus, so once a run's termination event
    * is in, all its progress events are too.
    */
  private final class StreamTally extends StreamingQueryListener {
    private var key: Option[String] = None
    private val keyOf = mutable.Map[UUID, String]()
    private val running = mutable.Set[UUID]()
    private val batches = mutable.Map[String, Int]().withDefaultValue(0)
    private val durations = mutable.Map[String, mutable.Map[String, Long]]()

    def begin(k: String): Unit = synchronized { key = Some(k) }

    /** Stops tagging, then waits until every run of `k` has terminated
      * (true) or the bound passes (false); returns with `k`'s tally.
      */
    def end(k: String): (Boolean, Int, Map[String, Long]) = synchronized {
      key = None
      val deadline = System.currentTimeMillis() + TerminationWaitMs
      def pending = running.exists(keyOf(_) == k)
      while (pending && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      (!pending, batches(k), durations.getOrElse(k, Map.empty).toMap)
    }

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
      key.foreach { k => keyOf(e.runId) = k; running += e.runId }
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      keyOf.get(e.progress.runId).foreach { k =>
        batches(k) += 1
        val sum = durations.getOrElseUpdate(k, mutable.Map())
        e.progress.durationMs.asScala.foreach { case (c, ms) =>
          sum(c) = sum.getOrElse(c, 0L) + ms.longValue
        }
      }
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = synchronized {
      running -= e.runId
      notifyAll()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DumpIO.session()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val (line, sidecar) = run(spark, sfDir, selected)
    // Persist the line and the sidecar for inspection, but print EXACTLY
    // ONE JSON line: stdout is parsed as a single
    // {"metric",...,"queries":{...}} object, and a second summary line made
    // round 9's BENCH record unparseable.
    val outPath = java.nio.file.Paths.get(sys.props.getOrElse("graft.bench.out",
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
        "bench_out.json").toString))
    for ((path, text) <- Seq(outPath -> line,
        outPath.resolveSibling("bench_layers.json") -> sidecar.json)) {
      try java.nio.file.Files.write(path, text.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: $e")
      }
    }
    println(line)
    spark.stop()
  }

  /** Times `selected` on `spark` against `sfDir`; returns the stdout
    * JSON line and the per-key [[Sidecar]].
    */
  def run(spark: SparkSession, sfDir: String,
      selected: Map[String, QFn]): (String, Sidecar) = {
    val tally = new StreamTally
    spark.streams.addListener(tally)
    try timeAll(spark, sfDir, selected, tally)
    finally spark.streams.removeListener(tally)
  }

  private def timeAll(spark: SparkSession, sfDir: String,
      selected: Map[String, QFn], tally: StreamTally): (String, Sidecar) = {
    // warmup: JIT + codegen, so the first timed query isn't charged for
    // session startup. It reads sf0.001, so it loads none of the timed
    // run's tables unless sfDir is sf0.001 too.
    val entryRows: Either[String, Long] =
      try Right(SparkEntry.entry(spark).count()) catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up SparkEntry.entry failed: $e")
        Left(e.toString)
      }
    val layers = Seq.newBuilder[(String, Layers)]
    def timed(name: String, fn: QFn): (String, Double) = {
      tally.begin(name)
      var built = -1L
      val t0 = System.nanoTime()
      val error =
        try {
          val df = fn(spark, sfDir)
          built = System.nanoTime()
          df.count()
          None
        } catch { case e: Throwable =>
          // stderr only — stdout must stay exactly one JSON line. The
          // recorded duration is time-to-failure, so the key is also named
          // in the JSON's "failed" list: a crash must not read as a fast key
          System.err.println(s"[bench] $name failed: $e")
          Some(e.toString)
        }
      val t1 = System.nanoTime()
      if (built < 0) built = t1
      // outside the timed region: the key's streaming numbers are complete
      val (complete, batches, durationMs) = tally.end(name)
      if (!complete)
        System.err.println(s"[bench] $name: a streaming run did not terminate")
      layers += name -> Layers((built - t0) / 1e9, (t1 - built) / 1e9,
        batches, durationMs, !complete, error)
      name -> (t1 - t0) / 1e9
    }
    // the b_ scale PROBES run LAST: the 64× octaves are ~300 s of wall by
    // design (growth IS the measurement), and interleaving them with the
    // q_ queries let their contention pollute per-query timings in the
    // driver's contended passes (r16 adjudication cost) — probes at the
    // tail can't touch any q_ number
    val (probes, queries) =
      selected.partition { case (n, _) => n.startsWith("b_") }
    val queryResults = queries.map { case (n, f) => timed(n, f) }
    // after every q_ number is banked
    val probeResults = probes.map { case (n, f) => timed(n, f) }
    val results = queryResults ++ probeResults
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the headline total counts only the oracle-checked q_ queries; the
    // b_ bench-only entries report per-query but don't shift the bar —
    // and carry their own total so the two pools are separable at a
    // glance (the probe pool is dominated by the deliberate 64× octaves)
    // every non-probe key must be an oracle-checked q_ entry: a future
    // third prefix slipping into the registry would otherwise silently
    // inflate the headline instead of being excluded
    require(queryResults.keys.forall(_.startsWith("q_")),
      s"non-q_ keys in the headline pool: " +
        queryResults.keys.filterNot(_.startsWith("q_")).mkString(","))
    val total = queryResults.values.sum
    val probeTotal = probeResults.values.sum
    val timedLayers = layers.result()
    val failedJson = timedLayers.collect { case (k, l) if l.error.nonEmpty =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    // self-describing provenance: the actual master/parallelism this run
    // used (past rounds had to adjudicate whether a number came from
    // local[8]-under-contention or the host's 32 cpus)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","total_queries":$total,"total_probes":$probeTotal,"queries":$qs,"failed":$failedJson,"sf":"$sfDir","master":"${spark.sparkContext.master}","parallelism":${spark.sparkContext.defaultParallelism},"stream_threads":1}"""
    (line, Sidecar(entryRows, timedLayers))
  }
}
