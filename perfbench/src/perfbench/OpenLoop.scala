package perfbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.streaming.SessionWindows

/** One generated event: `ts` is its scheduled creation time. */
final case class OpenEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    value: Double)

/** Open-loop stream: events are created at a fixed rate whatever the engine
  * does, stamped with their scheduled creation time, and pushed through
  * `SessionWindows.annotate` (transformWithState on the RocksDB state
  * store). Each emitted row is stamped with the time of the
  * `foreachBatch` call that emits it; against the scheduled creation
  * times that gives the latency (metrics.py), so a backlog shows as
  * latency instead of as a slower generator.
  *
  * The run: `warmS` seconds of load, then the measured window of
  * `seconds` (`halfway` is called at its midpoint), then `CoolS` more
  * seconds of load so the window's last sessions close as they would in
  * a running stream. Then the generator stops, the backlog drains (the
  * source lag at end), and a far-future sentinel closes every open
  * session so the end state is complete for the batch recomputation.
  */
object OpenLoop {
  val TickMs = 50L
  val CoolS = 2.0
  final case class Result(created: Long, emitted: Long, measureStartMs: Long,
      halfMs: Long, endMs: Long, doneMs: Long, lagEndS: Double, sinkMs: Double,
      sinkCalls: Long, codegenCompiles: Long, codegenNs: Long, measureCpuS: Double) {
    def json: String =
      s"""{"created":$created,"emitted":$emitted,"measure_start_ms":$measureStartMs,""" +
        s""""half_ms":$halfMs,"end_ms":$endMs,"lag_end_s":$lagEndS,""" +
        s""""sink_ms":$sinkMs,"sink_calls":$sinkCalls,"measure_cpu_s":$measureCpuS}"""
  }

  def run(spark: SparkSession, schedulePath: String, rate: Double,
      gapMs: Long, watermarkMs: Long, warmS: Double, seconds: Double, out: Path,
      halfway: () => Unit): Result = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (user_id, value) per event index, generated from the run's seed
    val schedule = spark.read.parquet(schedulePath).orderBy("event_id")
      .select("user_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))

    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // a fixed partition count: one partition per addData call would turn
    // every generator tick into a task
    val input = MemoryStream[OpenEvent](spark.sparkContext.defaultParallelism)
    val annotated = SessionWindows.annotate(
      input.toDS().toDF().withWatermark("ts", s"$watermarkMs milliseconds"),
      Seq("user_id"), "ts", s"$gapMs milliseconds")
    val emitted = new ConcurrentLinkedQueue[Row]()
    val sinkNs = new java.util.concurrent.atomic.AtomicLong()
    val sinkCalls = new java.util.concurrent.atomic.AtomicLong()
    val sink: (DataFrame, Long) => Unit = (df, _) => {
      val t0 = System.nanoTime()
      val rows = df.filter(col("user_id") >= 0)
        .select("event_id", "user_id", "ts", "window_start", "window_end").collect()
      val at = System.currentTimeMillis()
      rows.foreach(r => emitted.add(Row(r.getLong(0), r.getLong(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getTimestamp(4), at)))
      sinkNs.addAndGet(System.nanoTime() - t0)
      sinkCalls.incrementAndGet()
    }
    val ckpt = out.resolve("open-checkpoint").toString
    val (cc0, cn0) = Harness.codegenNow()
    // the query thread inherits the op id, so a traced run's jobs carry it
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, "1")
    val q = annotated.writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt).start()
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)

    // the generator: every tick, add every event whose creation time has come
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val usPerEvent = 1e6 / rate
    def stamp(i: Int) = {
      val us = t0Ms * 1000L + math.round(i * usPerEvent)
      val t = new java.sql.Timestamp(us / 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }
    var sent = 0
    var half = false
    val measureStart = t0Ms + (warmS * 1000).toLong
    val stopAt = warmS + seconds + CoolS
    var halfMs = 0L
    var endMs = 0L
    var measureCpuS = 0.0
    var cpuAtStart = -1.0
    while ((System.nanoTime() - t0) / 1e9 < stopAt && sent < schedule.length) {
      val elapsed = (System.nanoTime() - t0) / 1e9
      val due = math.min(schedule.length, (elapsed * rate).toInt + 1)
      if (due > sent) {
        input.addData((sent until due).map { i =>
          OpenEvent(i.toLong, schedule(i)._1, stamp(i), schedule(i)._2)
        })
        sent = due
      }
      if (cpuAtStart < 0 && elapsed >= warmS) cpuAtStart = Host.cpuS()
      if (endMs == 0L && elapsed >= warmS + seconds) {
        endMs = System.currentTimeMillis()
        measureCpuS = Host.cpuS() - cpuAtStart
      }
      if (!half && elapsed >= warmS + seconds / 2) {
        half = true
        halfMs = System.currentTimeMillis()
        halfway()
      }
      Thread.sleep(TickMs)
    }
    val drain0 = System.nanoTime()
    q.processAllAvailable()
    val lagEndS = (System.nanoTime() - drain0) / 1e9
    val (cc1, cn1) = Harness.codegenNow()
    input.addData(Seq(OpenEvent(-1L, -1L, stamp(sent + (3600 * rate).toInt), 0.0)))
    q.processAllAvailable()
    q.stop()
    val doneMs = System.currentTimeMillis()
    spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    import org.apache.spark.sql.types._
    val emittedSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("window_start", TimestampType),
      StructField("window_end", TimestampType), StructField("emit_ms", LongType)))
    spark.createDataFrame(new java.util.ArrayList[Row](emitted), emittedSchema)
      .coalesce(1).write.mode("overwrite").parquet(out.resolve("open_emitted").toString)
    (0 until sent).map(i => OpenEvent(i.toLong, schedule(i)._1, stamp(i), schedule(i)._2))
      .toDF().coalesce(1).write.mode("overwrite").parquet(out.resolve("open_events").toString)
    Result(sent, emitted.size, measureStart, halfMs, endMs, doneMs, lagEndS,
      sinkNs.get / 1e6, sinkCalls.get, cc1 - cc0, cn1 - cn0, measureCpuS)
  }
}
