package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Structured-Streaming built-in coverage — the reference operators that
  * map directly onto Spark primitives (SURVEY.md §2.5, §2.3, §2.7):
  * watermarked tumbling window agg (StreamExecWindowAggregate), session
  * windows (SessionWindowAssigner), stream-stream interval join
  * (StreamExecIntervalJoin), watermark-bounded dedup
  * (RowTimeDeduplicateFunction), and the streaming temporal join processor.
  */
class BuiltinStreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(sec: Long): Timestamp = new Timestamp(sec * 1000L)

  test("watermarked tumbling window agg finalizes closed windows (append)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val agg = input.toDS().toDF("ts", "key", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "60 seconds"), $"key")
      .agg(sum($"v").as("sum_v"), count(lit(1)).as("n"))
      .select($"window.start".cast("long").as("wstart"), $"key", $"sum_v", $"n")
    val name = s"win_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq((ts(10), "a", 1L), (ts(20), "a", 2L), (ts(30), "b", 5L)))
      q.processAllAvailable()
      // nothing final yet: watermark (max 30 - 10 = 20) < window end 60
      assert(spark.table(name).count() == 0)
      // advance event time past window end + delay → [0,60) finalizes
      input.addData(Seq((ts(75), "a", 9L)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, String, Long, Long)].collect().toSet
      assert(rows == Set((0L, "a", 3L, 2L), (0L, "b", 5L, 1L)))
      // late row for the closed window is dropped (no re-fire; the
      // documented delta vs the reference's allowedLateness)
      input.addData(Seq((ts(5), "a", 100L), (ts(200), "a", 1L)))
      q.processAllAvailable()
      val after = spark.table(name).as[(Long, String, Long, Long)].collect().toSet
      assert(after.count(_._1 == 0L) == 2) // unchanged
    } finally q.stop()
  }

  test("session window merges rows within gap (session_window)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val agg = input.toDS().toDF("ts", "key", "v")
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window($"ts", "30 seconds"), $"key")
      .agg(count(lit(1)).as("n"))
      .select($"session_window.start".cast("long").as("s"),
        $"session_window.end".cast("long").as("e"), $"key", $"n")
    val name = s"sess_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      // 10,25 merge (gap<30); 100 is a new session; 300 closes them
      input.addData(Seq((ts(10), "a", 1L), (ts(25), "a", 1L), (ts(100), "a", 1L)))
      q.processAllAvailable()
      input.addData(Seq((ts(300), "a", 1L)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, String, Long)].collect().toSet
      assert(rows == Set((10L, 55L, "a", 2L), (100L, 130L, "a", 1L)))
    } finally q.stop()
  }

  test("hopping window agg finalizes overlapping windows (append)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val agg = input.toDS().toDF("ts", "v")
      .withWatermark("ts", "5 seconds")
      .groupBy(window($"ts", "60 seconds", "30 seconds"))
      .agg(sum($"v").as("s"))
      .select($"window.start".cast("long").as("ws"), $"s")
    val name = s"hop_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq((ts(40), 7L))) // in windows [0,60) and [30,90)
      q.processAllAvailable()
      input.addData(Seq((ts(200), 1L))) // advance watermark past both
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long)].collect().toSet
      assert(rows == Set((0L, 7L), (30L, 7L)))
    } finally q.stop()
  }

  test("cumulate window agg (slice-end explode) works in streaming") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    // max window 60s, step 20s: row at t belongs to slices ending after t
    val base = window($"ts", "60 seconds").getField("start")
    val agg = input.toDS().toDF("ts", "v")
      .withWatermark("ts", "5 seconds")
      .withColumn("ws", base)
      .withColumn("we", explode(sequence(
        col("ws") + expr("INTERVAL 20 seconds"),
        col("ws") + expr("INTERVAL 60 seconds"),
        expr("INTERVAL 20 seconds"))))
      .filter($"we" > $"ts")
      .groupBy($"ws", $"we")
      .agg(sum($"v").as("s"))
      .select($"ws".cast("long").as("ws"), $"we".cast("long").as("we"), $"s")
    val name = s"cum_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq((ts(10), 3L), (ts(30), 4L)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Long)].collect().toSet
      // t=10 in slices ending 20/40/60; t=30 in slices ending 40/60
      assert(rows == Set((0L, 20L, 3L), (0L, 40L, 7L), (0L, 60L, 7L)))
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks") {
    implicit val sqlCtx = spark.sqlContext
    val orders = MemoryStream[(Timestamp, Long)]
    val pays = MemoryStream[(Timestamp, Long)]
    val left = orders.toDS().toDF("o_ts", "o_id").withWatermark("o_ts", "5 seconds")
    val right = pays.toDS().toDF("p_ts", "p_id").withWatermark("p_ts", "5 seconds")
    val joined = left.join(right,
      expr("p_id = o_id AND p_ts BETWEEN o_ts AND o_ts + INTERVAL 60 seconds"))
      .select($"o_id", $"o_ts".cast("long").as("ot"), $"p_ts".cast("long").as("pt"))
    val name = s"ij_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      orders.addData(Seq((ts(10), 1L), (ts(20), 2L)))
      pays.addData(Seq((ts(40), 1L), (ts(200), 2L))) // 2: outside interval
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((1L, 10L, 40L)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups keys (RowTimeDeduplicate)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val dedup = input.toDS().toDF("ts", "k")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .select($"k")
    val name = s"dd_${System.nanoTime()}"
    val q = dedup.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq((ts(10), "a"), (ts(11), "a"), (ts(12), "b")))
      q.processAllAvailable()
      input.addData(Seq((ts(13), "a"))) // still duplicate within watermark
      q.processAllAvailable()
      val rows = spark.table(name).as[String].collect().toSeq
      assert(rows.sorted == Seq("a", "b"))
    } finally q.stop()
  }

  test("streaming temporal join resolves probes at the watermark, out of order") {
    implicit val sqlCtx = spark.sqlContext
    // one interleaved stream of (key, ts, isProbe, probeId, value),
    // split into the two sides of the DataFrame front door
    val input = MemoryStream[(String, Timestamp, Boolean, Long, Long)]
    val events = input.toDS().toDF("k", "ts", "isProbe", "probeId", "value")
    val out = TemporalJoin.asOfStream(
      events.filter($"isProbe").select($"k", $"ts", $"probeId"),
      events.filter(!$"isProbe")
        .select($"k", $"ts", unix_millis($"ts").as("vms"), $"value"),
      Seq("k"), "ts", Seq("vms", "value"), watermarkDelay = "0 milliseconds")
    val name = s"tj_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    def probe(sec: Long, id: Long) = ("A", ts(sec), true, id, 0L)
    def version(sec: Long, v: Long) = ("A", ts(sec), false, 0L, v)
    try {
      // batch 1: the PROBE at 150 arrives BEFORE the version at 100 —
      // watermark buffering must still match them (TemporalRowTimeJoin
      // semantics, impossible with process-as-it-arrives)
      input.addData(Seq(
        probe(1, 2L), // no version yet
        probe(150, 1L),
        version(100, 10L),
        version(200, 20L)))
      q.processAllAvailable()
      // batch 2: late probe (behind watermark 200) is dropped; probe at
      // 500 resolves against version 200 once the sentinel advances wm
      input.addData(Seq(probe(50, 9L), probe(500, 3L)))
      q.processAllAvailable()
      input.addData(Seq(version(9000, 99L)))
      q.processAllAvailable()
      input.addData(Seq(probe(20000, 8L)))
      q.processAllAvailable()
      // (version ts, value, matched); an unmatched probe null-pads
      val rows = spark.table(name).collect().map { r =>
        val matched = !r.isNullAt(r.fieldIndex("r_value"))
        r.getAs[Long]("probeId") -> (if (matched)
          (r.getAs[Long]("r_vms"), r.getAs[Long]("r_value"), true)
          else (-1L, -1L, false))
      }.toMap
      assert(rows(1L) == ((100000L, 10L, true)))  // version@100s current at 150s
      assert(rows(2L) == ((-1L, -1L, false)))     // probe before any version
      assert(rows(3L) == ((200000L, 20L, true)))  // resolved after wm passed 500s
      assert(!rows.contains(9L))               // late probe dropped
    } finally q.stop()
  }

  test("temporal advance: GC keeps only the current version at the watermark") {
    val versions = Seq((100L, 10L), (200L, 20L), (300L, 30L), (400L, 40L))
    // probes are (ts, probeId)
    val (out, remaining, evict) = TemporalJoin.advance(
      Seq((250L, 1L), (350L, 2L), (999L, 3L)), versions, wm = 350L)
    // probes ≤ wm resolve in order; the 999 probe stays buffered
    assert(out.map { case (_, pid, v) => (pid, v) } ==
      Seq((1L, Some((200L, 20L))), (2L, Some((300L, 30L)))))
    assert(remaining == Seq((999L, 3L)))
    // versions 100 and 200 are superseded by 300 at wm=350; 300 stays
    // current, 400 is still future
    assert(evict == Seq(100L, 200L))
  }

  test("temporal advance: nothing evicted before the second version matures") {
    val (_, _, evict) = TemporalJoin.advance(
      Seq.empty[(Long, Long)], Seq((100L, 1L), (200L, 2L)), wm = 150L)
    assert(evict.isEmpty) // 100 is still the current version at wm=150
  }

}
