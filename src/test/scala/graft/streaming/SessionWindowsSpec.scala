package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.{GraftSql, SparkSuite}

/** Streaming per-row SESSION annotation: the close/retain core, parity
  * with the batch analytic expansion, out-of-order merging within the
  * watermark, late-row drops, and the WindowTvf streaming route for the
  * non-aggregate shape (previously a loud error).
  */
class SessionWindowsSpec extends SparkSuite {
  import spark.implicits._

  private val H = 3600L * 1000
  // base offset: Spark's initial watermark is epoch 0, and a row AT the
  // watermark is late by contract — epoch-0 test data would drop
  private def t(ms: Long) = new Timestamp(240 * H + ms)

  test("closedSessions: gap runs close only when the watermark passes end+gap") {
    // runs: [0, 10], [100], [200, 205]; gap 20
    val ts = IndexedSeq(0L, 10L, 100L, 200L, 205L)
    // wm 10+20=30: first run closes, rest retained
    assert(SessionWindows.closedSessions(ts, 20L, 30L) == (Seq((0, 2)), 2))
    // wm 29: first run NOT closed yet
    assert(SessionWindows.closedSessions(ts, 20L, 29L) == (Nil, 0))
    // wm 120: first two runs close
    assert(SessionWindows.closedSessions(ts, 20L, 120L) == (Seq((0, 2), (2, 3)), 3))
    // wm far future: everything closes
    assert(SessionWindows.closedSessions(ts, 20L, 1000L) ==
      (Seq((0, 2), (2, 3), (3, 5)), 5))
    assert(SessionWindows.closedSessions(IndexedSeq.empty, 20L, 0L) == (Nil, 0))
  }

  test("mergeRuns: fresh timestamps extend, bridge, and open runs") {
    val rs = IndexedSeq((0L, 10L), (100L, 120L))
    // inside an existing run: no change
    assert(SessionWindows.mergeRuns(rs, IndexedSeq(5L), 20L) == rs)
    // extends the first run forward (10 → 25)
    assert(SessionWindows.mergeRuns(rs, IndexedSeq(25L), 20L) ==
      IndexedSeq((0L, 25L), (100L, 120L)))
    // extends the second run backward (100 → 85)
    assert(SessionWindows.mergeRuns(rs, IndexedSeq(85L), 20L) ==
      IndexedSeq((0L, 10L), (85L, 120L)))
    // bridges the two runs into one (every step ≤ gap)
    assert(SessionWindows.mergeRuns(rs, IndexedSeq(30L, 50L, 70L, 90L), 20L) ==
      IndexedSeq((0L, 120L)))
    // out of reach of both: opens a third run
    assert(SessionWindows.mergeRuns(rs, IndexedSeq(200L), 20L) ==
      IndexedSeq((0L, 10L), (100L, 120L), (200L, 200L)))
    // empty starting set
    assert(SessionWindows.mergeRuns(IndexedSeq.empty, IndexedSeq(1L, 5L, 50L), 20L) ==
      IndexedSeq((1L, 5L), (50L, 50L)))
    // model check vs closedSessions' gap-split over the union
    val r = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val base = IndexedSeq.fill(r.nextInt(30))(r.nextLong(1000L)).sorted.distinct
      val fresh = IndexedSeq.fill(r.nextInt(10))(r.nextLong(1000L)).sorted
      val gap = 1L + r.nextInt(100)
      val runs0 = SessionWindows.mergeRuns(IndexedSeq.empty, base, gap)
      val got = SessionWindows.mergeRuns(runs0, fresh, gap)
      val all = (base ++ fresh).sorted.distinct
      val want = SessionWindows.closedSessions(all, gap, Long.MaxValue)._1
        .map { case (a, b) => (all(a), all(b - 1)) }
      assert(got == want, s"base=$base fresh=$fresh gap=$gap")
    }
  }

  private def runAnnotate(batches: Seq[Seq[(String, Timestamp, Long)]],
      delay: String): Seq[(String, Long, Timestamp, Timestamp, Timestamp)] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    val df = input.toDS().toDF("user_id", "ts", "v")
      .withWatermark("ts", delay)
    val annotated = SessionWindows.annotate(df, Seq("user_id"), "ts", "1 hour")
    assert(annotated.isStreaming)
    val name = s"sw_${System.nanoTime()}"
    val q = annotated.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name)
        .as[(String, Timestamp, Long, Timestamp, Timestamp, Timestamp)]
        .collect().toSeq.map { case (u, _, v, ws, we, wt) => (u, v, ws, we, wt) }
    } finally q.stop()
  }

  private val seedData = Seq(
    ("u1", t(0), 1L), ("u1", t(30 * 60 * 1000), 2L),
    ("u1", t(3 * H), 4L), ("u2", t(H), 8L))

  test("streaming annotation matches the batch analytic expansion") {
    val flush = Seq(("uF", t(100 * H), 0L), ("uF", t(200 * H), 0L))
    val out = runAnnotate(Seq(seedData.take(2), seedData.drop(2)) ++
      flush.map(Seq(_)), delay = "0 seconds")
      .filter(_._1 != "uF").toSet
    // batch oracle: the analytic expansion over the same rows
    seedData.toDF("user_id", "ts", "v").createOrReplaceTempView("sw_batch")
    val expected = GraftSql.sql(spark,
      """SELECT user_id, v, window_start, window_end, window_time
        |FROM TABLE(SESSION(TABLE sw_batch PARTITION BY user_id,
        |  DESCRIPTOR(ts), INTERVAL '1' HOUR))""".stripMargin)
      .as[(String, Long, Timestamp, Timestamp, Timestamp)].collect().toSet
    assert(out == expected, s"stream $out vs batch $expected")
  }

  test("out-of-order rows within the watermark merge into their session") {
    val out = runAnnotate(Seq(
      Seq(("u1", t(50 * 60 * 1000), 1L)),
      Seq(("u1", t(20 * 60 * 1000), 2L)), // 30min EARLIER than batch 1
      Seq(("uF", t(100 * H), 0L)),
      Seq(("uF", t(200 * H), 0L))), delay = "2 hours")
      .filter(_._1 != "uF")
    // one merged session [20min, 50min+1h)
    val ws = t(20 * 60 * 1000)
    val we = t(50 * 60 * 1000 + H)
    assert(out.toSet == Set(
      ("u1", 1L, ws, we, new Timestamp(we.getTime - 1)),
      ("u1", 2L, ws, we, new Timestamp(we.getTime - 1))), s"got $out")
  }

  test("rows at or behind the watermark drop as late") {
    val out = runAnnotate(Seq(
      Seq(("u1", t(10 * H), 1L)),
      Seq(("u1", t(H), 9L)), // behind wm = 10H with 0s delay → dropped
      Seq(("uF", t(100 * H), 0L)),
      Seq(("uF", t(200 * H), 0L))), delay = "0 seconds")
      .filter(_._1 != "uF")
    assert(out == Seq(("u1", 1L, t(10 * H), t(11 * H), t(11 * H - 1))),
      s"got $out")
  }

  test("non-TIMESTAMP event time fails loudly at the operator boundary") {
    // Spark's watermark rejects TIMESTAMP_NTZ event time
    // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so annotate cannot support
    // it — the guard must name the problem instead of silently casting
    // bounds through the session zone
    import java.time.LocalDateTime
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, LocalDateTime, Long)]
    val df = input.toDS().toDF("user_id", "ts", "v")
    val e = intercept[IllegalArgumentException] {
      SessionWindows.annotate(df, Seq("user_id"), "ts", "1 hour")
    }
    assert(e.getMessage.contains("must be TIMESTAMP"), e.getMessage)
  }

  test("the WindowTvf streaming route annotates the non-aggregate shape") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    input.toDS().toDF("user_id", "ts", "v")
      .withWatermark("ts", "0 seconds")
      .createOrReplaceTempView("sw_stream")
    val df = GraftSql.sql(spark,
      """SELECT user_id, v, window_start, window_end
        |FROM TABLE(SESSION(TABLE sw_stream PARTITION BY user_id,
        |  DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |WHERE user_id <> 'uF'""".stripMargin)
    assert(df.isStreaming)
    val name = s"swtvf_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(seedData)
      q.processAllAvailable()
      input.addData(Seq(("uF", t(100 * H), 0L)))
      q.processAllAvailable()
      input.addData(Seq(("uF", t(200 * H), 0L)))
      q.processAllAvailable()
      val out = spark.table(name)
        .as[(String, Long, Timestamp, Timestamp)].collect().toSet
      assert(out == Set(
        ("u1", 1L, t(0), t(30 * 60 * 1000 + H)),
        ("u1", 2L, t(0), t(30 * 60 * 1000 + H)),
        ("u1", 4L, t(3 * H), t(4 * H)),
        ("u2", 8L, t(H), t(2 * H))), s"got $out")
    } finally q.stop()
  }
}
