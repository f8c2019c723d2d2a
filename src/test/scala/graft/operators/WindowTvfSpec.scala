package graft.operators

import java.sql.Timestamp

import graft.{GraftSql, SparkSuite}

/** Window TVF front door: TABLE(TVF(…)) parsing, per-shape expansion
  * semantics, and rejection of malformed calls. The oracle queries
  * (q_tvf_*) check result parity with the DataFrame window forms; this
  * spec pins the mechanics on a controlled table.
  */
class WindowTvfSpec extends SparkSuite {
  import spark.implicits._

  private def t(ms: Long) = new Timestamp(ms)
  private val H = 3600L * 1000 // one hour in millis

  private def seed(): Unit =
    Seq(
      ("u1", t(0), 1L), ("u1", t(30 * 60 * 1000), 2L), // same hour
      ("u1", t(3 * H), 4L),                            // 2.5h gap → new session
      ("u2", t(H), 8L))
      .toDF("user_id", "ts", "v").createOrReplaceTempView("tvf_events")

  test("TUMBLE annotates each row with its bucket; aggregation downstream") {
    seed()
    val out = GraftSql.sql(spark,
      """SELECT window_start, window_end, SUM(v) AS s
        |FROM TABLE(TUMBLE(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end ORDER BY window_start""".stripMargin)
      .as[(Timestamp, Timestamp, Long)].collect().toSeq
    assert(out == Seq(
      (t(0), t(H), 3L), (t(H), t(2 * H), 8L), (t(3 * H), t(4 * H), 4L)))
  }

  test("the TVF exposes window_time = window_end - 1ms (event-time attr)") {
    seed()
    val out = GraftSql.sql(spark,
      """SELECT DISTINCT window_end, window_time
        |FROM TABLE(TUMBLE(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |ORDER BY window_end""".stripMargin)
      .as[(Timestamp, Timestamp)].collect().toSeq
    assert(out.nonEmpty &&
      out.forall { case (end, time) => time.getTime == end.getTime - 1 })
  }

  test("HOP multiplies each row into size/slide covering windows") {
    seed()
    val rows = GraftSql.sql(spark,
      """SELECT window_start, window_end, v
        |FROM TABLE(HOP(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '30' MINUTES, INTERVAL '1' HOUR))
        |WHERE v = 1 ORDER BY window_start""".stripMargin)
      .as[(Timestamp, Timestamp, Long)].collect().toSeq
    // row at epoch 0 is covered by windows starting at -30min and 0
    assert(rows == Seq(
      (t(-30 * 60 * 1000), t(30 * 60 * 1000), 1L), (t(0), t(H), 1L)))
  }

  test("CUMULATE emits growing slices from the shared start") {
    seed()
    val rows = GraftSql.sql(spark,
      """SELECT window_end, v
        |FROM TABLE(CUMULATE(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '4' HOURS))
        |WHERE v = 4 ORDER BY window_end""".stripMargin)
      .as[(Timestamp, Long)].collect().toSeq
    // v=4 sits at 3h into its 4h window: only the 4h slice still covers it
    assert(rows == Seq((t(4 * H), 4L)))
  }

  test("SESSION partitions by key and merges gap-connected rows") {
    seed()
    val out = GraftSql.sql(spark,
      """SELECT window_start AS s, window_end AS e, user_id, COUNT(*) AS n
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, user_id ORDER BY user_id, s""".stripMargin)
      .as[(Timestamp, Timestamp, String, Long)].collect().toSeq
    assert(out == Seq(
      (t(0), t(30 * 60 * 1000 + H), "u1", 2L), // 0 and 0:30 merge, end = last+gap
      (t(3 * H), t(4 * H), "u1", 1L),
      (t(H), t(2 * H), "u2", 1L)))
  }

  test("TUMBLE TVF composes with a streaming source (update-mode agg)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    input.toDS().toDF("ts", "v").createOrReplaceTempView("tvf_stream")
    val agg = GraftSql.sql(spark,
      """SELECT window_start, SUM(v) AS s
        |FROM TABLE(TUMBLE(TABLE tvf_stream, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start""".stripMargin)
    assert(agg.isStreaming)
    val name = s"tvf_stream_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq((t(0), 1L), (t(30 * 60 * 1000), 2L), (t(H), 10L)))
      q.processAllAvailable()
      val out = spark.table(name).as[(Timestamp, Long)].collect().toMap
      assert(out == Map(t(0) -> 3L, t(H) -> 10L))
    } finally q.stop()
  }

  /** Drive a TVF statement over a MemoryStream (update mode) and return
    * the final sink rows keyed by the given extractor.
    */
  private def runStreamTvf[K](sqlText: String, view: String,
      batches: Seq[Seq[(String, Timestamp, Long)]],
      mode: String = "update"): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp, Long)]
    input.toDS().toDF("user_id", "ts", "v")
      .withWatermark("ts", "0 seconds").createOrReplaceTempView(view)
    val agg = GraftSql.sql(spark, sqlText)
    assert(agg.isStreaming)
    val name = s"${view}_${System.nanoTime()}"
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode(mode).option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect().toSeq
    } finally q.stop()
  }

  private val seedData = Seq(
    ("u1", t(0), 1L), ("u1", t(30 * 60 * 1000), 2L),
    ("u1", t(3 * H), 4L), ("u2", t(H), 8L))

  test("HOP TVF composes with a streaming source") {
    val out = runStreamTvf(
      """SELECT window_start, SUM(v) AS s
        |FROM TABLE(HOP(TABLE tvf_stream_hop, DESCRIPTOR(ts), INTERVAL '30' MINUTES, INTERVAL '1' HOUR))
        |GROUP BY window_start""".stripMargin,
      "tvf_stream_hop", Seq(seedData))
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    // row@0 → starts -30m, 0; row@30m → starts 0, 30m; row@3h → 2:30, 3
    assert(out == Map(
      t(-30 * 60 * 1000) -> 1L, t(0) -> 3L, t(30 * 60 * 1000) -> 10L,
      t(H) -> 8L, t(5 * H / 2) -> 4L, t(3 * H) -> 4L))
  }

  test("CUMULATE TVF composes with a streaming source") {
    val out = runStreamTvf(
      """SELECT window_end, SUM(v) AS s
        |FROM TABLE(CUMULATE(TABLE tvf_stream_cum, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '4' HOURS))
        |GROUP BY window_end""".stripMargin,
      "tvf_stream_cum", Seq(seedData))
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    // all rows share the 4h window from 0: slices at 1h..4h cover by ts
    assert(out == Map(
      t(H) -> 3L, t(2 * H) -> 11L, t(3 * H) -> 11L, t(4 * H) -> 15L))
  }

  test("SESSION TVF routes to session_window on a streaming source") {
    val out = runStreamTvf(
      """SELECT user_id, window_start, window_end, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE tvf_stream_sess PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY user_id, window_start, window_end""".stripMargin,
      "tvf_stream_sess",
      // append mode (session windows reject update); a far-future flush
      // row advances the watermark so the seed sessions finalize
      Seq(seedData, Seq(("uF", t(100 * H), 0L))), mode = "append")
      .map(r => (r.getString(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    // matches the batch SESSION expansion on the same rows
    assert(out == Set(
      ("u1", t(0), t(30 * 60 * 1000 + H), 3L),
      ("u1", t(3 * H), t(4 * H), 4L),
      ("u2", t(H), t(2 * H), 8L)))
  }

  test("batch SESSION without a window GROUP BY falls back to row annotation") {
    seed()
    // annotation shape (no GROUP BY): every row carries its session's
    // bounds — must take the analytic path, not the session_window route
    val out = GraftSql.sql(spark,
      """SELECT user_id, v, window_start, window_end
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |ORDER BY user_id, v""".stripMargin)
      .as[(String, Long, Timestamp, Timestamp)].collect().toSeq
    assert(out == Seq(
      ("u1", 1L, t(0), t(30 * 60 * 1000 + H)),
      ("u1", 2L, t(0), t(30 * 60 * 1000 + H)),
      ("u1", 4L, t(3 * H), t(4 * H)),
      ("u2", 8L, t(H), t(2 * H))))
  }

  test("batch SESSION in window-agg shape routes to one session_window agg") {
    seed()
    val df = GraftSql.sql(spark,
      """SELECT window_start AS s, window_end AS e, user_id, COUNT(*) AS n
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, user_id""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    // the session_window route costs one session aggregate — the
    // analytic path would show two Window (lag + running-sum) operators
    assert(plan.contains("session_window") || plan.contains("SessionWindow"),
      s"expected session_window aggregate in plan:\n$plan")
    assert(!plan.contains("RunningWindowFunction") &&
      "(?i)\\bWindow\\b".r.findAllIn(plan).size <= 1,
      s"analytic window operators leaked into the routed plan:\n$plan")
  }

  test("SESSION with GROUP BY keys != PARTITION BY falls back to the analytic path") {
    seed()
    // GROUP BY omits user_id: sessions must still be computed PER USER
    // (the TVF contract) and only then aggregated globally per window —
    // a global session_window would merge u1's 0:00/0:30 rows with u2's
    // 1:00 row into one session
    val out = GraftSql.sql(spark,
      """SELECT window_start, window_end, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end ORDER BY window_start""".stripMargin)
      .as[(Timestamp, Timestamp, Long)].collect().toSeq
    // per-user sessions: u1 [0, 1.5h) sum 3, u2 [1h, 2h) sum 8, u1 [3h, 4h) sum 4
    assert(out == Seq(
      (t(0), t(30 * 60 * 1000 + H), 3L),
      (t(H), t(2 * H), 8L),
      (t(3 * H), t(4 * H), 4L)))
  }

  test("select-list FROM (EXTRACT) does not break the session_window rewrite") {
    seed()
    val out = GraftSql.sql(spark,
      """SELECT window_start, EXTRACT(HOUR FROM window_end) AS h, user_id, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, user_id ORDER BY window_start, user_id""".stripMargin)
      .as[(Timestamp, Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (t(0), 1L, "u1", 3L),     // session ends 1:30 -> hour 1
      (t(H), 2L, "u2", 8L),
      (t(3 * H), 4L, "u1", 4L)))
  }

  test("string literals in the session_window rewrite survive untouched") {
    seed()
    val out = GraftSql.sql(spark,
      """SELECT window_start, 'window_start (label' AS lbl, user_id, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, user_id ORDER BY window_start, user_id""".stripMargin)
      .as[(Timestamp, String, String, Long)].collect().toSeq
    // the literal (with its unbalanced paren) is preserved verbatim and
    // does not break the bare window_start's output alias
    assert(out.map(_._2).forall(_ == "window_start (label"))
    assert(out.map(r => (r._1, r._3, r._4)) == Seq(
      (t(0), "u1", 3L), (t(H), "u2", 8L), (t(3 * H), "u1", 4L)))
  }

  test("window-column expressions in the select list survive the session_window rewrite") {
    seed()
    // window_end - window_start is NOT a bare item: the rewrite must not
    // inject an output alias mid-expression (parse error); the bare-alias
    // form `window_start ws` must keep the user alias too
    val out = GraftSql.sql(spark,
      """SELECT window_start ws, window_end - window_start AS dur, user_id, SUM(v) AS s
        |FROM TABLE(SESSION(TABLE tvf_events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end, user_id ORDER BY ws, user_id""".stripMargin)
    val rows = out.collect().toSeq
    assert(out.columns.toSeq == Seq("ws", "dur", "user_id", "s"))
    assert(rows.map(r => (r.getAs[Timestamp]("ws"), r.getAs[String]("user_id"),
      r.getAs[Long]("s"))) == Seq(
      (t(0), "u1", 3L), (t(H), "u2", 8L), (t(3 * H), "u1", 4L)))
  }

  test("malformed calls are rejected with clear errors") {
    seed()
    assert(intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "SELECT * FROM TABLE(SESSION(TABLE tvf_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))")
    }.getMessage.contains("PARTITION BY"))
    assert(intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        "SELECT * FROM TABLE(TUMBLE(TABLE tvf_events, DESCRIPTOR(ts), '1 hour'))")
    }.getMessage.contains("INTERVAL"))
  }
}
