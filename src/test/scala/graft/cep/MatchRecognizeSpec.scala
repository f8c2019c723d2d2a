package graft.cep

import graft.SparkSuite

/** SQL MATCH_RECOGNIZE front door over the shared NFA — clause shapes
  * mirroring the reference's MatchRecognizeITCase (flink-table-planner).
  */
class MatchRecognizeSpec extends SparkSuite {
  import spark.implicits._

  // (user, seq, type, amount)
  private def events = Seq(
    ("u1", 1L, "click", 10.0),
    ("u1", 2L, "click", 20.0),
    ("u1", 3L, "buy", 100.0),
    ("u1", 4L, "click", 5.0),
    ("u1", 5L, "error", 0.0),
    ("u2", 1L, "buy", 50.0),
    ("u2", 2L, "error", 0.0),
    ("u2", 3L, "buy", 60.0)
  ).toDF("user_id", "seq", "event_type", "amount")

  test("two-stage adjacency: buy immediately followed by error") {
    val out = MatchRecognize(events,
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY seq
        |  MEASURES A.seq AS buy_seq, B.seq AS err_seq
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  DEFINE A AS A.event_type = 'buy', B AS B.event_type = 'error'
        |)""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    // u1's buy@3 is followed by click@4, not error → strict adjacency
    // rejects it; only u2's buy@1/error@2 pair matches
    assert(out == Set(("u2", 1L, 2L)))
  }

  test("greedy plus-quantifier run with COUNT and SUM measures") {
    val out = MatchRecognize(events,
      """PARTITION BY user_id
        |ORDER BY seq
        |MEASURES FIRST(A.seq) AS first_click, COUNT(A.*) AS n_clicks,
        |         SUM(A.amount) AS spent, B.seq AS buy_seq
        |PATTERN (A+ B)
        |DEFINE A AS event_type = 'click', B AS event_type = 'buy'""".stripMargin)
      .as[(String, Long, Long, Double, Long)].collect().toSet
    assert(out == Set(("u1", 1L, 2L, 30.0, 3L)))
  }

  test("optional and bounded quantifiers parse and match") {
    val out = MatchRecognize(events,
      """PARTITION BY user_id
        |ORDER BY seq
        |MEASURES A.seq AS buy_seq, COUNT(B.*) AS n_err
        |PATTERN (A B?)
        |DEFINE A AS event_type = 'buy', B AS event_type = 'error'""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    // greedy B?: u1 buy@3 has click@4 next → 0 errors; u2 buy@1 error@2 → 1
    assert(out == Set(("u1", 3L, 0L), ("u2", 1L, 1L), ("u2", 3L, 0L)))
  }

  test("WITHIN bounds first-to-last event time") {
    val ts = Seq(
      ("k", 1000000L, "buy"), ("k", 2000000L, "error"), // 1s apart → in
      ("k", 10000000L, "buy"), ("k", 20000000L, "error") // 10s apart → out
    ).toDF("k", "ts", "event_type")
    val out = MatchRecognize(ts,
      """PARTITION BY k
        |ORDER BY ts
        |MEASURES A.ts AS buy_ts
        |PATTERN (A B)
        |WITHIN INTERVAL '5' SECOND
        |DEFINE A AS event_type = 'buy', B AS event_type = 'error'""".stripMargin)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("k", 1000000L)))
  }

  test("undefined pattern variable matches any row (SQL default)") {
    val out = MatchRecognize(events,
      """PARTITION BY user_id
        |ORDER BY seq
        |MEASURES A.seq AS buy_seq, X.event_type AS next_type
        |PATTERN (A X)
        |DEFINE A AS event_type = 'buy'""".stripMargin)
      .as[(String, Long, String)].collect().toSet
    assert(out == Set(("u1", 3L, "click"), ("u2", 1L, "error")))
  }

  /** The (user, seq) rows a one-variable pattern matches under `define`. */
  private def matching(define: String,
      df: org.apache.spark.sql.DataFrame = events): Set[(String, Long)] =
    MatchRecognize(df,
      s"""PARTITION BY user_id
        |ORDER BY seq
        |MEASURES A.seq AS s
        |PATTERN (A)
        |DEFINE A AS $define""".stripMargin)
      .as[(String, Long)].collect().toSet

  test("arithmetic and boolean operators in DEFINE") {
    assert(matching("amount * 2 >= 40 AND (event_type = 'click' OR event_type = 'buy')") ==
      Set(("u1", 2L), ("u1", 3L), ("u2", 1L), ("u2", 3L)))
    // DEFINE is a Spark SQL predicate: IN, CASE, LIKE and built-ins
    assert(matching("A.event_type IN ('click', 'buy')") ==
      Set(("u1", 1L), ("u1", 2L), ("u1", 3L), ("u1", 4L), ("u2", 1L), ("u2", 3L)))
    assert(matching(
      "CASE WHEN event_type = 'buy' THEN amount > 55 ELSE amount >= 20 END") ==
      Set(("u1", 2L), ("u1", 3L), ("u2", 3L)))
    assert(matching("event_type LIKE 'er%'") == Set(("u1", 5L), ("u2", 2L)))
    assert(matching("length(event_type) > 3") ==
      Set(("u1", 1L), ("u1", 2L), ("u1", 4L), ("u1", 5L), ("u2", 2L)))
  }

  test("DEFINE follows SQL three-valued logic over NULL") {
    val df = Seq(("k", 1L, 5L, Option.empty[Long]), ("k", 2L, -5L, Option.empty[Long]))
      .toDF("user_id", "seq", "x", "y")
    // seq 1: TRUE OR NULL = TRUE, NOT (FALSE AND NULL) = TRUE → match;
    // seq 2: FALSE OR NULL and NOT (TRUE AND NULL) are NULL → no match
    assert(matching("x > 0 OR y = 1", df) == Set(("k", 1L)))
    assert(matching("NOT (x < 0 AND y = 1)", df) == Set(("k", 1L)))
  }

  test("PREV navigation in DEFINE: the canonical falling-price pattern") {
    val prices = Seq(
      ("s", 1L, 10.0), ("s", 2L, 8.0), ("s", 3L, 6.0), // falling run
      ("s", 4L, 9.0),                                   // rebound
      ("s", 5L, 7.0), ("s", 6L, 5.0)                    // second fall
    ).toDF("sym", "seq", "price")
    val out = MatchRecognize(prices,
      """PARTITION BY sym
        |ORDER BY seq
        |MEASURES FIRST(D.seq) AS start_seq, LAST(D.seq) AS end_seq,
        |         COUNT(D.*) AS n_down
        |PATTERN (D+)
        |DEFINE D AS price < PREV(price)""".stripMargin)
      .as[(String, Long, Long, Long)].collect().toSet
    // rows 2,3 fall (PREV exists and is greater); row 5,6 fall again
    assert(out == Set(("s", 2L, 3L, 2L), ("s", 5L, 6L, 2L)))
  }

  test("NEXT navigation and helper columns stay internal under ALL ROWS") {
    val df = Seq(("k", 1L, 5.0), ("k", 2L, 9.0), ("k", 3L, 1.0))
      .toDF("k", "seq", "v")
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES CLASSIFIER() AS c
        |ALL ROWS PER MATCH
        |PATTERN (A)
        |DEFINE A AS v < NEXT(v)""".stripMargin)
    // the internal DEFINE columns must not leak into the output schema
    assert(out.columns.toSeq == Seq("k", "seq", "v", "c"))
    assert(!out.columns.exists(_.startsWith("__")))
    assert(out.select($"seq").as[Long].collect().toSet == Set(1L)) // 5<9 only
  }

  test("ALL ROWS PER MATCH emits every consumed row with running measures") {
    val df = Seq(
      ("k", 1L, "click", 10.0), ("k", 2L, "click", 20.0), ("k", 3L, "buy", 100.0)
    ).toDF("user_id", "seq", "event_type", "amount")
    val out = MatchRecognize(df,
      """PARTITION BY user_id
        |ORDER BY seq
        |MEASURES CLASSIFIER() AS var_name, MATCH_NUMBER() AS mno,
        |         COUNT(A.*) AS n_so_far, SUM(A.amount) AS amt_so_far
        |ALL ROWS PER MATCH
        |PATTERN (A+ B)
        |DEFINE A AS event_type = 'click', B AS event_type = 'buy'""".stripMargin)
    // output schema = all input columns + measures
    assert(out.columns.toSeq ==
      Seq("user_id", "seq", "event_type", "amount", "var_name", "mno", "n_so_far", "amt_so_far"))
    val rows = out
      .select($"seq", $"var_name", $"mno", $"n_so_far", $"amt_so_far")
      .as[(Long, String, Long, Long, Double)].collect().sortBy(_._1)
    // running semantics: per-row classifier and prefix aggregates
    assert(rows.toSeq == Seq(
      (1L, "A", 1L, 1L, 10.0),
      (2L, "A", 1L, 2L, 30.0),
      (3L, "B", 1L, 2L, 30.0)))
  }

  test("CLASSIFIER and MATCH_NUMBER under ONE ROW PER MATCH") {
    val df = Seq(
      ("k", 1L, "a"), ("k", 2L, "a"), ("k", 3L, "a"), ("k", 4L, "a")
    ).toDF("k", "seq", "t")
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES CLASSIFIER() AS v, MATCH_NUMBER() AS n, FIRST(A.seq) AS s
        |PATTERN (A{2})
        |DEFINE A AS t = 'a'""".stripMargin)
      .as[(String, String, Long, Long)].collect().toSet
    assert(out == Set(("k", "A", 1L, 1L), ("k", "A", 2L, 3L)))
  }

  test("streaming MATCH_RECOGNIZE completes matches across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val out = MatchRecognize.streaming(
      input.toDS().toDF("user_id", "seq", "event_type"),
      """PARTITION BY user_id
        |ORDER BY seq
        |MEASURES A.seq AS buy_seq, B.seq AS err_seq
        |PATTERN (A B)
        |DEFINE A AS event_type = 'buy', B AS event_type = 'error'""".stripMargin,
      maxBufferPerKey = Some(100))
    val name = s"mr_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq(("u1", 1L, "buy")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // waiting for the adjacent error
      input.addData(Seq(("u1", 2L, "error"), ("u2", 1L, "click")))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Long)].collect().toSet
      assert(rows == Set(("u1", 1L, 2L)))
      // buffer trimmed: a lone error does not re-match
      input.addData(Seq(("u1", 3L, "error")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE honors SKIP TO NEXT ROW (overlaps, no re-emit)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    val out = MatchRecognize.streaming(
      input.toDS().toDF("k", "seq", "t"),
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(A.seq) AS e
        |AFTER MATCH SKIP TO NEXT ROW
        |PATTERN (A{2})
        |DEFINE A AS t = 'a'""".stripMargin,
      maxBufferPerKey = Some(100))
    val name = s"mrskip_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq(("k", 1L, "a")))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0)
      input.addData(Seq(("k", 2L, "a")))
      q.processAllAvailable()
      assert(spark.table(name).as[(String, Long, Long)].collect().toSet ==
        Set(("k", 1L, 2L)))
      // overlapping second match emits; the first is NOT re-emitted even
      // though its anchor is still in the buffer
      input.addData(Seq(("k", 3L, "a")))
      q.processAllAvailable()
      assert(spark.table(name).as[(String, Long, Long)].collect().toSet ==
        Set(("k", 1L, 2L), ("k", 2L, 3L)))
    } finally q.stop()
  }

  test("streaming MATCH_RECOGNIZE requires a state bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, String)]
    intercept[IllegalArgumentException] {
      MatchRecognize.streaming(
        input.toDS().toDF("user_id", "seq", "event_type"),
        """PARTITION BY user_id
          |ORDER BY seq
          |MEASURES A.seq AS s
          |PATTERN (A)
          |DEFINE A AS event_type = 'buy'""".stripMargin)
    }
  }

  test("skip past last row: non-overlapping matches") {
    val df = Seq(
      ("k", 1L, "a"), ("k", 2L, "a"), ("k", 3L, "a"), ("k", 4L, "a")
    ).toDF("k", "seq", "t")
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(A.seq) AS e
        |PATTERN (A{2})
        |DEFINE A AS t = 'a'""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("k", 1L, 2L), ("k", 3L, 4L)))
  }

  test("SUM measure over a decimal column stays exact decimal") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.DecimalType
    val df = Seq(
      ("k", 1L, "a", "10.25"), ("k", 2L, "a", "0.50"), ("k", 3L, "b", "99.99")
    ).toDF("k", "seq", "t", "price")
      .withColumn("price", col("price").cast(DecimalType(10, 2)))
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES SUM(A.price) AS total, MAX(A.price) AS hi
        |PATTERN (A+ B)
        |DEFINE A AS t = 'a', B AS t = 'b'""".stripMargin)
    assert(out.schema("total").dataType == DecimalType(20, 2))
    assert(out.schema("hi").dataType == DecimalType(10, 2))
    val row = out.collect().head
    assert(row.getDecimal(out.schema.fieldIndex("total")) ==
      new java.math.BigDecimal("10.75"))
    assert(row.getDecimal(out.schema.fieldIndex("hi")) ==
      new java.math.BigDecimal("10.25"))
  }

  test("reluctant quantifier A+? takes the shortest run; A+ the longest") {
    // every row satisfies both A and B, so greediness alone decides how
    // many rows A absorbs before handing one to B
    val df = Seq(
      ("k", 1L, "a"), ("k", 2L, "a"), ("k", 3L, "a"), ("k", 4L, "a")
    ).toDF("k", "seq", "t")
    def run(pattern: String) = MatchRecognize(df,
      s"""PARTITION BY k
        |ORDER BY seq
        |MEASURES COUNT(A.*) AS n_a, B.seq AS b_seq
        |PATTERN ($pattern)
        |DEFINE A AS t = 'a', B AS t = 'a'""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    // greedy: A eats 1-3 (backtracking one for B) → one match per partition
    assert(run("A+ B") == Set(("k", 3L, 4L)))
    // reluctant: A stops at one repetition → two non-overlapping matches
    assert(run("A+? B") == Set(("k", 1L, 2L), ("k", 1L, 4L)))
  }

  test("unary minus parses in DEFINE and MEASURES") {
    val df = Seq(
      ("k", 1L, -10L), ("k", 2L, -3L), ("k", 3L, 7L)
    ).toDF("k", "seq", "delta")
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES A.seq AS s
        |PATTERN (A)
        |DEFINE A AS A.delta < -5""".stripMargin)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("k", 1L))) // only delta=-10 < -5
    // negative double literal and -x arithmetic
    val out2 = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES A.seq AS s
        |PATTERN (A)
        |DEFINE A AS A.delta * -1.5 > 4.0""".stripMargin)
      .as[(String, Long)].collect().toSet
    assert(out2 == Set(("k", 1L), ("k", 2L))) // 15.0 and 4.5 > 4.0
  }

  test("q_cep_prev finds falling-value runs in the sf0.001 events") {
    val rows = graft.SparkEntry.queries("q_cep_prev")(spark, "/root/testdata/sf0.001")
      .select("n_down").as[Long].collect()
    assert(rows.nonEmpty, "q_cep_prev matched no run")
    assert(rows.forall(_ >= 1), s"a match without a down row: ${rows.min}")
  }
}
