package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

import graft.{GraftSql, SparkSuite}

/** The FOR SYSTEM_TIME AS OF SQL front door: span parsing, alias
  * qualifier rewriting, differing key/version-time column names, and
  * loud errors on malformed statements.
  */
class TemporalJoinSqlSpec extends SparkSuite {
  import spark.implicits._

  /** The front door with the version-time column named `vts`. */
  private def tj(query: String): DataFrame =
    graft.queries.Q.withConf(spark,
      "spark.graft.temporalJoin.rightTimeCol" -> "vts")(GraftSql.sql(spark, query))

  private def setup(): Unit = {
    Seq((1L, "u1", 100L), (2L, "u1", 250L), (3L, "u2", 50L))
      .toDF("p_id", "user_id", "ts").createOrReplaceTempView("probes")
    Seq(("u1", 90L, 1.0), ("u1", 200L, 2.0), ("u2", 400L, 9.0))
      .toDF("uid", "vts", "rate").createOrReplaceTempView("rates")
  }

  test("each probe joins the latest version at or before its time") {
    setup()
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, 1.0),        // ts 100: version 90 current
      Row(2L, 2.0),        // ts 250: version 200 current
      Row(3L, null)))      // ts 50: no u2 version yet — LEFT semantics
  }

  test("right-side columns surface through the r-alias namespace") {
    setup()
    val out = tj(
      """SELECT p.p_id, r.vts, r.rate FROM probes p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts r
        |ON r.uid = p.user_id
        |WHERE r.rate IS NOT NULL ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(1L, 90L, 1.0), Row(2L, 200L, 2.0)))
  }

  test("streaming inputs route through the watermark-driven operator") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val probes = MemoryStream[(Long, String, Timestamp)]
    val rates = MemoryStream[(String, Timestamp, Double)]
    probes.toDS().toDF("p_id", "user_id", "ts")
      .createOrReplaceTempView("s_probes")
    rates.toDS().toDF("uid", "vts", "rate")
      .createOrReplaceTempView("s_rates")
    val out = tj(
      """SELECT p.p_id, r.rate FROM s_probes AS p
        |JOIN s_rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid""".stripMargin)
    assert(out.isStreaming)
    // the union shares ONE watermark: enqueue the first window on both
    // sides BEFORE start so neither side's batch advances it past the
    // other's pending rows (the same reason the typed spec uses a single
    // envelope stream)
    probes.addData(Seq((1L, "u1", ts(100)), (2L, "u1", ts(250))))
    rates.addData(Seq(("u1", ts(90), 1.0), ("u1", ts(200), 2.0)))
    val name = s"tjsql_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      q.processAllAvailable()
      // a far-future version advances the watermark past both probes,
      // releasing them against versions 90 and 200
      rates.addData(Seq(("u1", ts(9999), 9.0)))
      q.processAllAvailable()
      // buffer the probe while the watermark is still behind it...
      probes.addData(Seq((3L, "u1", ts(10500))))
      q.processAllAvailable()
      // ...then advance past it: resolves against the 9999s version
      rates.addData(Seq(("u1", ts(99999), 0.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(rows == Map(1L -> 1.0, 2L -> 2.0, 3L -> 9.0),
        s"got $rows")
    } finally q.stop()
  }

  test("alias-like sequences inside string literals are not rewritten") {
    setup()
    val out = tj(
      """SELECT p.p_id, 'p.note' AS tag, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid
        |WHERE r.rate IS NOT NULL ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, "p.note", 1.0), Row(2L, "p.note", 2.0)))
  }

  test("backslash-escaped quotes inside literals do not leak the rewrite") {
    setup()
    // Spark's default parser accepts \' inside a single-quoted literal;
    // the quote scanner must not close the span there and rewrite the tail
    val out = tj(
      """SELECT p.p_id, 'can\'t match p.rate' AS tag, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid
        |WHERE r.rate IS NOT NULL ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, "can't match p.rate", 1.0), Row(2L, "can't match p.rate", 2.0)))
  }

  test("composite key: conjunction of equi-conditions forms the join key") {
    Seq((1L, "u1", "eu", 100L), (2L, "u1", "us", 100L), (3L, "u2", "eu", 300L))
      .toDF("p_id", "user_id", "region", "ts").createOrReplaceTempView("probes2")
    Seq(("u1", "eu", 90L, 1.0), ("u1", "us", 95L, 2.0), ("u2", "eu", 400L, 9.0))
      .toDF("uid", "region", "vts", "rate").createOrReplaceTempView("rates2")
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes2 AS p
        |JOIN rates2 FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND p.region = r.region
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, 1.0),    // (u1, eu): version 90
      Row(2L, 2.0),    // (u1, us): version 95 — distinct composite key
      Row(3L, null)))  // (u2, eu): no version yet
  }

  test("residual ON predicates evaluate against the matched row") {
    setup()
    // reference joinCondition semantics: the residual filters the
    // (probe, matched version) pair — probe 1 matched rate 1.0 fails it
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND r.rate > 1.5
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(2L, 2.0)))
  }

  test("BETWEEN and CASE ANDs stay inside their ON term") {
    setup()
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND r.rate BETWEEN 1.5 AND 3.0
        |  AND CASE WHEN r.rate > 0 AND r.rate < 100 THEN true ELSE false END
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(2L, 2.0)))
  }

  test("top-level OR in the ON clause is rejected loudly") {
    setup()
    val e = intercept[IllegalArgumentException] {
      tj(
        """SELECT p.p_id FROM probes AS p
          |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
          |ON p.user_id = r.uid OR r.rate > 1""".stripMargin)
    }
    assert(e.getMessage.contains("conjunction"))
  }

  test("a residual's string literal is not dequalified") {
    setup()
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes AS p
        |JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND CONCAT('r.', 'uid') = 'r.uid'
        |  AND r.rate IS NOT NULL
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(1L, 1.0), Row(2L, 2.0)))
  }

  test("a keyword-named column after the alias dot does not end the scan") {
    Seq((1L, "u1", "w1", 100L), (2L, "u1", "w2", 100L))
      .toDF("p_id", "user_id", "window", "ts").createOrReplaceTempView("probes_kw")
    Seq(("u1", "w1", 90L, 1.0), ("u1", "w2", 95L, 2.0))
      .toDF("uid", "window", "vts", "rate").createOrReplaceTempView("rates_kw")
    val out = tj(
      """SELECT p.p_id, r.rate FROM probes_kw AS p
        |JOIN rates_kw FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND p.window = r.window
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(1L, 1.0), Row(2L, 2.0)))
  }

  test("the watermark-delay session conf reaches the streaming operator") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val probes = MemoryStream[(Long, String, Timestamp)]
    probes.toDS().toDF("p_id", "user_id", "ts")
      .createOrReplaceTempView("wm_probes")
    Seq(("u1", ts(90), 1.0))
      .toDF("uid", "vts", "rate").createOrReplaceTempView("wm_rates")
    graft.queries.Q.withConf(spark,
        "spark.graft.temporalJoin.watermarkDelay" -> "1 hour") {
      val out = tj(
        """SELECT p.p_id, r.rate FROM wm_probes AS p
          |JOIN wm_rates FOR SYSTEM_TIME AS OF p.ts AS r
          |ON p.user_id = r.uid""".stripMargin)
      val name = s"tjwm_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
      try {
        probes.addData(Seq((1L, "u1", ts(1000))))
        q.processAllAvailable()
        // ts 500 is BEHIND batch 1's max (1000) — with the 1h delay the
        // watermark is still 1000-3600 < 0, so the probe is NOT late
        probes.addData(Seq((2L, "u1", ts(500))))
        q.processAllAvailable()
        probes.addData(Seq((99L, "u1", ts(99999))))
        q.processAllAvailable()
        probes.addData(Seq((98L, "u1", ts(999999))))
        q.processAllAvailable()
        val rows = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toMap
        assert(rows.contains(2L), s"out-of-order probe dropped: $rows")
        assert(rows(1L) == 1.0 && rows(2L) == 1.0, s"got $rows")
      } finally q.stop()
    }
  }

  test("span inside a derived-table subquery is rejected loudly") {
    setup()
    val e = intercept[IllegalArgumentException] {
      tj(
        """SELECT * FROM (
          |  SELECT p.p_id FROM probes AS p
          |  JOIN rates FOR SYSTEM_TIME AS OF p.ts AS r
          |  ON p.user_id = r.uid) t""".stripMargin)
    }
    assert(e.getMessage.contains("subquery"))
  }

  test("streaming probe against a BOUNDED versioned table (mixed mode)") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val probes = MemoryStream[(Long, String, Timestamp)]
    probes.toDS().toDF("p_id", "user_id", "ts")
      .createOrReplaceTempView("m_probes")
    // the reference's dim-table shape: bounded version history, loaded
    // into keyed state at query start (TemporalRowTimeJoinOperator.java:78)
    Seq(("u1", ts(90), 1.0), ("u1", ts(200), 2.0), ("u2", ts(400), 9.0))
      .toDF("uid", "vts", "rate").createOrReplaceTempView("m_rates")
    val out = tj(
      """SELECT p.p_id, r.rate FROM m_probes AS p
        |JOIN m_rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid""".stripMargin)
    assert(out.isStreaming)
    val name = s"tjmix_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      probes.addData(Seq((1L, "u1", ts(100)), (2L, "u1", ts(250)),
        (3L, "u2", ts(50))))
      q.processAllAvailable()
      // advance the watermark past every probe to release them
      probes.addData(Seq((99L, "u1", ts(99999))))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      // probe 3 at ts 50 precedes every u2 version: NULL (LEFT semantics);
      // probe 99 resolves against the 200s version (rate 2.0)
      assert(rows == Map(1L -> Some(1.0), 2L -> Some(2.0), 3L -> None,
        99L -> Some(2.0)), s"got $rows")
    } finally q.stop()
  }

  test("mixed mode with a composite key and GC across batches") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val probes = MemoryStream[(Long, String, String, Timestamp)]
    probes.toDS().toDF("p_id", "user_id", "region", "ts")
      .createOrReplaceTempView("m2_probes")
    Seq(("u1", "eu", ts(90), 1.0), ("u1", "us", ts(95), 2.0),
      ("u1", "eu", ts(200), 3.0))
      .toDF("uid", "region", "vts", "rate").createOrReplaceTempView("m2_rates")
    val out = tj(
      """SELECT p.p_id, r.rate FROM m2_probes AS p
        |JOIN m2_rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND p.region = r.region""".stripMargin)
    val name = s"tjmix2_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      probes.addData(Seq((1L, "u1", "eu", ts(100)), (2L, "u1", "us", ts(100))))
      q.processAllAvailable()
      // watermark moves past 100 with the next batch; version 90 for
      // (u1,eu) survives GC as the current version, 95 for (u1,us) too
      probes.addData(Seq((3L, "u1", "eu", ts(300))))
      q.processAllAvailable()
      probes.addData(Seq((99L, "u1", "eu", ts(99999))))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(rows == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 99L -> 3.0),
        s"got $rows")
    } finally q.stop()
  }

  test("streaming composite key routes through the versioned-state operator") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000)
    val probes = MemoryStream[(Long, String, String, Timestamp)]
    val rates = MemoryStream[(String, String, Timestamp, Double)]
    probes.toDS().toDF("p_id", "user_id", "region", "ts")
      .createOrReplaceTempView("s2_probes")
    rates.toDS().toDF("uid", "region", "vts", "rate")
      .createOrReplaceTempView("s2_rates")
    val out = tj(
      """SELECT p.p_id, r.rate FROM s2_probes AS p
        |JOIN s2_rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid AND p.region = r.region""".stripMargin)
    probes.addData(Seq((1L, "u1", "eu", ts(100)), (2L, "u1", "us", ts(100))))
    rates.addData(Seq(("u1", "eu", ts(90), 1.0), ("u1", "us", ts(95), 2.0)))
    val name = s"tjs2_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      q.processAllAvailable()
      rates.addData(Seq(("u1", "eu", ts(9999), 0.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toMap
      assert(rows == Map(1L -> 1.0, 2L -> 2.0), s"got $rows")
    } finally q.stop()
  }

  test("a span on the wrong alias fails loudly") {
    setup()
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark,
        """SELECT p.p_id FROM probes p JOIN rates FOR SYSTEM_TIME AS OF x.ts r
          |ON p.user_id = r.uid""".stripMargin)
    }
    assert(e.getMessage.contains("probe side"))
  }
}
