package graft.operators

import graft.{GraftSql, SparkSuite}

/** FLIP-435 materialized tables: FULL create/refresh staleness
  * semantics, CONTINUOUS suspend/resume lifecycle, and drop.
  */
class MaterializedTableSpec extends SparkSuite {
  import spark.implicits._

  test("FULL mode: stale until ALTER ... REFRESH re-materializes") {
    val src = tmpDir("mt_full_src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE mt_base (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet')""".stripMargin)
    GraftSql.sql(spark,
      """CREATE MATERIALIZED TABLE mt_counts
        |FRESHNESS = INTERVAL '1' HOUR
        |AS SELECT tag, COUNT(*) AS n FROM mt_base GROUP BY tag""".stripMargin)
    def counts() = GraftSql.sql(spark,
      "SELECT tag, n FROM mt_counts ORDER BY tag")
      .as[(String, Long)].collect().toSeq
    assert(counts() == Seq(("a", 1L), ("b", 1L)))
    assert(MaterializedTable.lookup(spark, "mt_counts")
      .exists(d => d.mode == "FULL" && d.freshness == "1 hour"))
    // base grows; the materialization is STALE by design until refresh
    Seq((3L, "a")).toDF("id", "tag").write.mode("append").parquet(src)
    GraftSql.sql(spark, "ALTER TABLE mt_base SET ('path' = '" + src + "')")
    assert(counts() == Seq(("a", 1L), ("b", 1L)))
    GraftSql.sql(spark, "ALTER MATERIALIZED TABLE mt_counts REFRESH")
    assert(counts() == Seq(("a", 2L), ("b", 1L)))
    GraftSql.sql(spark, "DROP MATERIALIZED TABLE mt_counts")
    assert(MaterializedTable.lookup(spark, "mt_counts").isEmpty)
  }

  test("CONTINUOUS mode: streaming job with SUSPEND/RESUME from checkpoint") {
    val src = tmpDir("mt_cont_src")
    Seq((1L, 5.0)).toDF("id", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE mt_stream_src (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      """CREATE MATERIALIZED TABLE mt_live
        |FRESHNESS = INTERVAL '30' SECOND
        |AS SELECT id, v * 2 AS v2 FROM mt_stream_src""".stripMargin)
    val d = MaterializedTable.lookup(spark, "mt_live").get
    assert(d.mode == "CONTINUOUS" && d.job.exists(_.isActive))
    def ids() = spark.read.parquet(d.path).as[(Long, Double)]
      .collect().toMap
    assert(ids() == Map(1L -> 10.0))
    // SUSPEND stops the job; files appended while suspended are missed
    GraftSql.sql(spark, "ALTER MATERIALIZED TABLE mt_live SUSPEND")
    assert(MaterializedTable.lookup(spark, "mt_live").get.job.isEmpty)
    Seq((2L, 7.0)).toDF("id", "v").write.mode("append").parquet(src)
    assert(ids() == Map(1L -> 10.0))
    // RESUME picks up from the checkpoint and catches up — and the SQL
    // VIEW advances too (per-commit re-registration), not just the path
    GraftSql.sql(spark, "ALTER MATERIALIZED TABLE mt_live RESUME")
    // drain + SYNCHRONOUS view refresh (the per-commit listener posts
    // async; read-your-writes needs the explicit sync)
    MaterializedTable.sync(spark, "mt_live")
    assert(ids() == Map(1L -> 10.0, 2L -> 14.0))
    val viaView = GraftSql.sql(spark,
      "SELECT id, v2 FROM mt_live ORDER BY id")
      .as[(Long, Double)].collect().toMap
    assert(viaView == Map(1L -> 10.0, 2L -> 14.0))
    GraftSql.sql(spark, "DROP MATERIALIZED TABLE mt_live")
  }

  test("CONTINUOUS create over an EMPTY source serves an empty table") {
    // the streaming source has no data yet → no parquet files at the
    // storage path; the view must register from the probe's schema
    // instead of dying on schema inference
    val src = tmpDir("mt_empty_src")
    GraftSql.sql(spark,
      s"""CREATE TABLE mt_empty_in (id BIGINT, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    GraftSql.sql(spark,
      """CREATE MATERIALIZED TABLE mt_empty
        |FRESHNESS = INTERVAL '30' SECOND
        |AS SELECT id, v * 2 AS v2 FROM mt_empty_in""".stripMargin)
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM mt_empty")
      .head().getLong(0) == 0L)
    // first data arrives; the table catches up
    Seq((9L, 1.5)).toDF("id", "v").write.mode("append").parquet(src)
    MaterializedTable.sync(spark, "mt_empty")
    assert(GraftSql.sql(spark, "SELECT id, v2 FROM mt_empty")
      .as[(Long, Double)].collect().toSeq == Seq((9L, 3.0)))
    GraftSql.sql(spark, "DROP MATERIALIZED TABLE mt_empty")
  }

  test("CONTINUOUS over an UPDATING query gets the engine diagnostic") {
    val src = tmpDir("mt_upd_src")
    Seq((1L, "a", 2.0)).toDF("id", "tag", "v").write.mode("overwrite").parquet(src)
    GraftSql.sql(spark,
      s"""CREATE TABLE mt_upd_in (id BIGINT, tag STRING, v DOUBLE)
         |WITH ('connector' = 'filesystem', 'path' = '$src',
         |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
    val e = intercept[RuntimeException] {
      GraftSql.sql(spark,
        """CREATE MATERIALIZED TABLE mt_upd
          |FRESHNESS = INTERVAL '30' SECOND
          |AS SELECT tag, SUM(v) AS total FROM mt_upd_in GROUP BY tag""".stripMargin)
    }
    assert(e.getMessage.contains("update changes") &&
      e.getMessage.contains("REFRESH_MODE = FULL"))
  }
}
