package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row

/** The unified SQL front door: construct detection, chaining of multiple
  * rewrites in one statement, plain-SQL fallthrough, and the batch
  * SESSION execution fallback.
  */
class GraftSqlSpec extends SparkSuite {
  import spark.implicits._

  private def ts(h: Long): Timestamp = new Timestamp(h * 3600 * 1000)

  test("plain statements fall straight through to spark.sql") {
    Seq((1, "a"), (2, "b")).toDF("id", "s").createOrReplaceTempView("gs_plain")
    assert(GraftSql.sql(spark, "SELECT COUNT(*) AS n FROM gs_plain")
      .collect().toSeq == Seq(Row(2L)))
  }

  test("window TVF and temporal join chain in one statement") {
    Seq((1L, "u1", ts(1)), (2L, "u1", ts(5)), (3L, "u2", ts(2)))
      .toDF("p_id", "user_id", "ts").createOrReplaceTempView("gs_probes")
    Seq(("u1", ts(0), 1.0), ("u1", ts(4), 2.0), ("u2", ts(9), 9.0))
      .toDF("uid", "ts", "rate").createOrReplaceTempView("gs_rates")
    val out = GraftSql.sql(spark,
      """SELECT p.p_id, p.window_start, r.rate
        |FROM TABLE(TUMBLE(TABLE gs_probes, DESCRIPTOR(ts), INTERVAL '1' HOUR)) AS p
        |JOIN gs_rates FOR SYSTEM_TIME AS OF p.ts AS r
        |ON p.user_id = r.uid
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, ts(1), 1.0),   // window [1h,2h), rate as of 1h = 1.0
      Row(2L, ts(5), 2.0),   // window [5h,6h), rate as of 5h = 2.0
      Row(3L, ts(2), null))) // u2 has no version at 2h — LEFT semantics
  }

  test("MATCH_RECOGNIZE routes through the front door, alias dequalified") {
    Seq((1L, 1L, "purchase", 10L), (1L, 2L, "error", 11L),
      (2L, 1L, "purchase", 20L), (2L, 2L, "view", 21L))
      .toDF("user_id", "seq", "event_type", "event_id")
      .createOrReplaceTempView("gs_mr")
    val out = GraftSql.sql(spark,
      """SELECT m.user_id, m.purchase_id FROM gs_mr MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY seq
        |  MEASURES A.event_id AS purchase_id, B.event_id AS error_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  DEFINE A AS A.event_type = 'purchase',
        |         B AS B.event_type = 'error'
        |) AS m WHERE m.user_id = 1 ORDER BY m.user_id""".stripMargin)
    assert(out.collect().toSeq == Seq(Row(1L, 10L)))
  }

  test("alias.* after MATCH_RECOGNIZE rewrites to a bare star") {
    Seq((1L, 1L, "purchase", 10L), (1L, 2L, "error", 11L))
      .toDF("user_id", "seq", "event_type", "event_id")
      .createOrReplaceTempView("gs_mr_star")
    val out = GraftSql.sql(spark,
      """SELECT m.* FROM gs_mr_star MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY seq
        |  MEASURES A.event_id AS purchase_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B)
        |  DEFINE A AS A.event_type = 'purchase',
        |         B AS B.event_type = 'error'
        |) AS m""".stripMargin)
    assert(out.columns.toSeq == Seq("user_id", "purchase_id"))
    assert(out.collect().toSeq == Seq(Row(1L, 10L)))
  }

  test("batch SESSION statement falls back to the analytic expansion " +
    "when the session_window rewrite loses an output name") {
    Seq(("u1", ts(1)), ("u1", ts(2)), ("u1", ts(10)), ("u2", ts(3)))
      .toDF("uid", "ts").createOrReplaceTempView("gs_sess")
    // window_start/window_end appear ONLY inside an expression, so the
    // session_window rewrite appends no output alias and ORDER BY
    // window_start cannot resolve → AnalysisException → analytic
    // expansion (batch only)
    val out = GraftSql.sql(spark,
      """SELECT uid, window_end - window_start AS dur, COUNT(*) AS n
        |FROM TABLE(SESSION(TABLE gs_sess PARTITION BY uid,
        |  DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY uid, window_start, window_end
        |ORDER BY uid, window_start""".stripMargin)
    val rows = out.collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(2))) ==
      Seq(("u1", 2L), ("u1", 1L), ("u2", 1L)))
    // session [1h, 2h+gap): dur = 2 hours; singleton sessions: dur = gap
    assert(rows.head.get(1).toString == "PT2H")
  }

  test("the SESSION fallback serves an ORDER BY on window_start alone") {
    Seq(("u1", ts(1)), ("u1", ts(2)))
      .toDF("uid", "ts").createOrReplaceTempView("gs_sess2")
    val out = GraftSql.sql(spark,
      """SELECT uid, window_end - window_start AS dur
        |FROM TABLE(SESSION(TABLE gs_sess2 PARTITION BY uid,
        |  DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY uid, window_start, window_end
        |ORDER BY window_start""".stripMargin)
    assert(out.collect().length == 1)
  }

  test("legacy LATERAL TABLE temporal table function rewrites to the as-of join") {
    Seq((1L, "u1", ts(1)), (2L, "u1", ts(5)), (3L, "u2", ts(2)))
      .toDF("p_id", "user_id", "ts").createOrReplaceTempView("gs_lat_p")
    val rates = Seq(("u1", ts(0), 1.0), ("u1", ts(4), 2.0), ("u2", ts(9), 9.0))
      .toDF("uid", "rts", "rate")
    graft.operators.TemporalJoinSql.registerTemporalTableFunction(
      spark, "gsrates", rates, timeCol = "rts", keyCol = "uid")
    val out = GraftSql.sql(spark,
      """SELECT p.p_id, r.rate
        |FROM gs_lat_p p, LATERAL TABLE (gsrates(p.ts)) AS r
        |WHERE p.user_id = r.uid AND p.p_id > 0
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().toSeq == Seq(
      Row(1L, 1.0), Row(2L, 2.0), Row(3L, null)))
    // the bare-key-column spelling (the reference's documented idiom)
    val bare = GraftSql.sql(spark,
      """SELECT p.p_id, r.rate
        |FROM gs_lat_p p, LATERAL TABLE (gsrates(p.ts)) AS r
        |WHERE p.user_id = uid
        |ORDER BY p.p_id""".stripMargin)
    assert(bare.collect().toSeq == Seq(
      Row(1L, 1.0), Row(2L, 2.0), Row(3L, null)))
  }

  test("NEST_LOOP join hint maps to Spark's replicated nested loop") {
    Seq(1L, 2L, 3L).toDF("a").createOrReplaceTempView("gs_nl_l")
    Seq(2L, 3L, 4L).toDF("b").createOrReplaceTempView("gs_nl_r")
    val out = GraftSql.sql(spark,
      """SELECT /*+ NEST_LOOP(r) */ l.a, r.b
        |FROM gs_nl_l l JOIN gs_nl_r r ON l.a < r.b""".stripMargin)
    assert(out.count() == 6L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("CartesianProduct") ||
      plan.contains("BroadcastNestedLoopJoin"))
    // reference-named hints Spark already knows pass through untouched
    val bc = GraftSql.sql(spark,
      """SELECT /*+ BROADCAST(r) */ l.a FROM gs_nl_l l
        |JOIN gs_nl_r r ON l.a = r.b""".stripMargin)
    assert(bc.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("OPTIONS hint overrides a connector table's options per statement") {
    val dir1 = tmpDir("gs_opt1")
    val dir2 = tmpDir("gs_opt2")
    Seq((1L, "one")).toDF("id", "tag").write.mode("overwrite").parquet(dir1)
    Seq((2L, "two"), (3L, "three")).toDF("id", "tag")
      .write.mode("overwrite").parquet(dir2)
    GraftSql.sql(spark,
      s"""CREATE TABLE gs_opt_t (id BIGINT, tag STRING)
         |WITH ('connector' = 'filesystem', 'path' = '$dir1',
         |      'format' = 'parquet')""".stripMargin)
    // hinted read: the path override applies to this statement only
    val hinted = GraftSql.sql(spark,
      "SELECT id FROM gs_opt_t /*+ OPTIONS('path'='" + dir2 +
        "') */ ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(hinted == Seq(2L, 3L))
    // the registered table is untouched
    val plain = GraftSql.sql(spark, "SELECT id FROM gs_opt_t")
      .collect().map(_.getLong(0)).toSeq
    assert(plain == Seq(1L))
  }

  test("a join hint and a window TVF compose in one statement") {
    Seq((1L, "u1", ts(1)), (2L, "u2", ts(2)))
      .toDF("p_id", "user_id", "ts").createOrReplaceTempView("gs_hx")
    Seq(("u1", 10L)).toDF("uid", "k").createOrReplaceTempView("gs_hy")
    val out = GraftSql.sql(spark,
      """SELECT /*+ NEST_LOOP(y) */ p.p_id, y.k
        |FROM TABLE(TUMBLE(TABLE gs_hx, DESCRIPTOR(ts), INTERVAL '1' HOUR)) AS p
        |JOIN gs_hy y ON p.user_id <= y.uid
        |ORDER BY p.p_id""".stripMargin)
    assert(out.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("EXPLAIN returns the plan of a front-door statement without running it") {
    Seq(("u1", ts(1)), ("u2", ts(2)))
      .toDF("uid", "ts").createOrReplaceTempView("gs_expl")
    val plan = GraftSql.sql(spark,
      """EXPLAIN SELECT uid, COUNT(*) AS n
        |FROM TABLE(TUMBLE(TABLE gs_expl, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY uid, window_start, window_end""".stripMargin)
      .head().getString(0)
    assert(plan.contains("Physical Plan") && plan.contains("Aggregate"))
    // parenthesized query form is a query too
    assert(GraftSql.sql(spark, "EXPLAIN (SELECT 1)")
      .head().getString(0).contains("Physical Plan"))
    GraftSql.sql(spark,
      "CREATE TABLE gs_expl_bh (x BIGINT) WITH ('connector' = 'blackhole')")
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, "EXPLAIN INSERT INTO gs_expl_bh SELECT 1")
    }
    assert(e.getMessage.contains("EXPLAIN supports queries"))
  }

  test("front door auto-registers the engine's SQL functions") {
    Seq(("a,b,c", 7L)).toDF("s", "k").createOrReplaceTempView("gs_fns")
    // split_index and the protobuf pair work in plain SQL text with no
    // setup call — the front door registers them on first use
    val row = GraftSql.sql(spark,
      """SELECT split_index(s, ',', 1) AS piece,
        |  from_protobuf(to_protobuf(struct(k)), 'k BIGINT').k AS k2
        |FROM gs_fns""".stripMargin).head()
    assert(row.getString(0) == "b" && row.getLong(1) == 7L)
  }

  test("OPTIONS on a non-connector table and STATE_TTL fail loudly") {
    Seq(1L).toDF("x").createOrReplaceTempView("gs_opt_plain")
    val e1 = intercept[RuntimeException] {
      GraftSql.sql(spark,
        "SELECT x FROM gs_opt_plain /*+ OPTIONS('k'='v') */")
    }
    assert(e1.getMessage.contains("not a connector table"))
    val e2 = intercept[RuntimeException] {
      GraftSql.sql(spark,
        "SELECT /*+ STATE_TTL('t'='1h') */ x FROM gs_opt_plain")
    }
    assert(e2.getMessage.contains("STATE_TTL"))
  }

  test("DDL/DML on an unregistered name falls through; on a registered one it is claimed") {
    import graft.operators.{ConnectorDdl, MaterializedTable}
    // one row per statement form whose arm claims registered names only;
    // {t} is the table name. A claimed statement runs (or fails with the
    // module's own error); only an unclaimed one returns None
    val connectorForms = Seq(
      "ALTER TABLE {t} SET ('k' = 'v')", "ALTER TABLE {t} RESET ('k')",
      "ALTER TABLE {t} ADD (extra INT)", "ALTER TABLE {t} RENAME TO {t}_renamed",
      "DROP TABLE {t}", "DROP TABLE IF EXISTS {t}", "ALTER TABLE {t} COMPACT",
      "SHOW PARTITIONS {t}", "DESCRIBE {t}", "DESC EXTENDED {t}",
      "SHOW CREATE TABLE {t}", "TRUNCATE TABLE {t}",
      "DELETE FROM {t} WHERE id = 1", "DELETE FROM {t}",
      "UPDATE {t} SET id = 2 WHERE id = 1", "INSERT INTO {t} SELECT 1, 'a'",
      "INSERT OVERWRITE {t} SELECT 1, 'a'")
    val matForms = Seq("ALTER MATERIALIZED TABLE {t} REFRESH",
      "ALTER MATERIALIZED TABLE {t} SUSPEND",
      "ALTER MATERIALIZED TABLE {t} RESUME", "DROP MATERIALIZED TABLE {t}")
    def claimed(step: String => Option[org.apache.spark.sql.DataFrame],
        stmt: String): Boolean =
      scala.util.Try(step(stmt)).map(_.isDefined).getOrElse(true)
    val connectorStep = (q: String) => ConnectorDdl.step(spark, q, GraftSql.sql)
    val matStep = (q: String) => MaterializedTable.step(spark, q, GraftSql.sql)
    connectorForms.zipWithIndex.foreach { case (form, i) =>
      assert(connectorStep(form.replace("{t}", s"gs_unreg_$i")).isEmpty, form)
      val t = s"gs_reg_$i"
      GraftSql.sql(spark,
        s"""CREATE TABLE $t (id INT, tag STRING) WITH ('connector' = 'filesystem',
           |  'path' = '${tmpDir("gs_reg")}/t', 'format' = 'parquet')""".stripMargin)
      assert(claimed(connectorStep, form.replace("{t}", t)), form)
    }
    matForms.zipWithIndex.foreach { case (form, i) =>
      assert(matStep(form.replace("{t}", s"gs_unreg_mt_$i")).isEmpty, form)
      val t = s"gs_reg_mt_$i"
      GraftSql.sql(spark, s"CREATE MATERIALIZED TABLE $t " +
        "FRESHNESS = INTERVAL '1' MINUTE AS SELECT 1 AS x")
      assert(claimed(matStep, form.replace("{t}", t)), form)
    }
  }
}
