package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import Q._

/** Join parity — reference `FlinkJoinType` INNER/LEFT/RIGHT/FULL/SEMI/ANTI
  * (/root/reference/flink-table/flink-table-runtime/src/main/java/org/apache/flink/table/runtime/operators/join/FlinkJoinType.java:22),
  * hash/sort-merge/nested-loop exec nodes (SURVEY.md §2.3).
  *
  * Scale notes: dimension tables (region/nation) are broadcast — Spark's
  * AQE picks BroadcastHashJoin below the threshold, and we hint explicitly
  * where the dim side is known small. Fact-fact joins shuffle on the join
  * key, which is the correct plan at 100 TB (co-partitioned hash join);
  * AQE handles skew splitting.
  */
object JoinQueries {

  val queries: Map[String, QFn] = Map(
    // Multi-way inner join, dims broadcast: revenue per nation.
    "q_join_inner" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .join(c, $"o_custkey" === $"c_custkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(
          sum(dec2($"l_extendedprice") * (lit(1) - dec2($"l_discount")))
            .cast(DoubleType).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy($"n_name")
    }),

    // LEFT OUTER join with observable nulls on the right side.
    "q_join_left" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_totalprice" > 1000)
      c.join(o, $"c_custkey" === $"o_custkey", "left")
        .select($"c_custkey", $"o_orderkey", dec2($"o_totalprice").cast(DoubleType).as("o_price"))
        .orderBy($"c_custkey", $"o_orderkey".asc_nulls_first)
    }),

    // RIGHT OUTER join (flip of left).
    "q_join_right" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders").filter($"o_totalprice" > 1000)
      o.join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey", "right")
        .select($"c_custkey", $"o_orderkey")
        .orderBy($"c_custkey", $"o_orderkey".asc_nulls_first)
    }),

    // FULL OUTER join of two aggregated sides with non-overlapping keys.
    "q_join_full" -> ((s, dir) => {
      import s.implicits._
      val cn = t(s, dir, "customer").filter($"c_nationkey" < 15)
        .groupBy($"c_nationkey").agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").filter($"s_nationkey" > 10)
        .groupBy($"s_nationkey").agg(count(lit(1)).as("n_supp"))
      cn.join(sn, $"c_nationkey" === $"s_nationkey", "full")
        .select($"c_nationkey", $"s_nationkey", $"n_cust", $"n_supp")
        .orderBy($"c_nationkey".asc_nulls_first, $"s_nationkey".asc_nulls_first)
    }),

    // LEFT SEMI (EXISTS).
    "q_join_semi" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val big = t(s, dir, "orders").filter($"o_totalprice" > 450000)
      c.join(big, $"c_custkey" === $"o_custkey", "left_semi")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // LEFT ANTI (NOT EXISTS).
    "q_join_anti" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter($"o_totalprice" > 400000)
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey", $"c_name")
        .orderBy($"c_custkey")
    }),

    // Theta (non-equi) join → nested-loop parity; kept small by the
    // nation-key equality plus a band predicate.
    "q_join_theta" -> ((s, dir) => {
      import s.implicits._
      val c = t(s, dir, "customer").select($"c_custkey", $"c_nationkey", $"c_acctbal")
      val sp = t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey", $"s_acctbal")
      c.join(sp, $"c_nationkey" === $"s_nationkey" && $"c_acctbal" > $"s_acctbal" &&
          ($"c_acctbal" - $"s_acctbal") < 10.0)
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"c_nationkey")
    }),

    // Interval join — StreamExecIntervalJoin semantics
    // (/root/reference/flink-table/flink-table-runtime/src/main/java/org/apache/flink/table/runtime/operators/join/interval/TimeIntervalJoin.java)
    // expressed in batch: key equality + event-time range.
    "q_join_interval" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select($"event_id", $"user_id", $"ts", $"event_type")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
      val errors = ev.filter($"event_type" === "error")
        .select($"event_id".as("e_id"), $"user_id".as("e_user"), $"ts".as("e_ts"))
      purchases.join(errors,
          $"p_user" === $"e_user" &&
          $"e_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
          $"e_ts" <= $"p_ts")
        .select($"p_id", $"e_id")
        .orderBy($"p_id", $"e_id")
    }),

    // Null-aware ANTI join — NOT IN subquery semantics
    // (NullAwareJoinHelper.java): a NULL anywhere in the subquery result
    // makes NOT IN return no rows; Spark plans this as a null-aware
    // (broadcast) anti join, distinct from the EXISTS-style left_anti.
    "q_join_notin" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    // As-of (temporal) join — StreamExecTemporalJoin semantics
    // (TemporalRowTimeJoinOperator.java:78) in batch form: each purchase
    // joins the latest view of the same user at-or-before its time.
    // Implemented with the union + carry-forward pattern (AsOfJoin.asOf);
    // oracle uses DuckDB's native ASOF LEFT JOIN.
    "q_join_asof" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val purchases = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts")
      val views = ev.filter($"event_type" === "view")
        .select($"event_id".as("v_id"), $"user_id", $"ts", $"value".as("v_value"))
      graft.operators.AsOfJoin
        .asOf(purchases, views, "user_id", "ts", Seq("v_id", "v_value"))
        .select($"p_id", $"r_v_id", $"r_v_value")
        .orderBy($"p_id")
    }),

    // The same as-of join through the reference's SQL idiom
    // (`JOIN v FOR SYSTEM_TIME AS OF p.ts`, SqlSnapshot grammar /
    // StreamExecTemporalJoin.java:77) — TemporalJoinSql parses the span,
    // routes to AsOfJoin, and rewrites the alias qualifiers.
    "q_join_asof_sql" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts")
        .createOrReplaceTempView("asof_p")
      ev.filter($"event_type" === "view")
        .select($"event_id".as("v_id"), $"user_id", $"ts", $"value".as("v_value"))
        .createOrReplaceTempView("asof_v")
      graft.GraftSql.sql(s,
        """SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
          |FROM asof_p AS p JOIN asof_v FOR SYSTEM_TIME AS OF p.ts AS v
          |ON p.user_id = v.user_id
          |ORDER BY p_id""".stripMargin)
    }),

    // The LEGACY temporal-table-function SQL form
    // (TemporalTableFunction / LATERAL TABLE(rates(o.ts)) + WHERE key
    // equality): registers views as a temporal function and rewrites to
    // the FOR SYSTEM_TIME span — same oracle as q_join_asof_sql by
    // construction, so the two syntaxes are pinned equivalent.
    "q_join_asof_lateral" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts")
        .createOrReplaceTempView("asof_lp")
      graft.operators.TemporalJoinSql.registerTemporalTableFunction(
        s, "asof_lv_fn",
        ev.filter($"event_type" === "view")
          .select($"event_id".as("v_id"), $"user_id".as("v_user"),
            $"ts".as("v_ts"), $"value".as("v_value")),
        timeCol = "v_ts", keyCol = "v_user")
      graft.GraftSql.sql(s,
        """SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
          |FROM asof_lp AS p, LATERAL TABLE (asof_lv_fn(p.ts)) AS v
          |WHERE p.user_id = v.v_user
          |ORDER BY p_id""".stripMargin)
    }),

    // BOTH front-door extensions chained in ONE statement through
    // GraftSql (the reference's single-parser shape, ParserImpl.java:91):
    // a window TVF annotates the purchase probe, then the same statement
    // temporal-joins each probe row to the latest view as of its row
    // time. Gates the rewriter CHAIN (TVF expansion must leave a valid
    // statement for the FOR SYSTEM_TIME parse), not just each rewriter.
    "q_join_asof_tvf" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id", $"ts")
        .createOrReplaceTempView("asoftvf_p")
      ev.filter($"event_type" === "view")
        .select($"event_id".as("v_id"), $"user_id", $"ts")
        .createOrReplaceTempView("asoftvf_v")
      graft.GraftSql.sql(s,
        """SELECT p.p_id, p.window_start, v.v_id AS r_v_id
          |FROM TABLE(TUMBLE(TABLE asoftvf_p, DESCRIPTOR(ts), INTERVAL '1' HOUR)) AS p
          |JOIN asoftvf_v FOR SYSTEM_TIME AS OF p.ts AS v
          |ON p.user_id = v.user_id
          |ORDER BY p_id""".stripMargin)
    }),

    // Composite-key temporal join — the reference's join spec accepts a
    // conjunction of equi-conditions (StreamExecTemporalJoin.java:77 /
    // EventTimeTemporalJoinRewriteRule.java): each purchase joins the
    // latest same-DAY view of the same user. Exercises the
    // multi-predicate ON parse and the multi-column carry-forward
    // partition in AsOfJoin.
    "q_join_asof_multi" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      ev.filter($"event_type" === "purchase")
        .select($"event_id".as("p_id"), $"user_id",
          to_date($"ts").as("day"), $"ts")
        .createOrReplaceTempView("asofm_p")
      ev.filter($"event_type" === "view")
        .select($"event_id".as("v_id"), $"user_id",
          to_date($"ts").as("day"), $"ts", $"value".as("v_value"))
        .createOrReplaceTempView("asofm_v")
      graft.GraftSql.sql(s,
        """SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
          |FROM asofm_p AS p JOIN asofm_v FOR SYSTEM_TIME AS OF p.ts AS v
          |ON p.user_id = v.user_id AND p.day = v.day
          |ORDER BY p_id""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "q_join_inner" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_price
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 1000) o
        |ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey, o_orderkey
        |FROM (SELECT * FROM orders WHERE o_totalprice > 1000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin,

    "q_join_full" ->
      """SELECT c_nationkey, s_nationkey, n_cust, n_supp FROM
        |  (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer WHERE c_nationkey < 15 GROUP BY c_nationkey) cn
        |FULL JOIN
        |  (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier WHERE s_nationkey > 10 GROUP BY s_nationkey) sn
        |ON c_nationkey = s_nationkey
        |ORDER BY c_nationkey NULLS FIRST, s_nationkey NULLS FIRST""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_theta" ->
      """SELECT c_nationkey, COUNT(*) AS n_pairs
        |FROM customer JOIN supplier
        |ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal AND (c_acctbal - s_acctbal) < 10.0
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_join_interval" ->
      s"""SELECT p.event_id AS p_id, e.event_id AS e_id
        |FROM (SELECT * FROM ${Tables.duckEvents} WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM ${Tables.duckEvents} WHERE event_type = 'error') e
        |ON p.user_id = e.user_id
        | AND e.ts >= p.ts - INTERVAL 1 HOUR
        | AND e.ts <= p.ts
        |ORDER BY p_id, e_id""".stripMargin,

    "q_join_notin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_asof" ->
      s"""WITH e AS ${Tables.duckEvents},
        |p AS (SELECT event_id AS p_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, ts, value AS v_value FROM e WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin,

    "q_join_asof_sql" ->
      s"""WITH e AS ${Tables.duckEvents},
        |p AS (SELECT event_id AS p_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, ts, value AS v_value FROM e WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin,

    // identical result to q_join_asof_sql — the two SQL syntaxes are
    // equivalent by the reference's definition
    "q_join_asof_lateral" ->
      s"""WITH e AS ${Tables.duckEvents},
        |p AS (SELECT event_id AS p_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, ts, value AS v_value FROM e WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin,

    "q_join_asof_tvf" ->
      s"""WITH e AS ${Tables.duckEvents},
        |p AS (SELECT event_id AS p_id, user_id, ts,
        |        time_bucket(INTERVAL 1 HOUR, ts) AS window_start
        |      FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, ts FROM e WHERE event_type = 'view')
        |SELECT p.p_id, p.window_start, v.v_id AS r_v_id
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin,

    "q_join_asof_multi" ->
      s"""WITH e AS ${Tables.duckEvents},
        |p AS (SELECT event_id AS p_id, user_id, CAST(ts AS DATE) AS day, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, CAST(ts AS DATE) AS day, ts, value AS v_value FROM e WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.day = v.day AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin
  )
}
