package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import Q._

/** Calc (fused project+filter), values, set ops, sort/limit — reference
  * exec nodes StreamExecCalc/BatchExecCalc, (Stream|Batch)ExecUnion,
  * intersect/minus rewrites (ReplaceIntersectWithSemiJoinRule,
  * ReplaceMinusWithAntiJoinRule), BatchExecSort/SortLimit/Limit
  * (SURVEY.md §2.2, §2.7, §2.8).
  */
object RelationalQueries {

  val queries: Map[String, QFn] = Map(
    // Fused project + filter + CASE WHEN — whole-stage-codegen'd Calc.
    "q_calc_case" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .filter($"o_totalprice" > 10000 && $"o_orderstatus" =!= "P")
        .select(
          $"o_orderkey",
          when($"o_totalprice" > 100000, "large")
            .when($"o_totalprice" > 50000, "medium")
            .otherwise("small").as("size_class"),
          (dec2($"o_totalprice") * lit(2)).cast(DoubleType).as("double_price"),
          concat($"o_orderstatus", lit("/"), $"o_orderpriority").as("status_prio"))
        .orderBy($"o_orderkey")
    }),

    // datagen source parity (DataGenTableSourceFactory): spark.range +
    // deterministic hash-derived columns — the batch form of the
    // reference's sequence/random generator, oracle-reproducible.
    "q_datagen" -> ((s, _) => {
      import s.implicits._
      s.range(0, 1000)
        .select(
          $"id",
          (conv(substring(md5($"id".cast(StringType)), 1, 15), 16, 10)
            .cast(LongType) % 100L).as("rand_val"),
          concat(lit("user_"), ($"id" % 10L)).as("user_tag"))
        .filter($"rand_val" < 50)
        .orderBy($"id")
    }),

    // VALUES literal rows (StreamExecValues/BatchExecValues).
    "q_values" -> ((s, _) => {
      import s.implicits._
      Seq((1L, "a"), (2L, "b"), (3L, "c"))
        .toDF("id", "tag")
        .filter($"id" > 1)
        .orderBy($"id")
    }),

    // UNION ALL + dedup UNION.
    "q_setop_union" -> ((s, dir) => {
      import s.implicits._
      val cn = t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
      val sn = t(s, dir, "supplier").select($"s_nationkey".as("nationkey"))
      cn.unionAll(sn).distinct().orderBy($"nationkey")
    }),

    // INTERSECT (→ semi join in both engines' planners).
    "q_setop_intersect" -> ((s, dir) => {
      import s.implicits._
      val highCust = t(s, dir, "customer").filter($"c_acctbal" > 5000)
        .select($"c_nationkey".as("nationkey"))
      val highSupp = t(s, dir, "supplier").filter($"s_acctbal" > 5000)
        .select($"s_nationkey".as("nationkey"))
      highCust.intersect(highSupp).orderBy($"nationkey")
    }),

    // EXCEPT (→ anti join). Threshold chosen so the result is non-empty —
    // an empty result would make the compare trivially pass.
    "q_setop_except" -> ((s, dir) => {
      import s.implicits._
      val all = t(s, dir, "nation").select($"n_nationkey".as("nationkey"))
      val withCheapCust = t(s, dir, "customer").filter($"c_acctbal" < -900)
        .select($"c_nationkey".as("nationkey"))
      all.except(withCheapCust).orderBy($"nationkey")
    }),

    // Scalar subquery + IN subquery + correlated EXISTS in one Calc —
    // Calcite subquery program parity (SubQueryDecorrelator.java).
    "q_subquery" -> ((s, dir) => {
      import s.implicits._
      val o = t(s, dir, "orders")
      // scalar subquery as a broadcast cross join — stays distributed,
      // exactly Catalyst's own scalar-subquery plan shape
      val avgPrice = o.agg(
        (dsum($"o_totalprice") / count(lit(1))).as("avg_price"))
      val bigCust = t(s, dir, "customer").filter($"c_acctbal" > 9000)
        .select($"c_custkey".as("bk"))
      o.join(bigCust, $"o_custkey" === $"bk", "left_semi")
        .crossJoin(broadcast(avgPrice))
        .filter(dec2($"o_totalprice").cast(DoubleType) > $"avg_price")
        .select($"o_orderkey", $"o_custkey")
        .orderBy($"o_orderkey")
    }),

    // Window join — StreamExecWindowJoin (WindowJoinOperator.java:66)
    // batch form: both sides bucketed to the same tumbling window, then
    // equi-joined on (window, key).
    "q_window_join" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
        .select(window($"ts", "1 hour").getField("start").as("w"),
          $"user_id", $"event_id".as("click_id"))
      val purchases = ev.filter($"event_type" === "purchase")
        .select(window($"ts", "1 hour").getField("start").as("w"),
          $"user_id", $"event_id".as("purchase_id"))
      clicks.join(purchases, Seq("w", "user_id"))
        .select($"w".as("window_start"), $"user_id", $"click_id", $"purchase_id")
        .orderBy($"window_start", $"user_id", $"click_id", $"purchase_id")
    }),

    // INTERSECT ALL / EXCEPT ALL (multiset semantics, RewriteIntersectAllRule).
    "q_setop_intersect_all" -> ((s, dir) => {
      import s.implicits._
      val a = t(s, dir, "lineitem").select($"l_suppkey".as("k")).filter($"k" < 50)
      val b = t(s, dir, "lineitem").filter($"l_returnflag" === "R")
        .select($"l_suppkey".as("k")).filter($"k" < 50)
      a.intersectAll(b).groupBy($"k").agg(count(lit(1)).as("multiplicity"))
        .orderBy($"k")
    }),

    "q_setop_except_all" -> ((s, dir) => {
      import s.implicits._
      val a = t(s, dir, "lineitem").select($"l_suppkey".as("k")).filter($"k" < 50)
      val b = t(s, dir, "lineitem").filter($"l_returnflag" === "R")
        .select($"l_suppkey".as("k")).filter($"k" < 50)
      a.exceptAll(b).groupBy($"k").agg(count(lit(1)).as("multiplicity"))
        .orderBy($"k")
    }),

    // ORDER BY + LIMIT → TakeOrderedAndProject (BatchExecSortLimit).
    "q_sort_limit" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
        .limit(20)
        .select($"o_orderkey", dec2($"o_totalprice").cast(DoubleType).as("price"))
    }),

    // LIMIT with OFFSET.
    "q_limit_offset" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .orderBy($"o_orderkey")
        .offset(100)
        .limit(10)
        .select($"o_orderkey", $"o_orderstatus")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_calc_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 100000 THEN 'large'
        |       WHEN o_totalprice > 50000 THEN 'medium'
        |       ELSE 'small' END AS size_class,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DOUBLE) AS double_price,
        |  o_orderstatus || '/' || o_orderpriority AS status_prio
        |FROM orders WHERE o_totalprice > 10000 AND o_orderstatus <> 'P'
        |ORDER BY o_orderkey""".stripMargin,

    "q_datagen" ->
      """SELECT id,
        |  ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT % 100 AS rand_val,
        |  'user_' || (id % 10) AS user_tag
        |FROM range(0, 1000) t(id)
        |WHERE ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT % 100 < 50
        |ORDER BY id""".stripMargin,

    "q_values" ->
      """SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'a'), (2, 'b'), (3, 'c')) AS t(id, tag)
        |WHERE id > 1 ORDER BY id""".stripMargin,

    "q_setop_union" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey AS nationkey FROM supplier) u
        |ORDER BY nationkey""".stripMargin,

    "q_setop_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 5000
        |INTERSECT
        |SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000
        |ORDER BY nationkey""".stripMargin,

    "q_setop_except" ->
      """SELECT n_nationkey AS nationkey FROM nation
        |EXCEPT
        |SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal < -900
        |ORDER BY nationkey""".stripMargin,

    "q_subquery" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |  AND CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) >
        |      (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_join" ->
      s"""WITH e AS ${Tables.duckEvents},
        |c AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, event_id AS click_id
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, event_id AS purchase_id
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.w AS window_start, c.user_id AS user_id, click_id, purchase_id
        |FROM c JOIN p ON c.w = p.w AND c.user_id = p.user_id
        |ORDER BY window_start, c.user_id, click_id, purchase_id""".stripMargin,

    "q_setop_intersect_all" ->
      """SELECT k, COUNT(*) AS multiplicity FROM (
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey < 50
        |  INTERSECT ALL
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R' AND l_suppkey < 50) t
        |GROUP BY k ORDER BY k""".stripMargin,

    "q_setop_except_all" ->
      """SELECT k, COUNT(*) AS multiplicity FROM (
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_suppkey < 50
        |  EXCEPT ALL
        |  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R' AND l_suppkey < 50) t
        |GROUP BY k ORDER BY k""".stripMargin,

    "q_sort_limit" ->
      """SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_limit_offset" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 100""".stripMargin
  )
}
