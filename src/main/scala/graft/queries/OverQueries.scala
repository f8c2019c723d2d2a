package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import Q._

/** Over-window (analytic) parity — reference `BatchExecOverAggregate`
  * (/root/reference/flink-table/flink-table-planner/src/main/java/org/apache/flink/table/planner/plan/nodes/exec/batch/BatchExecOverAggregate.java:79)
  * with its frame set under
  * flink-table-runtime/.../operators/over/frame/ (RowSlidingOverFrame,
  * RangeSlidingOverFrame, UnboundedOverWindowFrame, OffsetOverFrame for
  * LEAD/LAG), plus the streaming rank/dedup operators expressed in their
  * batch form: StreamExecRank (AppendOnlyTopNFunction.java:52) as
  * `row_number() <= n`, StreamExecDeduplicate
  * (ProcTimeDeduplicateKeepFirstRowFunction.java:28 / KeepLast :32) as
  * `row_number() = 1` keep-first/keep-last (SURVEY.md §2.6, §2.7).
  *
  * Scale notes: every over-window here partitions by a key before sorting,
  * so Catalyst plans a single hash shuffle on the partition key followed by
  * an in-partition sort — no global sort, no driver collect. Top-n pushes
  * the rank filter below the final sort. All ORDER BYs inside frames carry
  * a unique tie-break column so results are deterministic across engines.
  */
object OverQueries {

  val queries: Map[String, QFn] = Map(
    // Ranking function family over a keyed partition.
    "q_over_ranking" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          row_number().over(w).cast(LongType).as("rn"),
          rank().over(w).cast(LongType).as("rnk"),
          dense_rank().over(w).cast(LongType).as("drnk"),
          ntile(4).over(w).cast(LongType).as("quartile"))
        .filter($"rn" <= 100)
        .orderBy($"o_orderstatus", $"rn")
    }),

    // percent_rank / cume_dist (statistical ranking; double results are
    // (rank-1)/(n-1) and rank/n — identical IEEE division both engines).
    "q_over_pctrank" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_totalprice", $"o_orderkey")
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          percent_rank().over(w).as("pct"),
          cume_dist().over(w).as("cume"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // LEAD/LAG (OffsetOverFrame parity) with default values.
    "q_over_leadlag" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      t(s, dir, "orders")
        .select(
          $"o_custkey", $"o_orderkey",
          lag(dec2($"o_totalprice"), 1).over(w).cast(DoubleType).as("prev_price"),
          lead(dec2($"o_totalprice"), 1).over(w).cast(DoubleType).as("next_price"),
          lag($"o_orderkey", 2, -1L).over(w).cast(LongType).as("prev2_key"))
        .orderBy($"o_custkey", $"o_orderkey")
    }),

    // IGNORE NULLS offset/value functions (the reference's FIRST_VALUE/
    // LAST_VALUE:985-989 skip nulls by default): last non-null o_orderkey
    // among orders above a price threshold, carried forward.
    "q_over_ignorenulls" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          when($"o_totalprice" > 300000, $"o_orderkey").as("big_key"))
        .select(
          $"o_orderstatus", $"o_orderkey",
          last($"big_key", ignoreNulls = true).over(w).as("last_big_key"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // Running aggregates: ROWS UNBOUNDED PRECEDING → CURRENT ROW
    // (RowUnboundedPrecedingOverFrame parity).
    "q_over_running" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          sum(dec2($"o_totalprice")).over(w).cast(DoubleType).as("run_sum"),
          count(lit(1)).over(w).as("run_cnt"),
          max(dec2($"o_totalprice")).over(w).cast(DoubleType).as("run_max"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // Sliding ROWS frame (RowSlidingOverFrame parity).
    "q_over_rows_frame" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_orderkey")
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          sum(dec2($"o_totalprice")).over(w).cast(DoubleType).as("moving_sum"),
          count(lit(1)).over(w).as("moving_n"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // RANGE frame over a numeric sort key (RangeSlidingOverFrame parity).
    // l_quantity is integral-valued; cast to BIGINT so both engines use
    // identical integer range arithmetic.
    "q_over_range_frame" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"l_linestatus")
        .orderBy($"l_quantity".cast(LongType))
        .rangeBetween(-5, 0)
      t(s, dir, "lineitem")
        .select(
          $"l_linestatus", $"l_orderkey", $"l_linenumber",
          $"l_quantity".cast(LongType).as("qty"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy($"l_linestatus", $"l_orderkey", $"l_linenumber")
    }),

    // FIRST_VALUE / LAST_VALUE / NTH_VALUE over the full partition
    // (UnboundedOverWindowFrame; InsensitiveOverFrame parity).
    "q_over_firstlast" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_orderstatus")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(
          $"o_orderstatus", $"o_orderkey",
          first($"o_orderkey").over(w).as("top_key"),
          last($"o_orderkey").over(w).as("bottom_key"),
          nth_value($"o_orderkey", 3).over(w).as("third_key"))
        .orderBy($"o_orderstatus", $"o_orderkey")
    }),

    // Top-N per group: the batch semantics of streaming Top-N
    // (AppendOnlyTopNFunction.java:52) — rank filter pushed below output sort.
    "q_topn_group" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey")
        .orderBy($"o_totalprice".desc, $"o_orderkey")
      t(s, dir, "orders")
        .select($"o_custkey", $"o_orderkey",
          dec2($"o_totalprice").cast(DoubleType).as("price"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter($"rn" <= 3)
        .orderBy($"o_custkey", $"rn")
    }),

    // Keep-FIRST-row-per-key dedup (ProcTimeDeduplicateKeepFirstRowFunction).
    "q_dedup_first" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      t(s, dir, "events")
        .select($"user_id", $"event_id", $"ts", $"event_type",
          row_number().over(w).as("rn"))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"ts", $"event_type")
        .orderBy($"user_id")
    }),

    // Keep-LAST-row-per-key dedup (ProcTimeDeduplicateKeepLastRowFunction).
    "q_dedup_last" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      t(s, dir, "events")
        .select($"user_id", $"event_id", $"ts", $"event_type",
          row_number().over(w).as("rn"))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"ts", $"event_type")
        .orderBy($"user_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_over_ranking" ->
      """SELECT o_orderstatus, o_orderkey, rn, rnk, drnk, quartile FROM (
        |  SELECT o_orderstatus, o_orderkey,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank() OVER w AS BIGINT) AS rnk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |    CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey))
        |WHERE rn <= 100 ORDER BY o_orderstatus, rn""".stripMargin,

    "q_over_pctrank" ->
      """SELECT o_orderstatus, o_orderkey,
        |  percent_rank() OVER w AS pct,
        |  cume_dist() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q_over_leadlag" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS prev_price,
        |  CAST(lead(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w AS DOUBLE) AS next_price,
        |  CAST(lag(o_orderkey, 2, -1) OVER w AS BIGINT) AS prev2_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_over_ignorenulls" ->
      """SELECT o_orderstatus, o_orderkey,
        |  last_value(CASE WHEN o_totalprice > 300000 THEN o_orderkey END IGNORE NULLS)
        |    OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_big_key
        |FROM orders
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q_over_running" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_sum,
        |  COUNT(*) OVER w AS run_cnt,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_max
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q_over_rows_frame" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS moving_sum,
        |  COUNT(*) OVER w AS moving_n
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q_over_range_frame" ->
      """SELECT l_linestatus, l_orderkey, l_linenumber,
        |  CAST(l_quantity AS BIGINT) AS qty,
        |  COUNT(*) OVER w AS n_in_range
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_linestatus ORDER BY CAST(l_quantity AS BIGINT)
        |             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY l_linestatus, l_orderkey, l_linenumber""".stripMargin,

    "q_over_firstlast" ->
      """SELECT o_orderstatus, o_orderkey,
        |  first_value(o_orderkey) OVER w AS top_key,
        |  last_value(o_orderkey) OVER w AS bottom_key,
        |  nth_value(o_orderkey, 3) OVER w AS third_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,

    "q_topn_group" ->
      """SELECT o_custkey, o_orderkey, price, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_dedup_first" ->
      s"""SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM ${Tables.duckEvents})
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_dedup_last" ->
      s"""SELECT user_id, event_id, ts, event_type FROM (
        |  SELECT user_id, event_id, ts, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ${Tables.duckEvents})
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
  )
}
