package graft.queries

import graft.Tables
import Q._

/** SQL-string surface (§3.1 `tEnv.executeSql` parity): queries submitted
  * as ANSI SQL through `spark.sql` over registered views — the same text
  * (modulo nothing) runs in DuckDB as the oracle, demonstrating dialect-
  * level compatibility of the SQL front door.
  */
object SqlQueries {

  // TPC-H Q3-shaped: revenue of high-value orders per priority in a window.
  private val q3ish =
    """SELECT o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND c_mktsegment = 'BUILDING'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // TPC-H Q5-shaped: revenue per nation through the supplier side.
  private val q5ish =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM supplier, lineitem, nation, region
      |WHERE s_suppkey = l_suppkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name IN ('ASIA', 'EUROPE')
      |GROUP BY n_name
      |HAVING COUNT(*) > 10
      |ORDER BY n_name""".stripMargin

  // explicit GROUPING SETS (DecomposeGroupingSetsRule → Expand parity).
  private val groupingSets =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // TPC-H Q17-shaped: TWO correlated scalar subqueries against the same
  // inner table — Catalyst decorrelates both into one per-partkey
  // aggregate joined back (RewriteCorrelatedScalarSubquery). The classic
  // `qty < 0.2 * AVG(qty)` is restated as `5·qty·COUNT < SUM` so every
  // comparison is exact decimal/integer arithmetic on both engines
  // (DuckDB's AVG returns DOUBLE, whose rounding could flip boundary rows).
  private val q17ish =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS small_qty_revenue,
      |  COUNT(*) AS n_small
      |FROM lineitem l1, part
      |WHERE p_partkey = l1.l_partkey AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
      |  AND 5 * CAST(l1.l_quantity AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |    < (SELECT SUM(CAST(l_quantity AS DECIMAL(12,2))) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // TPC-H Q2-shaped: correlated EQUALITY against a MIN subquery (the
  // cheapest line per part) — no arithmetic on the compared value, so
  // double equality is exact cross-engine.
  private val q2ish =
    """SELECT p_partkey, p_name, COUNT(*) AS n_cheapest
      |FROM lineitem l1, part
      |WHERE p_partkey = l1.l_partkey AND p_size < 5
      |  AND l1.l_extendedprice = (SELECT MIN(l2.l_extendedprice)
      |                            FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |GROUP BY p_partkey, p_name ORDER BY p_partkey""".stripMargin

  // TPC-H Q21-shaped: EXISTS + NOT EXISTS, the NOT EXISTS correlated to
  // TWO outer tables (l1.l_orderkey and o_orderdate) — the hardest
  // decorrelation shape in the dialect-shared suite ("late" = shipped
  // more than 60 days after the order date; the testdata carries no
  // receipt/commit dates).
  private val q21ish =
    """SELECT s_name, COUNT(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name""".stripMargin

  // TPC-H Q18-shaped: IN over a grouped-HAVING subquery (large-volume
  // orders) — RewritePredicateSubquery turns the IN into a semi join
  // against the aggregated subquery; exact decimal sums on both sides.
  private val q18ish =
    """SELECT c_name, o_orderkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
      |FROM customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |  AND o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 120)
      |GROUP BY c_name, o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  // TPC-H Q20-shaped: NESTED IN subqueries (suppliers shipping small
  // parts in volume) — a semi join whose build side itself contains a
  // semi join under a grouped HAVING.
  private val q20ish =
    """SELECT s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
      |FROM supplier, nation
      |WHERE s_nationkey = n_nationkey
      |  AND n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      |  AND s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size < 10)
      |    GROUP BY l_suppkey
      |    HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 50)
      |ORDER BY s_name""".stripMargin

  // ---------------------------------------------------------------------
  // TPC-H 1–22 completion (the reference's flink-tpch-test /
  // test_tpch.sh runs the full 22-query sweep against golden answers;
  // flink-end-to-end-tests/test-scripts/test_tpch.sh:33). Together with
  // q2/q3/q5/q17/q18/q20/q21 above, every TPC-H query has an oracle row.
  // Conventions (see Q's scaladoc): exact DECIMAL through every
  // intermediate, one CAST to DOUBLE at output; ratios restated as
  // numerator/denominator pairs or cross-multiplications; the testdata
  // schema lacks partsupp/l_shipmode/l_commitdate/o_comment/c_phone, so
  // q9/q11/q12/q13/q16/q19/q22 keep the canonical STRUCTURE (the shape
  // Catalyst must plan) over the nearest available columns.
  // ---------------------------------------------------------------------

  // TPC-H Q1: full-table pricing summary. Triple decimal product kept
  // narrow — (12,2)·(5,2)·(5,2) → (24,6) — so neither engine hits its
  // 38-digit cap (where Spark would shave scale and DuckDB would widen);
  // averages are ONE double division of two exact values (bit-identical
  // cross-engine, single IEEE op).
  private val q1ish =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // TPC-H Q4: order-priority checking — correlated EXISTS whose
  // predicate references BOTH tables ("late line exists"; testdata has
  // no commit/receipt dates, so lateness is shipdate vs orderdate).
  private val q4ish =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey
      |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // TPC-H Q6: forecast revenue — pure scan+filter+agg, the query whose
  // plan must be a single scan with every predicate pushed down.
  private val q6ish =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount >= 0.05 AND l_discount <= 0.07
      |  AND l_quantity < 24""".stripMargin

  // TPC-H Q7: volume shipping between nation pairs — the same nation
  // table joined TWICE (supplier side and customer side) with a
  // symmetric pair predicate, grouped by ship year.
  private val q7ish =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume
      |  FROM supplier, lineitem, orders, customer, nation n1, nation n2
      |  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      |    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      |    AND c_nationkey = n2.n_nationkey
      |    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // TPC-H Q8: national market share — the canonical ratio
  // SUM(CASE nation)/SUM(all) emitted as the exact numerator/denominator
  // PAIR (a double division at sf would be FP-order-dependent only in
  // the summation, which stays decimal here; the pair keeps the gate
  // exact and the ratio is one client-side division away).
  private val q8ish =
    """SELECT o_year,
      |  CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_volume,
      |  CAST(SUM(volume) AS DOUBLE) AS total_volume
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) AS volume,
      |    n2.n_name AS nation
      |  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
      |  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
      |    AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
      |    AND p_type = 'ECONOMY') all_nations
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // TPC-H Q9: product-type profit — profit per nation per year. The
  // testdata has no partsupp, so supply cost is restated from
  // p_retailprice·quantity (same 5-table join + LIKE filter + signed
  // decimal arithmetic the canonical query plans).
  private val q9ish =
    """SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |      - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) AS amount
      |  FROM part, supplier, lineitem, orders, nation
      |  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
      |    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
      |    AND p_name LIKE '%red%') profit
      |GROUP BY nation, o_year ORDER BY nation, o_year""".stripMargin

  // TPC-H Q10: returned-item reporting — top 20 customers by lost
  // revenue; the LIMIT boundary is made deterministic by the c_custkey
  // tiebreaker (revenue alone could tie at the cut).
  private val q10ish =
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  CAST(c_acctbal AS DOUBLE) AS acctbal, n_name
      |FROM customer, orders, lineitem, nation
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // TPC-H Q11: important stock — scalar subquery in HAVING against the
  // whole-group total (no partsupp: part value restated from lineitem
  // through one nation's suppliers). The canonical
  // `> SUM(total)·fraction` is cross-multiplied INSIDE the per-term
  // product (·500 on each term keeps precision at (29,4); multiplying
  // the 38-digit SUM would force Spark's precision-loss scale shave).
  private val q11ish =
    """SELECT l_partkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS part_value
      |FROM lineitem, supplier, nation
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_name = 'NATION_1'
      |GROUP BY l_partkey
      |HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * 500)
      |  > (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)))
      |     FROM lineitem, supplier, nation
      |     WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |       AND n_name = 'NATION_1')
      |ORDER BY part_value DESC, l_partkey""".stripMargin

  // TPC-H Q12: shipmode priority classification — conditional counting
  // (SUM CASE) split by order priority; testdata has no l_shipmode, so
  // the grouping dimension is l_returnflag and "late" is shipdate vs
  // orderdate (the join + CASE-counting shape is what's under test).
  private val q12ish =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders, lineitem
      |WHERE o_orderkey = l_orderkey
      |  AND l_shipdate > o_orderdate + INTERVAL 45 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // TPC-H Q13: customer order-count distribution — LEFT OUTER JOIN with
  // an ON-clause filter (not WHERE: unmatched customers must keep their
  // zero), then a second aggregation OVER the first's result.
  private val q13ish =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin

  // TPC-H Q14: promo revenue — the canonical 100·promo/total ratio as
  // the exact numerator/denominator pair (see q8ish).
  private val q14ish =
    """SELECT
      |  CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
      |    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin

  // TPC-H Q15: top supplier — the reference ships q15 as one of its
  // four modified queries (test-data/tpch/modified-query/q15.sql: the
  // CREATE VIEW becomes inline); same here via a CTE referenced twice,
  // with the MAX matched by exact-decimal equality.
  private val q15ish =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
      |FROM supplier, revenue
      |WHERE s_suppkey = supplier_no
      |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // TPC-H Q16: parts/supplier relationship — NOT IN anti-join against a
  // filtered supplier set (acctbal<0 stands in for the comment-based
  // "complaints" filter) + COUNT(DISTINCT) under multi-predicate part
  // filters, grouped by three part attributes.
  private val q16ish =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND p_brand <> 'Brand#1'
      |  AND p_type NOT LIKE 'PROMO%'
      |  AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // TPC-H Q19: discounted revenue — three disjunctive attribute
  // brackets (brand × size band × quantity band). The equi-join key is
  // hoisted out of the OR (canonical text repeats it per arm; hoisting
  // is the rewrite every production engine needs for a hash join here —
  // leaving it inside the OR degrades Spark to a cartesian BNLJ).
  private val q19ish =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey
      |  AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
      |      AND l_quantity >= 1 AND l_quantity <= 11)
      |    OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
      |      AND l_quantity >= 10 AND l_quantity <= 20)
      |    OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
      |      AND l_quantity >= 20 AND l_quantity <= 30))""".stripMargin

  // TPC-H Q22: global sales opportunity — country code from the
  // customer key digits (no c_phone in testdata), the
  // "above-average balance" filter cross-multiplied into
  // balance·COUNT > SUM (both sides exact), and NOT EXISTS anti-join
  // against orders (restricted to URGENT orders: every testdata
  // customer has SOME order, which would make the canonical arm
  // vacuous and the gate empty).
  private val q22ish =
    """SELECT cntrycode, COUNT(*) AS numcust,
      |  CAST(SUM(acctbal) AS DOUBLE) AS totacctbal
      |FROM (
      |  SELECT SUBSTRING(c_name, 17, 2) AS cntrycode,
      |    CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal
      |  FROM customer
      |  WHERE SUBSTRING(c_name, 17, 2) IN ('00', '11', '22', '33', '44', '55', '66')
      |    AND CAST(c_acctbal AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM customer WHERE c_acctbal > 0.00)
      |      > (SELECT SUM(CAST(c_acctbal AS DECIMAL(12,2))) FROM customer WHERE c_acctbal > 0.00)
      |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |      AND o_orderpriority = '1-URGENT')) custsale
      |GROUP BY cntrycode ORDER BY cntrycode""".stripMargin

  // GROUPING() disambiguation over CUBE (the reference's
  // GROUPING/GROUPING_ID surface; a NULL group key vs a rolled-up key
  // are indistinguishable without it).
  private val groupingFn =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
      |  COUNT(*) AS n
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // WITH RECURSIVE (Spark 4's recursive CTE — the iterative-closure
  // class of query the reference reaches via its iterate operators,
  // expressed relationally): 5-hop doc-id chains from each century
  // anchor, aggregated per root.
  private val recursiveCte =
    """WITH RECURSIVE chain AS (
      |  SELECT doc_id, doc_id AS root, 0 AS depth FROM documents WHERE doc_id % 100 = 0
      |  UNION ALL
      |  SELECT d.doc_id, c.root, c.depth + 1
      |  FROM chain c JOIN documents d ON d.doc_id = c.doc_id + 1
      |  WHERE c.depth < 4)
      |SELECT root, COUNT(*) AS n, CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM chain GROUP BY root ORDER BY root""".stripMargin

  /** JVM-scoped hive session cache for q_sql_hive (see there). */
  @volatile private var hiveSession
      : Option[org.apache.spark.sql.SparkSession] = None

  private[queries] val all: Map[String, String] = Map(
    "q_sql_groupingsets" -> groupingSets,
    "q_sql_groupingfn" -> groupingFn,
    "q_sql_recursive" -> recursiveCte,
    "q_sql_tpch3" -> q3ish,
    "q_sql_tpch5" -> q5ish,
    "q_sql_tpch17" -> q17ish,
    "q_sql_tpch2" -> q2ish,
    "q_sql_tpch21" -> q21ish,
    "q_sql_tpch18" -> q18ish,
    "q_sql_tpch20" -> q20ish,
    "q_sql_tpch1" -> q1ish,
    "q_sql_tpch4" -> q4ish,
    "q_sql_tpch6" -> q6ish,
    "q_sql_tpch7" -> q7ish,
    "q_sql_tpch8" -> q8ish,
    "q_sql_tpch9" -> q9ish,
    "q_sql_tpch10" -> q10ish,
    "q_sql_tpch11" -> q11ish,
    "q_sql_tpch12" -> q12ish,
    "q_sql_tpch13" -> q13ish,
    "q_sql_tpch14" -> q14ish,
    "q_sql_tpch15" -> q15ish,
    "q_sql_tpch16" -> q16ish,
    "q_sql_tpch19" -> q19ish,
    "q_sql_tpch22" -> q22ish
  )

  val queries: Map[String, QFn] = all.map { case (name, sql) =>
    name -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sql)
    }): (String, QFn)
  } ++ Map[String, QFn](

    // Connector DDL front door (operators/ConnectorDdl via GraftSql):
    // CREATE TABLE … WITH ('connector'='filesystem') over the lineitem
    // parquet, with a computed column — then query it. The oracle states
    // the computed column inline over the raw table.
    "q_sql_ddl" -> ((s, dir) => {
      graft.GraftSql.sql(s,
        s"""CREATE TABLE ddl_li (
           |  l_orderkey BIGINT,
           |  l_quantity DOUBLE,
           |  l_returnflag STRING,
           |  qty2 AS l_quantity * 2
           |) WITH ('connector' = 'filesystem',
           |        'path' = '$dir/lineitem.parquet',
           |        'format' = 'parquet')""".stripMargin)
      graft.GraftSql.sql(s,
        """SELECT l_returnflag,
          |  CAST(SUM(CAST(qty2 AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty2,
          |  COUNT(*) AS n
          |FROM ddl_li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    // INSERT INTO a filesystem sink table (OVERWRITE so repeated verify
    // runs converge), then read the materialized table back through the
    // same front door.
    "q_sql_ddl_sink" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_sql_ddl_sink")
      graft.GraftSql.sql(s,
        s"""CREATE TABLE ddl_sink (l_returnflag STRING, sum_qty DOUBLE)
           |WITH ('connector' = 'filesystem', 'path' = '$out/t',
           |      'format' = 'parquet')""".stripMargin)
      graft.GraftSql.sql(s,
        """INSERT OVERWRITE ddl_sink
          |SELECT l_returnflag,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
          |FROM lineitem GROUP BY l_returnflag""".stripMargin)
      graft.GraftSql.sql(s,
        "SELECT * FROM ddl_sink ORDER BY l_returnflag")
    }),

    // Streaming INSERT of an UNWINDOWED aggregate into a PRIMARY KEY
    // table — the changelog-inference happy path at the SQL front door
    // (ConnectorDdl's streaming PK branch; the reference's
    // FlinkChangelogModeInferenceProgram → upsert materialization): the
    // update stream routes through the keyed merge batch-by-batch
    // (one-file triggers force a SECOND micro-batch, so its merge must
    // overwrite the first batch's key versions — two batches carry the
    // full cross-boundary PK-collision bite at half the r18 cost, the
    // same chunk-halving the replay gates got in r11), and the
    // read-back equals the batch restatement over the same rows.
    "q_stream_upsert_route" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_upsert_route")
      Tables.load(s, dir, "events")
        .filter(org.apache.spark.sql.functions.col("event_id") % 2 === 0)
        .select("event_type", "value")
        .repartition(2).write.mode("overwrite").parquet(s"$out/src")
      graft.GraftSql.sql(s,
        s"""CREATE TABLE uproute_src (event_type STRING, value DOUBLE)
           |WITH ('connector' = 'filesystem', 'path' = '$out/src',
           |      'format' = 'parquet', 'scan.streaming' = 'true',
           |      'parquet.maxFilesPerTrigger' = '1')""".stripMargin)
      graft.GraftSql.sql(s,
        s"""CREATE TABLE uproute_dst (event_type STRING, n BIGINT,
           |  sum_cents BIGINT, PRIMARY KEY (event_type) NOT ENFORCED)
           |WITH ('connector' = 'filesystem', 'path' = '$out/dst',
           |      'format' = 'parquet')""".stripMargin)
      graft.GraftSql.sql(s,
        """INSERT INTO uproute_dst
          |SELECT event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
          |FROM uproute_src GROUP BY event_type""".stripMargin)
      graft.GraftSql.sql(s,
        "SELECT event_type, n, sum_cents FROM uproute_dst ORDER BY event_type")
    }),

    // Materialized table (FLIP-435 — operators/MaterializedTable): a
    // FULL-mode materialization over orders, REFRESHed once (the
    // lifecycle statement re-runs the definition), then read back; must
    // equal the declarative aggregate.
    "q_sql_mattable" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_sql_mattable")
      graft.GraftSql.sql(s,
        s"""CREATE MATERIALIZED TABLE mt_orders
           |WITH ('path' = '$out/t')
           |FRESHNESS = INTERVAL '1' HOUR
           |AS SELECT o_orderstatus, COUNT(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
           |FROM orders GROUP BY o_orderstatus""".stripMargin)
      graft.GraftSql.sql(s, "ALTER MATERIALIZED TABLE mt_orders REFRESH")
      graft.GraftSql.sql(s,
        "SELECT * FROM mt_orders ORDER BY o_orderstatus")
    }),

    // CONTINUOUS materialized table under the gate: a file-monitor
    // source feeds a continuously-refreshed materialization; half the
    // events exist at CREATE (initial image), the rest append while the
    // job runs, and the final aggregate over the MATERIALIZED view must
    // equal batch SQL over all events — a missed commit, a stale read
    // view, or double-processing on the resume path breaks the hash.
    "q_sql_mattable_cont" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_sql_mtcont")
      val src = s"$out/src"
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          col("value").cast("double").as("value"))
      ev.filter(col("event_id") % 2 === 0).write.mode("overwrite").parquet(src)
      graft.GraftSql.sql(s,
        s"""CREATE TABLE mtc_src (event_id BIGINT, event_type STRING, value DOUBLE)
           |WITH ('connector' = 'filesystem', 'path' = '$src',
           |      'format' = 'parquet', 'scan.streaming' = 'true')""".stripMargin)
      graft.GraftSql.sql(s,
        s"""CREATE MATERIALIZED TABLE mt_cont
           |WITH ('path' = '$out/t', 'checkpoint' = '$out/ckpt')
           |FRESHNESS = INTERVAL '30' SECOND
           |AS SELECT event_id, event_type,
           |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           |FROM mtc_src""".stripMargin)
      // the second half arrives while the job runs
      ev.filter(col("event_id") % 2 =!= 0).write.mode("append").parquet(src)
      graft.operators.MaterializedTable.sync(s, "mt_cont")
      val result = graft.GraftSql.sql(s,
        """SELECT event_type, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
          |FROM mt_cont GROUP BY event_type ORDER BY event_type""".stripMargin)
      // materialize the answer, then stop the job (Verify/Bench hygiene)
      val rows = result.collect()
      graft.GraftSql.sql(s, "DROP MATERIALIZED TABLE mt_cont")
      graft.GraftSql.sql(s, "DROP TABLE mtc_src")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    }),

    // Row-level DML (batch DELETE/UPDATE — the reference's
    // SupportsRowLevelDelete/Update copy-on-write shape — plus
    // SqlTruncateTable-adjacent rewrite machinery): orders materialize
    // via CTAS, a DELETE drops every third order, an UPDATE bumps every
    // fifth surviving order's cents, and the read-back aggregate must
    // equal the declarative restatement.
    "q_sql_dml" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_sql_dml")
      graft.GraftSql.sql(s,
        s"""CREATE TABLE dml_orders WITH ('connector' = 'filesystem',
           |  'path' = '$out/t', 'format' = 'parquet')
           |AS SELECT o_orderkey,
           |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
           |  o_orderstatus
           |FROM orders""".stripMargin)
      graft.GraftSql.sql(s, "DELETE FROM dml_orders WHERE o_orderkey % 3 = 0")
      graft.GraftSql.sql(s,
        "UPDATE dml_orders SET cents = cents + 5 WHERE o_orderkey % 5 = 0")
      graft.GraftSql.sql(s,
        """SELECT o_orderstatus, COUNT(*) AS n,
          |  CAST(SUM(cents) AS BIGINT) AS sum_cents
          |FROM dml_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // Hive metastore catalog (the reference's flink-connector-hive /
    // HiveCatalog): a SECOND SparkSession on the same SparkContext with
    // `enableHiveSupport` and a derby-backed metastore — CREATE TABLE
    // lands in the metastore catalog (not a temp view), INSERT goes
    // through the hive relation, and the read-back must match the
    // declarative oracle. The session swap is scoped and restored.
    "q_sql_hive" -> ((s, dir) => {
      import org.apache.spark.sql.SparkSession
      val prevActive = SparkSession.getActiveSession
      val prevDefault = SparkSession.getDefaultSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        // ONE hive session + derby metastore per JVM (bench re-runs
        // each query; per-run sessions would accumulate SharedStates,
        // embedded derby databases, and shutdown hooks)
        val hive = SqlQueries.synchronized {
          // a cached session bound to a STOPPED context must rebuild,
          // not serve dead-context errors forever
          hiveSession.filter(h => !h.sparkContext.isStopped).getOrElse {
            val wh = Q.scratchDir("q_sql_hive_wh")
            // embedded metastore on derby's in-memory subprotocol: the
            // metastore db lives exactly as long as the JVM — the same
            // lifetime the scratch-dir db had (Q.scratchDir is reaped at
            // exit), minus derby's on-disk db bootstrap + write-ahead log
            // (r20 A/B, plans/r20/hive_probe_ab.txt: first metastore op
            // 4.4-4.8 s on-disk → 3.6-3.8 s in-memory; schema DDL still
            // runs inside the timed region). The
            // warehouse stays on disk — table data is real file I/O.
            val h = SparkSession.builder()
              .config("spark.sql.warehouse.dir", wh)
              .config("javax.jdo.option.ConnectionURL",
                "jdbc:derby:memory:q_sql_hive_ms;create=true")
              // Hive's session makes this dir at start and never removes
              // it; its default is a new `<session id>_resources` dir in
              // java.io.tmpdir per JVM
              .config("hive.downloaded.resources.dir",
                Q.scratchDir("q_sql_hive_resources"))
              .enableHiveSupport()
              .getOrCreate()
            hiveSession = Some(h)
            h
          }
        }
        // the hive session's frame memo is separate from the base
        // session's (DataFrames are session-bound), so registering all
        // ten tables here re-reads nine unused parquet footers (~1.3 s
        // cold, plans/r20/hive_probe_ab.txt) — this statement only
        // reads `orders`
        Tables.load(hive, dir, "orders").createOrReplaceTempView("orders")
        hive.sql("DROP TABLE IF EXISTS hive_orders_agg")
        hive.sql(
          """CREATE TABLE hive_orders_agg
            |  (o_orderstatus STRING, n BIGINT, sum_cents BIGINT)
            |STORED AS PARQUET""".stripMargin)
        // prove it's the metastore catalog, not a temp view
        require(hive.catalog.tableExists("default.hive_orders_agg"),
          "hive_orders_agg must exist in the metastore catalog")
        hive.sql(
          """INSERT OVERWRITE TABLE hive_orders_agg
            |SELECT o_orderstatus, COUNT(*) AS n,
            |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
            |FROM orders GROUP BY o_orderstatus""".stripMargin)
        hive.sql(
          """SELECT o_orderstatus, n, sum_cents FROM hive_orders_agg
            |ORDER BY o_orderstatus""".stripMargin)
      } finally {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        prevDefault.foreach(SparkSession.setDefaultSession)
        prevActive.foreach(SparkSession.setActiveSession)
      }
    }),

    // PARTITIONED BY sink: orders materialize hash-partitioned by
    // o_orderstatus (directory-per-status layout, dynamic-partition
    // OVERWRITE), plus a STATIC `PARTITION (o_orderstatus = 'X')` insert
    // whose rows take the literal from the clause. Read back through the
    // partitioned scan and aggregate per partition value — lost rows,
    // misrouted partitions, or a clobbered untouched partition each
    // diverge against the declarative oracle.
    "q_sql_ddl_part" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      val out = Q.scratchDir("q_sql_ddl_part")
      graft.GraftSql.sql(s,
        s"""CREATE TABLE ddl_part (o_orderkey BIGINT, cents BIGINT,
           |  o_orderstatus STRING)
           |PARTITIONED BY (o_orderstatus)
           |WITH ('connector' = 'filesystem', 'path' = '$out/t',
           |      'format' = 'parquet')""".stripMargin)
      graft.GraftSql.sql(s,
        """INSERT OVERWRITE ddl_part
          |SELECT o_orderkey,
          |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
          |  o_orderstatus
          |FROM orders""".stripMargin)
      graft.GraftSql.sql(s,
        """INSERT INTO ddl_part PARTITION (o_orderstatus = 'X')
          |SELECT o_orderkey + 10000000,
          |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
          |FROM orders WHERE o_orderkey % 100 = 0""".stripMargin)
      graft.GraftSql.sql(s,
        """SELECT o_orderstatus, COUNT(*) AS n, SUM(cents) AS sum_cents
          |FROM ddl_part GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    })
  )

  // identical SQL text runs as the oracle (the DDL rows restate the
  // computed/materialized columns inline over the raw tables)
  val oracles: Map[String, String] = all ++ Map(
    "q_sql_ddl" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity * 2 AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty2,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sql_ddl_sink" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sql_mattable_cont" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_upsert_route" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sql_dml" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    o_orderstatus
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |u AS (SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0 THEN cents + 5 ELSE cents END AS cents
        |  FROM base)
        |SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM u GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_sql_mattable" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * 100) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_sql_hive" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_sql_ddl_part" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
        |    o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT), 'X'
        |  FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM base GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
}
