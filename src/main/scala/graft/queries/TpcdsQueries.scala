package graft.queries

import graft.Tables
import Q._

/** TPC-DS full sweep, one oracle row per query q1-q99 — the reference
  * ships all 99 TPC-DS queries as its end-to-end bar
  * (flink-end-to-end-tests/flink-tpcds-test/src/
  * main/java/org/apache/flink/table/tpcds/TpcdsTestProgram.java:48,
  * query loop :103-109). The TPC-DS tables don't exist in the testdata,
  * so each query here is the NAMED TPC-DS query's *shape* — its CTE
  * structure, set ops, decorrelation pattern, window/rollup interplay —
  * re-targeted at the TPC-H-ish tables, with `l_returnflag` ('A'/'N'/
  * 'R') standing in for the catalog/store/web channel split (nearby
  * stand-ins where a dim is missing: supplier nation for store state,
  * `x % 10` for store id, `x % 5` for warehouse, `x % 50` for zip,
  * DOY % 7 for the weekday, DOY % 24 for the hour). The SQL is
  * dialect-shared: the identical text runs in Spark and in the DuckDB
  * oracle.
  *
  * Cross-engine determinism rules (same as [[SqlQueries]]): every
  * aggregate that feeds a comparison or an output column is an EXACT
  * decimal sum; ratios divide DOUBLE casts of those exact sums (IEEE
  * division of identical operands is identical in both engines), and
  * `x/y > t` thresholds are restated as cross-multiplications where the
  * operands stay integral. AVG/STDDEV never appear as engine builtins —
  * q39's stddev is restated from n·Σx² − (Σx)² so the value is a
  * deterministic function of exact sums.
  *
  * Scale notes (the 100 TB question): every query here is a pure
  * declarative plan — Catalyst handles the CTE reuse, semi-join
  * decorrelation, and partial aggregation; the only self-joins are on
  * grouped/deduplicated CTEs (q4/q31/q39/q47: post-aggregate frames,
  * orders of magnitude smaller than the fact table) or key-equi self
  * joins (q95's line-level ws_wh, the same shape the real q95 runs on a
  * 1000-node cluster). Nothing collects, nothing is quadratic in the
  * fact table.
  */
object TpcdsQueries {

  // q4-shape: year-over-year growth per customer across two channels; the
  // 4-way self-join of the year_total CTE with the cross-channel growth
  // ratio comparison (cross-multiplied on doubles of exact sums).
  private val q4 =
    """WITH year_total AS (
      |  SELECT c_custkey, c_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total,
      |    'store' AS channel
      |  FROM customer, orders, lineitem
      |  WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'N'
      |  GROUP BY c_custkey, c_name, EXTRACT(YEAR FROM o_orderdate)
      |  UNION ALL
      |  SELECT c_custkey, c_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS total,
      |    'web' AS channel
      |  FROM customer, orders, lineitem
      |  WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'R'
      |  GROUP BY c_custkey, c_name, EXTRACT(YEAR FROM o_orderdate))
      |SELECT t_s_secyear.c_custkey, t_s_secyear.c_name,
      |  CAST(t_s_secyear.total AS DOUBLE) AS store_growth_total,
      |  CAST(t_w_secyear.total AS DOUBLE) AS web_growth_total
      |FROM year_total t_s_firstyear, year_total t_s_secyear,
      |     year_total t_w_firstyear, year_total t_w_secyear
      |WHERE t_s_secyear.c_custkey = t_s_firstyear.c_custkey
      |  AND t_s_firstyear.c_custkey = t_w_secyear.c_custkey
      |  AND t_s_firstyear.c_custkey = t_w_firstyear.c_custkey
      |  AND t_s_firstyear.channel = 'store' AND t_s_secyear.channel = 'store'
      |  AND t_w_firstyear.channel = 'web' AND t_w_secyear.channel = 'web'
      |  AND t_s_firstyear.yr = 1996 AND t_s_secyear.yr = 1997
      |  AND t_w_firstyear.yr = 1996 AND t_w_secyear.yr = 1997
      |  AND t_s_firstyear.total > 0 AND t_w_firstyear.total > 0
      |  AND CAST(t_w_secyear.total AS DOUBLE) * CAST(t_s_firstyear.total AS DOUBLE)
      |    > CAST(t_s_secyear.total AS DOUBLE) * CAST(t_w_firstyear.total AS DOUBLE)
      |ORDER BY t_s_secyear.c_custkey""".stripMargin

  // q9-shape: five CASE buckets, each choosing between two scalar
  // subqueries on a scalar COUNT condition, from a one-row source.
  private def q9Bucket(lo: Int, hi: Int, n: Int): String =
    s"""  CASE WHEN (SELECT COUNT(*) FROM lineitem WHERE l_quantity BETWEEN $lo AND $hi) > 12000
       |    THEN (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN $lo AND $hi)
       |    ELSE (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem WHERE l_quantity BETWEEN $lo AND $hi) END AS bucket$n""".stripMargin
  private val q9 =
    "SELECT\n" + (1 to 5).map(i => q9Bucket(i * 10 - 9, i * 10, i))
      .mkString(",\n") + "\nFROM region WHERE r_regionkey = 0"

  // q14-shape: cross_items via double INTERSECT, a scalar average
  // threshold CTE referenced from three channel HAVINGs, UNION ALL of the
  // channels, outer ROLLUP over (channel, brand).
  private def q14Channel(flag: String): String =
    s"""  SELECT '$flag' AS channel, p_brand,
       |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sales,
       |    COUNT(*) AS number_sales
       |  FROM lineitem, part
       |  WHERE l_partkey = p_partkey AND l_returnflag = '$flag'
       |    AND l_partkey IN (SELECT item FROM cross_items)
       |  GROUP BY p_brand
       |  HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
       |         > (SELECT average_sales FROM avg_sales)""".stripMargin
  private val q14 =
    s"""WITH cross_items AS (
       |  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
       |avg_sales AS (
       |  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
       |       / COUNT(*) AS average_sales
       |  FROM lineitem),
       |channel_sales AS (
       |${q14Channel("A")}
       |  UNION ALL
       |${q14Channel("N")}
       |  UNION ALL
       |${q14Channel("R")})
       |SELECT channel, p_brand, CAST(SUM(sales) AS DOUBLE) AS sum_sales,
       |  CAST(SUM(number_sales) AS BIGINT) AS sum_number_sales
       |FROM channel_sales
       |GROUP BY ROLLUP (channel, p_brand)
       |ORDER BY channel NULLS FIRST, p_brand NULLS FIRST""".stripMargin

  // q14b-shape (the second arm of the reference's query14b.sql —
  // TpcdsTestProgram runs 103 files, a/b arms as distinct queries): the
  // same cross_items + avg_sales CTEs, but instead of the three-channel
  // ROLLUP the b-arm equi-joins a this-year against a last-year grouped
  // instance of ONE channel, each independently HAVING > average_sales.
  private def q14bYear(alias: String, year: Int): String =
    s"""(SELECT 'store' AS channel, p_brand,
       |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sales,
       |    COUNT(*) AS number_sales
       |  FROM lineitem, part, orders
       |  WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
       |    AND l_returnflag = 'N'
       |    AND EXTRACT(YEAR FROM o_orderdate) = $year
       |    AND l_partkey IN (SELECT item FROM cross_items)
       |  GROUP BY p_brand
       |  HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
       |         > (SELECT average_sales FROM avg_sales)) $alias""".stripMargin
  private val q14b =
    s"""WITH cross_items AS (
       |  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
       |  INTERSECT
       |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
       |avg_sales AS (
       |  SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
       |       / COUNT(*) AS average_sales
       |  FROM lineitem)
       |SELECT this_year.channel AS ty_channel, this_year.p_brand AS ty_brand,
       |  CAST(this_year.sales AS DOUBLE) AS ty_sales,
       |  CAST(this_year.number_sales AS BIGINT) AS ty_number_sales,
       |  last_year.channel AS ly_channel, last_year.p_brand AS ly_brand,
       |  CAST(last_year.sales AS DOUBLE) AS ly_sales,
       |  CAST(last_year.number_sales AS BIGINT) AS ly_number_sales
       |FROM
       |${q14bYear("this_year", 1997)},
       |${q14bYear("last_year", 1996)}
       |WHERE this_year.p_brand = last_year.p_brand
       |ORDER BY this_year.channel, this_year.p_brand""".stripMargin

  // q23-shape: frequent items (per-year count HAVING) + best customers
  // (spend above half the max customer spend — scalar MAX subquery,
  // exact decimal cross-multiplication), final-year sum over both INs.
  private val q23 =
    """WITH frequent_items AS (
      |  SELECT l_partkey AS item
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey
      |  GROUP BY l_partkey, EXTRACT(YEAR FROM o_orderdate)
      |  HAVING COUNT(*) > 6),
      |customer_sales AS (
      |  SELECT o_custkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS csales
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey
      |  GROUP BY o_custkey),
      |best_customers AS (
      |  SELECT o_custkey FROM customer_sales
      |  WHERE 2 * csales > (SELECT MAX(csales) FROM customer_sales))
      |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sales,
      |  COUNT(*) AS n
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  AND l_partkey IN (SELECT item FROM frequent_items)
      |  AND o_custkey IN (SELECT o_custkey FROM best_customers)""".stripMargin

  // q23b-shape (reference query23b.sql): same frequent_items +
  // best_customers gating CTEs as the a-arm, but the b-arm's final
  // SELECT is a UNION ALL of two channels grouped PER CUSTOMER with an
  // ordered top-100, instead of the a-arm's single global sum. c_name
  // is unique per customer, so ORDER BY c_name, channel totally orders
  // the result and LIMIT is deterministic in both engines.
  private def q23bChannel(flag: String): String =
    s"""  SELECT c_name, '$flag' AS channel,
       |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sales
       |  FROM lineitem, orders, customer
       |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
       |    AND l_returnflag = '$flag'
       |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
       |    AND l_partkey IN (SELECT item FROM frequent_items)
       |    AND o_custkey IN (SELECT o_custkey FROM best_customers)
       |  GROUP BY c_name""".stripMargin
  private val q23b =
    s"""WITH frequent_items AS (
       |  SELECT l_partkey AS item
       |  FROM lineitem, orders
       |  WHERE l_orderkey = o_orderkey
       |  GROUP BY l_partkey, EXTRACT(YEAR FROM o_orderdate)
       |  HAVING COUNT(*) > 6),
       |customer_sales AS (
       |  SELECT o_custkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS csales
       |  FROM lineitem, orders
       |  WHERE l_orderkey = o_orderkey
       |  GROUP BY o_custkey),
       |best_customers AS (
       |  SELECT o_custkey FROM customer_sales
       |  WHERE 2 * csales > (SELECT MAX(csales) FROM customer_sales))
       |SELECT c_name, channel, sales FROM (
       |${q23bChannel("A")}
       |  UNION ALL
       |${q23bChannel("R")})
       |ORDER BY c_name, channel
       |LIMIT 100""".stripMargin

  // q24-shape: grouped CTE re-aggregated with a HAVING against a scalar
  // fraction of the CTE-wide total (sum·cnt > 3·total ⇔ sum > 3·avg).
  private val q24 =
    """WITH ssales AS (
      |  SELECT c_name, s_name, n_name,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS netpaid
      |  FROM lineitem, orders, customer, supplier, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND l_returnflag = 'R'
      |  GROUP BY c_name, s_name, n_name)
      |SELECT c_name, s_name, CAST(SUM(netpaid) AS DOUBLE) AS paid
      |FROM ssales
      |GROUP BY c_name, s_name
      |HAVING CAST(SUM(netpaid) AS DOUBLE) * (SELECT COUNT(*) FROM ssales)
      |     > 3 * (SELECT CAST(SUM(netpaid) AS DOUBLE) FROM ssales)
      |ORDER BY c_name, s_name""".stripMargin

  // q24b-shape (reference query24b.sql): the a/b arms share one ssales
  // CTE and differ by the OUTER selection — the grouping carries the
  // selective column (the reference's i_color, here l_returnflag) so the
  // outer WHERE picks a different slice while the HAVING's scalar
  // subqueries still range over the WHOLE unfiltered CTE. sum > 0.05·avg
  // is cross-multiplied: 20·sum·cnt > total, on doubles of exact sums.
  private val q24b =
    """WITH ssales AS (
      |  SELECT c_name, s_name, n_name, l_returnflag,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS netpaid
      |  FROM lineitem, orders, customer, supplier, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  GROUP BY c_name, s_name, n_name, l_returnflag)
      |SELECT c_name, s_name, CAST(SUM(netpaid) AS DOUBLE) AS paid
      |FROM ssales
      |WHERE l_returnflag = 'A'
      |GROUP BY c_name, s_name
      |HAVING CAST(SUM(netpaid) AS DOUBLE) * 20 * (SELECT COUNT(*) FROM ssales)
      |     > (SELECT CAST(SUM(netpaid) AS DOUBLE) FROM ssales)
      |ORDER BY c_name, s_name""".stripMargin

  // q31-shape: per-nation quarter-over-quarter growth compared across two
  // channels (4-way join of two grouped CTE instances each).
  private val q31 =
    """WITH ss AS (
      |  SELECT n_name, CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS store_sales
      |  FROM lineitem, orders, customer, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n_nationkey AND l_returnflag = 'N'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY n_name, EXTRACT(QUARTER FROM o_orderdate)),
      |ws AS (
      |  SELECT n_name, CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS web_sales
      |  FROM lineitem, orders, customer, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |    AND c_nationkey = n_nationkey AND l_returnflag = 'R'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY n_name, EXTRACT(QUARTER FROM o_orderdate))
      |SELECT ss1.n_name,
      |  CAST(ss1.store_sales AS DOUBLE) AS store_q1,
      |  CAST(ss2.store_sales AS DOUBLE) AS store_q2,
      |  CAST(ws1.web_sales AS DOUBLE) AS web_q1,
      |  CAST(ws2.web_sales AS DOUBLE) AS web_q2
      |FROM ss ss1, ss ss2, ws ws1, ws ws2
      |WHERE ss1.n_name = ss2.n_name AND ss1.n_name = ws1.n_name AND ss1.n_name = ws2.n_name
      |  AND ss1.qtr = 1 AND ss2.qtr = 2 AND ws1.qtr = 1 AND ws2.qtr = 2
      |  AND ss1.store_sales > 0 AND ws1.web_sales > 0
      |  AND CAST(ws2.web_sales AS DOUBLE) * CAST(ss1.store_sales AS DOUBLE)
      |    > CAST(ss2.store_sales AS DOUBLE) * CAST(ws1.web_sales AS DOUBLE)
      |ORDER BY ss1.n_name""".stripMargin

  // q35-shape: EXISTS and (EXISTS OR EXISTS) against three correlated
  // subqueries, grouped demographic stats over the survivors.
  private val q35 =
    """SELECT n_name, c_mktsegment, COUNT(*) AS cnt,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
      |  CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS min_bal,
      |  CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS max_bal
      |FROM customer, nation
      |WHERE c_nationkey = n_nationkey
      |  AND EXISTS (SELECT 1 FROM orders WHERE c_custkey = o_custkey AND o_orderstatus = 'O')
      |  AND (EXISTS (SELECT 1 FROM orders, lineitem
      |         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'A')
      |    OR EXISTS (SELECT 1 FROM orders, lineitem
      |         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'R'))
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  // q36-shape: gross-margin ratio over ROLLUP(type, brand) with RANK
  // partitioned by the grouping level (lochierarchy) and the parent key.
  private val q36 =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
      |     / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS gross_margin,
      |  p_type, p_brand,
      |  CAST(GROUPING(p_type) + GROUPING(p_brand) AS BIGINT) AS lochierarchy,
      |  CAST(RANK() OVER (
      |    PARTITION BY GROUPING(p_type) + GROUPING(p_brand),
      |      CASE WHEN GROUPING(p_brand) = 0 THEN p_type END
      |    ORDER BY CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE)
      |           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) ASC) AS BIGINT) AS rank_within_parent
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |GROUP BY ROLLUP (p_type, p_brand)
      |ORDER BY lochierarchy DESC, p_type NULLS FIRST, rank_within_parent""".stripMargin

  // q39-shape: per-(supplier, month) mean and stddev — stddev restated
  // from exact decimal sums (n·Σx² − (Σx)²) so both engines agree
  // bit-for-bit — consecutive-month self-join of the high-variance rows.
  private val q39 =
    """WITH inv AS (
      |  SELECT l_suppkey, CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mon,
      |    COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sq
      |  FROM lineitem
      |  WHERE EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY l_suppkey, EXTRACT(MONTH FROM l_shipdate)
      |  HAVING COUNT(*) > 1),
      |stats AS (
      |  SELECT l_suppkey, mon,
      |    CAST(s AS DOUBLE) / n AS mean,
      |    SQRT((n * CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (n * (n - 1.0))) AS stdev
      |  FROM inv),
      |candidates AS (
      |  SELECT l_suppkey, mon, mean, stdev FROM stats
      |  WHERE mean > 0 AND 4 * stdev > 3 * mean)
      |SELECT c1.l_suppkey, c1.mon AS mon1, c1.mean AS mean1, c1.stdev AS stdev1,
      |  c2.mon AS mon2, c2.mean AS mean2, c2.stdev AS stdev2
      |FROM candidates c1, candidates c2
      |WHERE c1.l_suppkey = c2.l_suppkey AND c1.mon + 1 = c2.mon
      |ORDER BY c1.l_suppkey, c1.mon""".stripMargin

  // q39b-shape (reference query39b.sql): byte-identical to the a-arm
  // except the extra coefficient-of-variation floor on the FIRST month
  // (the reference's `inv1.cov > 1.5`; this data's cov tops out near
  // 1.17, so the floor sits at 0.9 — cross-multiplied 10·stdev > 9·mean
  // so the comparison runs on doubles of exact sums, never a ratio —
  // keeping the b-arm a strict, non-empty subset of the a-arm pairs).
  private val q39b =
    """WITH inv AS (
      |  SELECT l_suppkey, CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mon,
      |    COUNT(*) AS n,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS sq
      |  FROM lineitem
      |  WHERE EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY l_suppkey, EXTRACT(MONTH FROM l_shipdate)
      |  HAVING COUNT(*) > 1),
      |stats AS (
      |  SELECT l_suppkey, mon,
      |    CAST(s AS DOUBLE) / n AS mean,
      |    SQRT((n * CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / (n * (n - 1.0))) AS stdev
      |  FROM inv),
      |candidates AS (
      |  SELECT l_suppkey, mon, mean, stdev FROM stats
      |  WHERE mean > 0 AND 4 * stdev > 3 * mean)
      |SELECT c1.l_suppkey, c1.mon AS mon1, c1.mean AS mean1, c1.stdev AS stdev1,
      |  c2.mon AS mon2, c2.mean AS mean2, c2.stdev AS stdev2
      |FROM candidates c1, candidates c2
      |WHERE c1.l_suppkey = c2.l_suppkey AND c1.mon + 1 = c2.mon
      |  AND 10 * c1.stdev > 9 * c1.mean
      |ORDER BY c1.l_suppkey, c1.mon""".stripMargin

  // q47-shape: monthly brand sales vs the yearly average (deviation filter
  // cross-multiplied on exact decimals), sequenced by RANK and self-joined
  // to the previous and next month (the lag/lead triple).
  private val q47 =
    """WITH monthly AS (
      |  SELECT p_brand, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS msum
      |  FROM lineitem, orders, part
      |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |  GROUP BY p_brand, EXTRACT(YEAR FROM o_orderdate), EXTRACT(MONTH FROM o_orderdate)),
      |yearly AS (
      |  SELECT p_brand, yr, SUM(msum) AS ysum, COUNT(*) AS n_months
      |  FROM monthly GROUP BY p_brand, yr),
      |v1 AS (
      |  SELECT m.p_brand, m.yr, m.mon, m.msum, y.ysum, y.n_months,
      |    RANK() OVER (PARTITION BY m.p_brand ORDER BY m.yr, m.mon) AS rn
      |  FROM monthly m, yearly y
      |  WHERE m.p_brand = y.p_brand AND m.yr = y.yr)
      |SELECT v1.p_brand, v1.yr, v1.mon,
      |  CAST(v1.msum AS DOUBLE) AS sum_sales,
      |  CAST(v1.ysum AS DOUBLE) / v1.n_months AS avg_monthly_sales,
      |  CAST(v1_lag.msum AS DOUBLE) AS psum,
      |  CAST(v1_lead.msum AS DOUBLE) AS nsum
      |FROM v1, v1 v1_lag, v1 v1_lead
      |WHERE v1.p_brand = v1_lag.p_brand AND v1.p_brand = v1_lead.p_brand
      |  AND v1.rn = v1_lag.rn + 1 AND v1.rn = v1_lead.rn - 1
      |  AND v1.yr = 1997
      |  AND ABS(CAST(v1.msum AS DOUBLE) * v1.n_months - CAST(v1.ysum AS DOUBLE)) * 10
      |    > 3 * CAST(v1.ysum AS DOUBLE)
      |ORDER BY v1.p_brand, v1.yr, v1.mon""".stripMargin

  // q49-shape: per-channel return ratios ranked two ways (quantity- and
  // currency-based), top-10 by either rank, channels unioned.
  private def q49Channel(status: String): String =
    s"""  SELECT '$status' AS channel, l_partkey AS item,
       |    SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS ret,
       |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty,
       |    SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS ret_amt,
       |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS amt
       |  FROM lineitem WHERE l_linestatus = '$status' GROUP BY l_partkey""".stripMargin
  private val q49 =
    s"""WITH in_chan AS (
       |${q49Channel("F")}
       |  UNION ALL
       |${q49Channel("O")}),
       |ranked AS (
       |  SELECT channel, item,
       |    CAST(ret AS DOUBLE) / CAST(qty AS DOUBLE) AS return_ratio,
       |    RANK() OVER (PARTITION BY channel ORDER BY CAST(ret AS DOUBLE) / CAST(qty AS DOUBLE), item) AS return_rank,
       |    RANK() OVER (PARTITION BY channel ORDER BY CAST(ret_amt AS DOUBLE) / CAST(amt AS DOUBLE), item) AS currency_rank
       |  FROM in_chan WHERE qty > 0 AND amt > 0)
       |SELECT channel, item, return_ratio, CAST(return_rank AS BIGINT) AS return_rank,
       |  CAST(currency_rank AS BIGINT) AS currency_rank
       |FROM ranked
       |WHERE return_rank <= 10 OR currency_rank <= 10
       |ORDER BY channel, return_rank, currency_rank, item""".stripMargin

  // q51-shape: per-item cumulative channel revenues (SUM over an
  // aggregate, ROWS UNBOUNDED PRECEDING) FULL OUTER JOINed, running MAX
  // of each side compared — web pulling ahead of store. Cumulative sums
  // stay DECIMAL (exact), so the comparison has no FP-order hazard.
  private def q51Channel(flag: String): String =
    s"""  SELECT item, ym,
       |    SUM(SUM(price)) OVER (PARTITION BY item ORDER BY ym
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
       |  FROM (SELECT l_partkey AS item,
       |          CAST(EXTRACT(YEAR FROM l_shipdate) * 100 + EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS ym,
       |          CAST(l_extendedprice AS DECIMAL(12,2)) AS price
       |        FROM lineitem
       |        WHERE l_returnflag = '$flag' AND l_partkey < 200) t
       |  GROUP BY item, ym""".stripMargin
  private val q51 =
    s"""WITH web_v1 AS (
       |${q51Channel("R")}),
       |store_v1 AS (
       |${q51Channel("N")}),
       |x AS (
       |  SELECT CASE WHEN web.item IS NOT NULL THEN web.item ELSE store.item END AS item,
       |    CASE WHEN web.ym IS NOT NULL THEN web.ym ELSE store.ym END AS ym,
       |    web.cume_sales AS web_sales, store.cume_sales AS store_sales
       |  FROM web_v1 web FULL OUTER JOIN store_v1 store
       |    ON web.item = store.item AND web.ym = store.ym)
       |SELECT item, ym,
       |  CAST(web_cumulative AS DOUBLE) AS web_cumulative,
       |  CAST(store_cumulative AS DOUBLE) AS store_cumulative
       |FROM (
       |  SELECT item, ym,
       |    MAX(web_sales) OVER (PARTITION BY item ORDER BY ym ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
       |    MAX(store_sales) OVER (PARTITION BY item ORDER BY ym ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
       |  FROM x) y
       |WHERE web_cumulative > store_cumulative
       |ORDER BY item, ym""".stripMargin

  // q67-shape: sales over a deep ROLLUP (5 dims), RANK per category
  // partition (NULL rollup keys form their own partition), top-5 kept.
  private val q67 =
    """SELECT * FROM (
      |  SELECT p_type, p_brand, l_linestatus, yr, qtr, sumsales,
      |    CAST(RANK() OVER (PARTITION BY p_type ORDER BY sumsales DESC NULLS LAST) AS BIGINT) AS rk
      |  FROM (
      |    SELECT p_type, p_brand, l_linestatus,
      |      CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
      |      CAST(EXTRACT(QUARTER FROM l_shipdate) AS BIGINT) AS qtr,
      |      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sumsales
      |    FROM lineitem, part
      |    WHERE l_partkey = p_partkey AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |    GROUP BY ROLLUP (p_type, p_brand, l_linestatus, EXTRACT(YEAR FROM l_shipdate), EXTRACT(QUARTER FROM l_shipdate))) dw1) dw2
      |WHERE rk <= 5
      |ORDER BY p_type NULLS FIRST, p_brand NULLS FIRST, l_linestatus NULLS FIRST,
      |  yr NULLS FIRST, qtr NULLS FIRST, rk, sumsales""".stripMargin

  // q70-shape: ROLLUP(region, nation) with RANK partitioned by grouping
  // level, nations pre-filtered by a windowed-rank IN subquery.
  private val q70 =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_sum,
      |  r_name, n_name,
      |  CAST(GROUPING(r_name) + GROUPING(n_name) AS BIGINT) AS lochierarchy,
      |  CAST(RANK() OVER (
      |    PARTITION BY GROUPING(r_name) + GROUPING(n_name),
      |      CASE WHEN GROUPING(n_name) = 0 THEN r_name END
      |    ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC) AS BIGINT) AS rank_within_parent
      |FROM lineitem, supplier, nation, region
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |  AND n_regionkey = r_regionkey
      |  AND n_name IN (
      |    SELECT n_name FROM (
      |      SELECT n_name, RANK() OVER (ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC) AS ranking
      |      FROM lineitem, supplier, nation
      |      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |      GROUP BY n_name) tmp
      |    WHERE ranking <= 12)
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY lochierarchy DESC, r_name NULLS FIRST, n_name NULLS FIRST, rank_within_parent""".stripMargin

  // q88-shape: eight scalar-count subqueries cross-joined into one row.
  private val q88 =
    "SELECT * FROM\n" + (1 to 8).map { m =>
      s"""  (SELECT COUNT(*) AS h$m FROM lineitem WHERE EXTRACT(MONTH FROM l_shipdate) = $m AND l_quantity < 25) s$m"""
    }.mkString(",\n")

  // q95-shape: multi-supplier orders CTE used twice (plain IN + an IN
  // whose subquery itself INs the CTE), distinct-order aggregate.
  private val q95 =
    """WITH ws_wh AS (
      |  SELECT DISTINCT l1.l_orderkey
      |  FROM lineitem l1, lineitem l2
      |  WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey)
      |SELECT COUNT(DISTINCT o_orderkey) AS order_count,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
      |  AND o_orderstatus = 'F'
      |  AND o_orderkey IN (SELECT l_orderkey FROM ws_wh)
      |  AND o_orderkey IN (
      |    SELECT l_orderkey FROM lineitem
      |    WHERE l_returnflag = 'R' AND l_orderkey IN (SELECT l_orderkey FROM ws_wh))""".stripMargin

  // q97-shape: two per-channel DISTINCT (customer, item) CTEs FULL OUTER
  // JOINed, counting both/store-only/web-only.
  private val q97 =
    """WITH ssci AS (
      |  SELECT DISTINCT o_custkey AS customer, l_partkey AS item
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'),
      |csci AS (
      |  SELECT DISTINCT o_custkey AS customer, l_partkey AS item
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |SELECT CAST(SUM(CASE WHEN ssci.customer IS NOT NULL AND csci.customer IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
      |  CAST(SUM(CASE WHEN ssci.customer IS NULL AND csci.customer IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
      |  CAST(SUM(CASE WHEN ssci.customer IS NOT NULL AND csci.customer IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
      |FROM ssci FULL OUTER JOIN csci
      |  ON ssci.customer = csci.customer AND ssci.item = csci.item""".stripMargin

  // ---------------------------------------------------------------- batch 2
  // The remaining structural families of the 99-query suite, one named
  // representative each (same determinism rules).

  // q1-shape: grouped-returns CTE, correlated scalar average per nation
  // (restated exactly: 5·total > 6·sum/cnt ⇔ total > 1.2·avg).
  private val q1 =
    """WITH customer_total_return AS (
      |  SELECT o_custkey AS ctr_customer, c_nationkey AS ctr_nation,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS ctr_total_return
      |  FROM lineitem, orders, customer
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_returnflag = 'R'
      |  GROUP BY o_custkey, c_nationkey)
      |SELECT ctr1.ctr_customer, CAST(ctr1.ctr_total_return AS DOUBLE) AS total_return
      |FROM customer_total_return ctr1
      |WHERE CAST(ctr1.ctr_total_return AS DOUBLE) * 5 > (
      |    SELECT 6 * CAST(SUM(ctr2.ctr_total_return) AS DOUBLE) / COUNT(*)
      |    FROM customer_total_return ctr2
      |    WHERE ctr1.ctr_nation = ctr2.ctr_nation)
      |ORDER BY ctr1.ctr_customer""".stripMargin

  // q5-shape: ROLLUP over a UNION ALL of per-channel profit tables.
  private def q5Channel(flag: String): String =
    s"""  SELECT '${if (flag == "N") "store" else "web"}' AS channel, n_name,
       |    CAST(l_extendedprice AS DECIMAL(12,2)) AS sales,
       |    CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2)) AS profit_loss
       |  FROM lineitem, supplier, nation
       |  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND l_returnflag = '$flag'""".stripMargin
  private val q5 =
    s"""WITH all_sales AS (
       |${q5Channel("N")}
       |  UNION ALL
       |${q5Channel("R")})
       |SELECT channel, n_name, CAST(SUM(sales) AS DOUBLE) AS total_sales,
       |  CAST(SUM(profit_loss) AS DOUBLE) AS total_profit_loss
       |FROM all_sales
       |GROUP BY ROLLUP (channel, n_name)
       |ORDER BY channel NULLS FIRST, n_name NULLS FIRST""".stripMargin

  // q17-shape: one order's lines flowing through three channels — the
  // fact table joined to itself three times with channel + sequence
  // constraints, aggregated per brand.
  private val q17 =
    """SELECT p_brand,
      |  COUNT(*) AS cnt,
      |  CAST(SUM(sq) AS BIGINT) AS store_qty,
      |  CAST(SUM(aq) AS BIGINT) AS asale_qty,
      |  CAST(SUM(rq) AS BIGINT) AS return_qty
      |FROM (
      |  SELECT s.l_partkey AS pk,
      |    CAST(s.l_quantity AS BIGINT) AS sq,
      |    CAST(a.l_quantity AS BIGINT) AS aq,
      |    CAST(r.l_quantity AS BIGINT) AS rq
      |  FROM lineitem s, lineitem a, lineitem r
      |  WHERE s.l_orderkey = a.l_orderkey AND a.l_orderkey = r.l_orderkey
      |    AND s.l_returnflag = 'N' AND a.l_returnflag = 'A' AND r.l_returnflag = 'R'
      |    AND s.l_linenumber < a.l_linenumber AND a.l_linenumber < r.l_linenumber) t, part
      |WHERE pk = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q34-shape: order-size frequency band (HAVING COUNT BETWEEN) joined
  // back to the customer dimension, per-order output.
  private val q34 =
    """SELECT c_name, ok AS o_orderkey, cnt
      |FROM (
      |  SELECT o_orderkey AS ok, o_custkey AS ck, COUNT(*) AS cnt
      |  FROM orders, lineitem
      |  WHERE o_orderkey = l_orderkey
      |  GROUP BY o_orderkey, o_custkey
      |  HAVING COUNT(*) BETWEEN 6 AND 7) freq, customer
      |WHERE ck = c_custkey
      |ORDER BY c_name, o_orderkey""".stripMargin

  // q38-shape: INTERSECT of three multi-column tuples (q14 intersects a
  // single column; this is the tuple form), then a count.
  private def q38Set(flag: String): String =
    s"""  SELECT DISTINCT c_custkey, c_name FROM customer, orders, lineitem
       |  WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = '$flag'""".stripMargin
  private val q38 =
    s"""SELECT COUNT(*) AS hot_cust
       |FROM (
       |${q38Set("A")}
       |  INTERSECT
       |${q38Set("N")}
       |  INTERSECT
       |${q38Set("R")}) hot""".stripMargin

  // q40-shape: before/after pivot around a boundary date per (nation, part).
  private val q40 =
    """SELECT n_name, p_brand,
      |  CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sales_before,
      |  CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      |    THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sales_after
      |FROM lineitem, supplier, nation, part
      |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey AND l_partkey = p_partkey
      |  AND p_size < 8
      |  AND l_shipdate BETWEEN TIMESTAMP '1997-07-01 00:00:00' AND TIMESTAMP '1998-06-30 00:00:00'
      |GROUP BY n_name, p_brand
      |ORDER BY n_name, p_brand""".stripMargin

  // q41-shape: dimension self-subquery with a deeply OR-nested predicate
  // block under a correlated COUNT.
  private val q41 =
    """SELECT DISTINCT p_name
      |FROM part p1
      |WHERE p_partkey < 400
      |  AND (SELECT COUNT(*) FROM part p2
      |       WHERE p2.p_brand = p1.p_brand
      |         AND ((p2.p_type LIKE 'E%' AND p2.p_size BETWEEN 1 AND 15)
      |           OR (p2.p_type LIKE 'M%' AND p2.p_size BETWEEN 10 AND 30)
      |           OR (p2.p_type LIKE 'S%' AND p2.p_size BETWEEN 20 AND 40))) > 0
      |ORDER BY p_name""".stripMargin

  // q44-shape: best and worst performers by asc/desc rank joined at
  // equal rank positions against the dimension twice.
  private val q44 =
    """WITH perf AS (
      |  SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
      |  FROM lineitem GROUP BY l_suppkey),
      |asc_rank AS (
      |  SELECT l_suppkey, RANK() OVER (ORDER BY CAST(rev AS DOUBLE), l_suppkey) AS rnk
      |  FROM perf),
      |desc_rank AS (
      |  SELECT l_suppkey, RANK() OVER (ORDER BY CAST(rev AS DOUBLE) DESC, l_suppkey) AS rnk
      |  FROM perf)
      |SELECT a.rnk, s1.s_name AS best_performing, s2.s_name AS worst_performing
      |FROM asc_rank a, desc_rank d, supplier s1, supplier s2
      |WHERE a.rnk = d.rnk AND a.rnk <= 10
      |  AND s1.s_suppkey = d.l_suppkey AND s2.s_suppkey = a.l_suppkey
      |ORDER BY a.rnk""".stripMargin

  // q45-shape: (attribute IN list) OR (key IN subquery) — the disjunct
  // forces a post-join filter instead of a pure semi join.
  private val q45 =
    """SELECT n_name, c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal
      |FROM customer, nation
      |WHERE c_nationkey = n_nationkey
      |  AND (c_mktsegment IN ('BUILDING', 'MACHINERY')
      |    OR c_custkey IN (SELECT o_custkey FROM orders, lineitem
      |                     WHERE o_orderkey = l_orderkey AND l_quantity > 49))
      |GROUP BY n_name, c_mktsegment
      |ORDER BY n_name, c_mktsegment""".stripMargin

  // q48-shape: one aggregate over an OR of three AND-predicate bands.
  private val q48 =
    """SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND ((l_quantity BETWEEN 1 AND 15 AND l_extendedprice BETWEEN 10000 AND 60000 AND c_mktsegment = 'BUILDING')
      |    OR (l_quantity BETWEEN 16 AND 30 AND l_extendedprice BETWEEN 20000 AND 80000 AND c_mktsegment = 'MACHINERY')
      |    OR (l_quantity BETWEEN 31 AND 50 AND l_extendedprice BETWEEN 30000 AND 100000 AND c_mktsegment = 'AUTOMOBILE'))""".stripMargin

  // q58-shape: three per-channel revenue tables, items where every
  // channel sits within ±10% of the three-channel average
  // (30·x BETWEEN 9·total AND 11·total ⇔ x/avg ∈ [0.9, 1.1]).
  private def q58Channel(alias: String, flag: String): String =
    s"""$alias AS (SELECT l_partkey AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS rev
       |  FROM lineitem WHERE l_returnflag = '$flag' GROUP BY l_partkey)""".stripMargin
  private val q58 =
    s"""WITH ${q58Channel("aa", "A")},
       |${q58Channel("nn", "N")},
       |${q58Channel("rr", "R")}
       |SELECT aa.item,
       |  CAST(aa.rev AS DOUBLE) AS a_rev, CAST(nn.rev AS DOUBLE) AS n_rev, CAST(rr.rev AS DOUBLE) AS r_rev
       |FROM aa, nn, rr
       |WHERE aa.item = nn.item AND nn.item = rr.item
       |  AND 30 * CAST(aa.rev AS DOUBLE) BETWEEN 9 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE) AND 11 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE)
       |  AND 30 * CAST(nn.rev AS DOUBLE) BETWEEN 9 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE) AND 11 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE)
       |  AND 30 * CAST(rr.rev AS DOUBLE) BETWEEN 9 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE) AND 11 * CAST(aa.rev + nn.rev + rr.rev AS DOUBLE)
       |ORDER BY aa.item""".stripMargin

  // q64-shape (reduced): a sale-with-matching-return CTE self-joined
  // across two years on the item key with a cross-year constraint.
  private val q64 =
    """WITH cs AS (
      |  SELECT l.l_partkey AS item, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    COUNT(*) AS n_sales,
      |    SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS sales
      |  FROM lineitem l, orders o
      |  WHERE l.l_orderkey = o_orderkey AND l.l_returnflag = 'N'
      |    AND EXISTS (SELECT 1 FROM lineitem r
      |                WHERE r.l_orderkey = l.l_orderkey AND r.l_returnflag = 'R')
      |  GROUP BY l.l_partkey, EXTRACT(YEAR FROM o_orderdate))
      |SELECT cs1.item, cs1.yr AS yr1, cs2.yr AS yr2,
      |  CAST(cs1.sales AS DOUBLE) AS sales1, CAST(cs2.sales AS DOUBLE) AS sales2,
      |  cs1.n_sales AS n1, cs2.n_sales AS n2
      |FROM cs cs1, cs cs2
      |WHERE cs1.item = cs2.item AND cs1.yr = 1996 AND cs2.yr = 1997
      |  AND cs2.sales <= cs1.sales
      |ORDER BY cs1.item""".stripMargin

  // q66-shape: CASE-pivot of monthly revenue into columns.
  private def q66Month(m: Int, name: String): String =
    s"""  CAST(SUM(CASE WHEN EXTRACT(MONTH FROM l_shipdate) = $m THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS ${name}_sales""".stripMargin
  private val q66 =
    s"""SELECT n_name, CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
       |${Seq(1 -> "jan", 2 -> "feb", 3 -> "mar", 4 -> "apr", 5 -> "may", 6 -> "jun")
          .map { case (m, n) => q66Month(m, n) }.mkString(",\n")}
       |FROM lineitem, supplier, nation
       |WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
       |  AND EXTRACT(YEAR FROM l_shipdate) IN (1996, 1997)
       |GROUP BY n_name, EXTRACT(YEAR FROM l_shipdate)
       |ORDER BY n_name, yr""".stripMargin

  // q72-shape: fact-fact join with an inter-fact date-offset condition.
  private val q72 =
    """SELECT p_brand, COUNT(*) AS n_delayed
      |FROM lineitem l1, lineitem l2, part
      |WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_partkey = p_partkey
      |  AND l1.l_returnflag = 'N' AND l2.l_returnflag = 'A'
      |  AND l2.l_shipdate > l1.l_shipdate + INTERVAL 30 DAY
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q75-shape: year-over-year decline per (brand, status) — union'd
  // channel aggregate self-joined across years with a >10% drop filter.
  private val q75 =
    """WITH all_sales AS (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr, p_brand, l_linestatus,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem, orders, part
      |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |    AND l_returnflag IN ('N', 'R')
      |  GROUP BY EXTRACT(YEAR FROM o_orderdate), p_brand, l_linestatus)
      |SELECT prev_yr.yr AS prev_year, curr_yr.yr AS year_, curr_yr.p_brand, curr_yr.l_linestatus,
      |  CAST(prev_yr.qty AS DOUBLE) AS prev_yr_cnt, CAST(curr_yr.qty AS DOUBLE) AS curr_yr_cnt
      |FROM all_sales curr_yr, all_sales prev_yr
      |WHERE curr_yr.p_brand = prev_yr.p_brand AND curr_yr.l_linestatus = prev_yr.l_linestatus
      |  AND curr_yr.yr = 1997 AND prev_yr.yr = 1996
      |  AND 10 * CAST(curr_yr.qty AS DOUBLE) < 9 * CAST(prev_yr.qty AS DOUBLE)
      |ORDER BY curr_yr.p_brand, curr_yr.l_linestatus""".stripMargin

  // q78-shape: channel aggregate where the OTHER channel is absent —
  // LEFT JOIN … IS NULL anti pattern over aggregated CTEs.
  private val q78 =
    """WITH ns AS (
      |  SELECT l_orderkey AS ok, l_partkey AS ik, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_orderkey, l_partkey),
      |rs AS (
      |  SELECT l_orderkey AS ok, l_partkey AS ik, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
      |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY l_orderkey, l_partkey)
      |SELECT ns.ik AS item, COUNT(*) AS n_clean,
      |  CAST(SUM(ns.qty) AS DOUBLE) AS clean_qty
      |FROM ns LEFT JOIN rs ON ns.ok = rs.ok AND ns.ik = rs.ik
      |WHERE rs.ok IS NULL
      |GROUP BY ns.ik
      |HAVING COUNT(*) >= 3
      |ORDER BY ns.ik""".stripMargin

  // q87-shape: EXCEPT chain of three distinct tuple sets.
  private val q87 =
    s"""SELECT COUNT(*) AS n_only_store
       |FROM (
       |${q38Set("N")}
       |  EXCEPT
       |${q38Set("A")}
       |  EXCEPT
       |${q38Set("R")}) cool""".stripMargin

  // q89-shape: monthly deviation from the group average, the windowed
  // sibling of q47 (join-based exact mean, cross-multiplied band).
  private val q89 =
    """WITH monthly AS (
      |  SELECT p_brand, l_linestatus, CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mon,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS msum, COUNT(*) AS n
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY p_brand, l_linestatus, EXTRACT(MONTH FROM l_shipdate)),
      |tot AS (
      |  SELECT p_brand, l_linestatus, SUM(msum) AS ysum, COUNT(*) AS n_months
      |  FROM monthly GROUP BY p_brand, l_linestatus)
      |SELECT m.p_brand, m.l_linestatus, m.mon,
      |  CAST(m.msum AS DOUBLE) AS sum_sales,
      |  CAST(t.ysum AS DOUBLE) / t.n_months AS avg_monthly_sales
      |FROM monthly m, tot t
      |WHERE m.p_brand = t.p_brand AND m.l_linestatus = t.l_linestatus
      |  AND ABS(CAST(m.msum AS DOUBLE) * t.n_months - CAST(t.ysum AS DOUBLE)) * 10
      |    > 3 * CAST(t.ysum AS DOUBLE)
      |ORDER BY m.p_brand, m.l_linestatus, m.mon""".stripMargin

  // q93-shape: per-order net after subtracting the paired return row.
  private val q93 =
    """SELECT ok AS o_orderkey, CAST(SUM(act_price) AS DOUBLE) AS sumsales
      |FROM (
      |  SELECT s.l_orderkey AS ok,
      |    CASE WHEN r.l_orderkey IS NOT NULL
      |      THEN (CAST(s.l_quantity AS DECIMAL(12,2)) - CAST(r.l_quantity AS DECIMAL(12,2))) * CAST(s.l_extendedprice AS DECIMAL(12,2))
      |      ELSE CAST(s.l_quantity AS DECIMAL(12,2)) * CAST(s.l_extendedprice AS DECIMAL(12,2)) END AS act_price
      |  FROM lineitem s LEFT JOIN lineitem r
      |    ON s.l_orderkey = r.l_orderkey AND s.l_partkey = r.l_partkey
      |      AND r.l_returnflag = 'R' AND r.l_linenumber = s.l_linenumber + 1
      |  WHERE s.l_returnflag = 'N') t
      |GROUP BY ok
      |HAVING CAST(SUM(act_price) AS DOUBLE) < 150000
      |ORDER BY o_orderkey""".stripMargin

  // q98-shape: revenue share within class via SUM OVER (PARTITION BY)
  // of exact decimal sums.
  private val q98 =
    """SELECT p_type, p_brand,
      |  CAST(itemrevenue AS DOUBLE) AS itemrevenue,
      |  CAST(itemrevenue AS DOUBLE) * 100 / CAST(classrevenue AS DOUBLE) AS revenueratio
      |FROM (
      |  SELECT p_type, p_brand,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS itemrevenue,
      |    SUM(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))) OVER (PARTITION BY p_type) AS classrevenue
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00'
      |  GROUP BY p_type, p_brand) t
      |ORDER BY p_type, p_brand""".stripMargin

  // ---------------------------------------------------------------- batch 3
  // Final structural families: week-over-week pivots, scalar-ratio
  // thresholds, multi-aggregate cross joins, lag buckets, shares.

  // q2-shape: weekday-pivoted weekly sums, consecutive-year self-join on
  // the week number. Spark and DuckDB disagree on EXTRACT(DOW) numbering
  // (1–7 Sunday-first vs 0–6), so the pivot key is the dialect-shared
  // pseudo-weekday DOY % 7 and the week is (DOY−1)/7 — same shape,
  // engine-identical arithmetic.
  private def q2Day(dow: Int, name: String): String =
    s"""    SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = $dow THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS ${name}_sales""".stripMargin
  private val q2 =
    s"""WITH wk AS (
       |  SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS yr,
       |    CAST(FLOOR((EXTRACT(DOY FROM l_shipdate) - 1) / 7.0) AS BIGINT) AS wk,
       |${Seq(0 -> "d0", 1 -> "d1", 6 -> "d6").map { case (d, n) => q2Day(d, n) }.mkString(",\n")}
       |  FROM lineitem
       |  GROUP BY EXTRACT(YEAR FROM l_shipdate), FLOOR((EXTRACT(DOY FROM l_shipdate) - 1) / 7.0))
       |SELECT y1.wk AS wk,
       |  CAST(y1.d0_sales AS DOUBLE) AS d0_1, CAST(y2.d0_sales AS DOUBLE) AS d0_2,
       |  CAST(y1.d1_sales AS DOUBLE) AS d1_1, CAST(y2.d1_sales AS DOUBLE) AS d1_2,
       |  CAST(y1.d6_sales AS DOUBLE) AS d6_1, CAST(y2.d6_sales AS DOUBLE) AS d6_2
       |FROM wk y1, wk y2
       |WHERE y1.yr = 1996 AND y2.yr = 1997 AND y1.wk = y2.wk
       |ORDER BY y1.wk""".stripMargin

  // q21-shape: before/after quantities around a boundary, kept when the
  // ratio stays within [2/3, 3/2] (cross-multiplied on integers).
  private val q21 =
    """SELECT s_name, p_brand, before_qty, after_qty
      |FROM (
      |  SELECT s_name, p_brand,
      |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01 00:00:00' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS before_qty,
      |    CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01 00:00:00' THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS after_qty
      |  FROM lineitem, supplier, part
      |  WHERE l_suppkey = s_suppkey AND l_partkey = p_partkey
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-10-01 00:00:00' AND TIMESTAMP '1998-03-31 00:00:00'
      |  GROUP BY s_name, p_brand) x
      |WHERE before_qty > 0
      |  AND 3 * after_qty >= 2 * before_qty AND 2 * after_qty <= 3 * before_qty
      |ORDER BY s_name, p_brand""".stripMargin

  // q22-shape: average quantity down a 4-level ROLLUP hierarchy, top-100
  // under a TOTAL order (the dim tiebreakers make the limit exact).
  private val q22 =
    """SELECT p_type, p_brand, l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS qoh
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey
      |GROUP BY ROLLUP (p_type, p_brand, l_returnflag, l_linestatus)
      |ORDER BY qoh, p_type NULLS FIRST, p_brand NULLS FIRST,
      |  l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
      |LIMIT 100""".stripMargin

  // q28-shape: cross join of SIX aggregate subqueries, each a
  // COUNT + COUNT(DISTINCT) over its own band.
  private def q28Band(i: Int, qlo: Int, qhi: Int, plo: Int, phi: Int): String =
    s"""  (SELECT CAST(COUNT(*) AS BIGINT) AS c$i, COUNT(DISTINCT l_partkey) AS d$i
       |   FROM lineitem WHERE l_quantity BETWEEN $qlo AND $qhi AND l_extendedprice BETWEEN $plo AND $phi) b$i""".stripMargin
  private val q28 =
    "SELECT * FROM\n" + Seq(
      (1, 0, 5, 0, 30000), (2, 6, 10, 10000, 50000), (3, 11, 15, 20000, 70000),
      (4, 16, 20, 30000, 90000), (5, 21, 25, 40000, 110000),
      (6, 26, 30, 50000, 130000))
      .map { case (i, a, b, c, d) => q28Band(i, a, b, c, d) }.mkString(",\n")

  // q32-shape: "excess discount" — rows whose discount exceeds 1.3x the
  // per-item average, via correlated COUNT and SUM scalars
  // (10·d·cnt > 13·sum ⇔ d > 1.3·avg).
  private val q32 =
    """SELECT CAST(SUM(CAST(l1.l_discount AS DECIMAL(12,2)) * CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS excess_discount
      |FROM lineitem l1, part
      |WHERE l1.l_partkey = p_partkey AND p_size < 10
      |  AND 10 * CAST(l1.l_discount AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
      |    > 13 * (SELECT SUM(CAST(l2.l_discount AS DECIMAL(12,2))) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)""".stripMargin

  // q50-shape: shipping-lag 30-day bucket pivot per supplier nation.
  private val q50 =
    """SELECT n_name,
      |  CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY AND l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY AND l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY AND l_shipdate <= o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS dmore
      |FROM lineitem, orders, supplier, nation
      |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // q59-shape: week-over-week ratio matrix per nation across two years.
  private val q59 =
    """WITH wss AS (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(WEEK FROM o_orderdate) AS BIGINT) AS wk, n_name,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS sales
      |  FROM orders, customer, nation
      |  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  GROUP BY EXTRACT(YEAR FROM o_orderdate), EXTRACT(WEEK FROM o_orderdate), n_name)
      |SELECT y1.n_name, y1.wk,
      |  CAST(y1.sales AS DOUBLE) / CAST(y2.sales AS DOUBLE) AS ratio
      |FROM wss y1, wss y2
      |WHERE y1.n_name = y2.n_name AND y1.wk = y2.wk
      |  AND y1.yr = 1997 AND y2.yr = 1996 AND y2.sales > 0
      |ORDER BY y1.n_name, y1.wk""".stripMargin

  // q65-shape: parts whose revenue sits within 10% of the supplier's
  // MINIMUM part revenue (correlated MIN over the grouped CTE).
  private val q65 =
    """WITH sb AS (
      |  SELECT l_suppkey, l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue
      |  FROM lineitem GROUP BY l_suppkey, l_partkey)
      |SELECT s_name, p_name, CAST(sb1.revenue AS DOUBLE) AS revenue
      |FROM supplier, part, sb sb1
      |WHERE s_suppkey = sb1.l_suppkey AND p_partkey = sb1.l_partkey
      |  AND 10 * CAST(sb1.revenue AS DOUBLE) <= 11 * (
      |    SELECT MIN(CAST(sb2.revenue AS DOUBLE)) FROM sb sb2
      |    WHERE sb2.l_suppkey = sb1.l_suppkey)
      |ORDER BY s_name, p_name""".stripMargin

  // q76-shape: UNION ALL of sparse-dimension slices counted per channel.
  private val q76 =
    """SELECT channel, col_name, CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS yr, COUNT(*) AS sales_cnt,
      |  CAST(SUM(CAST(price AS DECIMAL(12,2))) AS DOUBLE) AS sales_amt
      |FROM (
      |  SELECT 'store' AS channel, 'l_suppkey' AS col_name, l_shipdate AS d, l_extendedprice AS price
      |  FROM lineitem WHERE l_suppkey % 100 = 0
      |  UNION ALL
      |  SELECT 'web' AS channel, 'l_partkey' AS col_name, l_shipdate AS d, l_extendedprice AS price
      |  FROM lineitem WHERE l_partkey % 200 = 0) t
      |GROUP BY channel, col_name, EXTRACT(YEAR FROM d)
      |ORDER BY channel, col_name, yr""".stripMargin

  // q83-shape: per-item share of the three-channel total.
  private def q83Channel(alias: String, flag: String): String =
    s"""$alias AS (SELECT l_partkey AS item, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
       |  FROM lineitem WHERE l_returnflag = '$flag' AND l_partkey < 300 GROUP BY l_partkey)""".stripMargin
  private val q83 =
    s"""WITH ${q83Channel("ar", "A")},
       |${q83Channel("nr", "N")},
       |${q83Channel("rr", "R")}
       |SELECT ar.item,
       |  CAST(ar.qty AS DOUBLE) AS a_qty,
       |  CAST(ar.qty AS DOUBLE) / CAST(ar.qty + nr.qty + rr.qty AS DOUBLE) * 100 AS a_share,
       |  CAST(nr.qty AS DOUBLE) AS n_qty,
       |  CAST(nr.qty AS DOUBLE) / CAST(ar.qty + nr.qty + rr.qty AS DOUBLE) * 100 AS n_share,
       |  CAST(rr.qty AS DOUBLE) AS r_qty,
       |  CAST(rr.qty AS DOUBLE) / CAST(ar.qty + nr.qty + rr.qty AS DOUBLE) * 100 AS r_share
       |FROM ar, nr, rr
       |WHERE ar.item = nr.item AND nr.item = rr.item
       |ORDER BY ar.item""".stripMargin

  // q90-shape: ratio of two scalar counts.
  private val q90 =
    """SELECT CAST(am.amc AS DOUBLE) / CAST(pm.pmc AS DOUBLE) AS am_pm_ratio
      |FROM (SELECT COUNT(*) AS amc FROM lineitem WHERE l_orderkey % 4 = 0 AND l_quantity < 25) am,
      |     (SELECT COUNT(*) AS pmc FROM lineitem WHERE l_orderkey % 4 = 1 AND l_quantity < 25) pm
      |WHERE pm.pmc > 0""".stripMargin

  // q3-shape: star join over (date x brand) with a type filter, revenue ranked inside year.
  private val q3 =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS d_year, p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_agg
      |FROM lineitem, orders, part
      |WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |  AND p_type = 'PROMO' AND l_returnflag = 'N'
      |GROUP BY EXTRACT(YEAR FROM o_orderdate), p_brand
      |ORDER BY d_year, sum_agg DESC, p_brand""".stripMargin

  // q6-shape: state rollcall of customers buying items priced above 1.02x the type average (correlated scalar avg), HAVING floor.
  private val q6 =
    """SELECT n_name AS state, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM customer, orders, lineitem, part p, nation
      |WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_partkey = p_partkey
      |  AND c_nationkey = n_nationkey
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) = 1
      |  AND CAST(p_retailprice AS DOUBLE) * 50 > 51 * (
      |    SELECT CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)
      |    FROM part p2 WHERE p2.p_type = p.p_type)
      |GROUP BY n_name
      |HAVING COUNT(*) >= 10
      |ORDER BY cnt, state""".stripMargin

  // q7-shape: demographic-filtered star join, four exact-sum/count averages per item.
  private val q7 =
    """SELECT p_name AS item,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg1,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg2,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg3,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg4
      |FROM lineitem, orders, customer, part
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_partkey = p_partkey
      |  AND c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY p_name
      |ORDER BY item""".stripMargin

  // q8-shape: store revenue gated on a zip list INTERSECT preferred-customer zips, semi-joined to the store dim.
  private val q8 =
    """WITH zips AS (
      |  SELECT CAST(c_custkey % 50 AS BIGINT) AS zip FROM customer WHERE c_custkey % 7 = 0
      |  INTERSECT
      |  SELECT zip FROM (
      |    SELECT CAST(c_custkey % 50 AS BIGINT) AS zip FROM customer WHERE c_acctbal > 5000) t
      |  GROUP BY zip HAVING COUNT(*) > 5)
      |SELECT s_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS net_profit
      |FROM lineitem, supplier
      |WHERE l_suppkey = s_suppkey AND l_returnflag = 'N'
      |  AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(QUARTER FROM l_shipdate) = 2
      |  AND CAST(s_suppkey % 50 AS BIGINT) IN (SELECT zip FROM zips)
      |GROUP BY s_name
      |ORDER BY s_name""".stripMargin

  // q10-shape: EXISTS store AND (EXISTS web OR EXISTS catalog) in a year window, counted by demographic band.
  private val q10 =
    """SELECT c_mktsegment, CAST(c_custkey % 2 AS BIGINT) AS cd_band, COUNT(*) AS cnt
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |      AND l_returnflag = 'N' AND EXTRACT(YEAR FROM o_orderdate) = 1997)
      |  AND (EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |      AND l_returnflag = 'R' AND EXTRACT(YEAR FROM o_orderdate) = 1997)
      |   OR EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
      |      AND l_returnflag = 'A' AND EXTRACT(YEAR FROM o_orderdate) = 1997))
      |GROUP BY c_mktsegment, c_custkey % 2
      |ORDER BY c_mktsegment, cd_band""".stripMargin

  // q11-shape: year-over-year growth self-join at ORDER grain (q4 family, totalprice measure, status channels).
  private val q11 =
    """WITH year_total AS (
      |  SELECT c_custkey, c_name, c_mktsegment, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total, 'store' AS channel
      |  FROM customer, orders WHERE c_custkey = o_custkey AND o_orderstatus = 'F'
      |  GROUP BY c_custkey, c_name, c_mktsegment, EXTRACT(YEAR FROM o_orderdate)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_mktsegment, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS total, 'web' AS channel
      |  FROM customer, orders WHERE c_custkey = o_custkey AND o_orderstatus = 'O'
      |  GROUP BY c_custkey, c_name, c_mktsegment, EXTRACT(YEAR FROM o_orderdate))
      |SELECT ts2.c_custkey, ts2.c_name, ts2.c_mktsegment
      |FROM year_total ts1, year_total ts2, year_total tw1, year_total tw2
      |WHERE ts2.c_custkey = ts1.c_custkey AND ts1.c_custkey = tw1.c_custkey
      |  AND ts1.c_custkey = tw2.c_custkey
      |  AND ts1.channel = 'store' AND ts2.channel = 'store'
      |  AND tw1.channel = 'web' AND tw2.channel = 'web'
      |  AND ts1.yr = 1996 AND ts2.yr = 1997 AND tw1.yr = 1996 AND tw2.yr = 1997
      |  AND ts1.total > 0 AND tw1.total > 0
      |  AND CAST(tw2.total AS DOUBLE) * CAST(ts1.total AS DOUBLE)
      |    > CAST(ts2.total AS DOUBLE) * CAST(tw1.total AS DOUBLE)
      |ORDER BY ts2.c_custkey""".stripMargin

  // q12-shape: item revenue share of its class via SUM OVER (PARTITION BY type), 30-day window.
  private val q12 =
    """WITH itemrev AS (
      |  SELECT p_name AS item, p_type, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'R'
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-05-01 00:00:00' AND TIMESTAMP '1997-05-31 00:00:00'
      |  GROUP BY p_name, p_type)
      |SELECT item, p_type, CAST(revenue AS DOUBLE) AS itemrevenue,
      |  CAST(revenue AS DOUBLE) * 100 / CAST(SUM(revenue) OVER (PARTITION BY p_type) AS DOUBLE) AS revenueratio
      |FROM itemrev
      |ORDER BY p_type, item""".stripMargin

  // q13-shape: single-row multi-average under three OR'd demographic/quantity/balance bands.
  private val q13 =
    """SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) AS sum_tax
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND ((c_mktsegment = 'BUILDING' AND c_acctbal BETWEEN 0 AND 3000 AND l_quantity BETWEEN 1 AND 15)
      |    OR (c_mktsegment = 'MACHINERY' AND c_acctbal BETWEEN 3000 AND 6000 AND l_quantity BETWEEN 16 AND 30)
      |    OR (c_mktsegment = 'HOUSEHOLD' AND c_acctbal BETWEEN 6000 AND 9000 AND l_quantity BETWEEN 31 AND 50))
      |HAVING COUNT(*) > 0""".stripMargin

  // q15-shape: zip-level catalog revenue with a three-way OR (zip list / state list / big ticket).
  private val q15 =
    """SELECT CAST(c_custkey % 50 AS BIGINT) AS ca_zip,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_sales
      |FROM lineitem, orders, customer, nation
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND l_returnflag = 'A'
      |  AND (c_custkey % 50 IN (5, 13, 17, 26, 35, 42)
      |    OR n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
      |    OR l_extendedprice > 50000)
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) = 2
      |GROUP BY c_custkey % 50
      |ORDER BY ca_zip""".stripMargin

  // q16-shape: shipping report: COUNT(DISTINCT orders) with EXISTS other-supplier line AND NOT EXISTS returned line.
  private val q16 =
    """SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
      |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_shipping_cost,
      |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2)) * CAST(l1.l_tax AS DECIMAL(12,2))) AS DOUBLE) AS total_net_profit
      |FROM lineitem l1, orders
      |WHERE l1.l_orderkey = o_orderkey
      |  AND o_orderdate BETWEEN TIMESTAMP '1997-03-01 00:00:00' AND TIMESTAMP '1997-04-30 00:00:00'
      |  AND o_orderpriority = '1-URGENT'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_returnflag = 'R')""".stripMargin

  // q18-shape: three-level ROLLUP (nation, segment, brand) of exact-sum averages over the catalog channel.
  private val q18 =
    """SELECT n_name, c_mktsegment, p_brand,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg1,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg2,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg3
      |FROM lineitem, orders, customer, nation, part
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |  AND l_partkey = p_partkey AND l_returnflag = 'A'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY ROLLUP (n_name, c_mktsegment, p_brand)
      |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST, p_brand NULLS FIRST""".stripMargin

  // q19-shape: brand revenue where the customer's nation differs from the supplier's (the zip<>zip non-equi).
  private val q19 =
    """SELECT p_brand, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ext_price
      |FROM lineitem, orders, customer, supplier, part
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
      |  AND l_partkey = p_partkey AND l_returnflag = 'N'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) = 11
      |  AND c_nationkey <> s_nationkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q20-shape: catalog revenue share via SUM OVER (PARTITION BY brand), 60-day window (q12 sibling).
  private val q20 =
    """WITH itemrev AS (
      |  SELECT p_name AS item, p_brand, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A'
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-02-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00'
      |  GROUP BY p_name, p_brand)
      |SELECT item, p_brand, CAST(revenue AS DOUBLE) AS itemrevenue,
      |  CAST(revenue AS DOUBLE) * 100 / CAST(SUM(revenue) OVER (PARTITION BY p_brand) AS DOUBLE) AS revenueratio
      |FROM itemrev
      |ORDER BY p_brand, item""".stripMargin

  // q25-shape: sold-returned-resold triple join on item across all three channels, profit per brand.
  private val q25 =
    """WITH ss AS (
      |  SELECT l_partkey AS item,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS store_profit
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_partkey),
      |sr AS (
      |  SELECT l_partkey AS item,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS return_loss
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_partkey),
      |cs AS (
      |  SELECT l_partkey AS item,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS catalog_profit
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'A'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_partkey)
      |SELECT p_brand,
      |  CAST(SUM(ss.store_profit) AS DOUBLE) AS store_profit,
      |  CAST(SUM(sr.return_loss) AS DOUBLE) AS return_loss,
      |  CAST(SUM(cs.catalog_profit) AS DOUBLE) AS catalog_profit
      |FROM ss, sr, cs, part
      |WHERE ss.item = sr.item AND sr.item = cs.item AND ss.item = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q26-shape: catalog demographic averages per brand (q7 sibling on the catalog channel).
  private val q26 =
    """SELECT p_brand,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg1,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg2,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg3,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg4
      |FROM lineitem, orders, customer, part
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_partkey = p_partkey
      |  AND l_returnflag = 'A' AND c_mktsegment = 'AUTOMOBILE' AND o_orderstatus = 'F'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q27-shape: ROLLUP (brand, supplier nation) of four exact-sum averages on the store channel.
  private val q27 =
    """SELECT p_brand, n_name,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg1,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg2,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg3,
      |  CAST(SUM(CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS agg4
      |FROM lineitem, orders, customer, supplier, nation, part
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
      |  AND s_nationkey = n_nationkey AND l_partkey = p_partkey
      |  AND l_returnflag = 'N' AND c_mktsegment = 'FURNITURE'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY ROLLUP (p_brand, n_name)
      |ORDER BY p_brand NULLS FIRST, n_name NULLS FIRST""".stripMargin

  // q29-shape: quantity flavor of the q25 triple join, sales/returns one year and catalog the next.
  private val q29 =
    """WITH ss AS (
      |  SELECT l_partkey AS item, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS store_qty
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1996
      |  GROUP BY l_partkey),
      |sr AS (
      |  SELECT l_partkey AS item, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS return_qty
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1996
      |  GROUP BY l_partkey),
      |cs AS (
      |  SELECT l_partkey AS item, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS catalog_qty
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'A'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_partkey)
      |SELECT p_brand,
      |  CAST(SUM(ss.store_qty) AS DOUBLE) AS store_qty,
      |  CAST(SUM(sr.return_qty) AS DOUBLE) AS return_qty,
      |  CAST(SUM(cs.catalog_qty) AS DOUBLE) AS catalog_qty
      |FROM ss, sr, cs, part
      |WHERE ss.item = sr.item AND sr.item = cs.item AND ss.item = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q30-shape: return customers above 1.2x their state average (correlated avg of a CTE), customer detail output.
  private val q30 =
    """WITH ctr AS (
      |  SELECT o_custkey AS ctr_cust, c_nationkey AS ctr_state,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(12,2))) AS ctr_return
      |  FROM lineitem, orders, customer
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_returnflag = 'R'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY o_custkey, c_nationkey)
      |SELECT c_custkey, c_name, c_mktsegment, CAST(ctr1.ctr_return AS DOUBLE) AS return_amt
      |FROM ctr ctr1, customer
      |WHERE ctr1.ctr_cust = c_custkey
      |  AND CAST(ctr1.ctr_return AS DOUBLE) * 5 > (
      |    SELECT 6 * CAST(SUM(ctr2.ctr_return) AS DOUBLE) / COUNT(*)
      |    FROM ctr ctr2 WHERE ctr1.ctr_state = ctr2.ctr_state)
      |ORDER BY c_custkey""".stripMargin

  // q33-shape: per-brand totals UNION ALL'd across three channels, each restricted to a type list.
  private val q33 =
    """WITH ss AS (
      |  SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'N' AND p_type IN ('ECONOMY', 'PROMO')
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 5
      |  GROUP BY p_brand),
      |cs AS (
      |  SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A' AND p_type IN ('ECONOMY', 'PROMO')
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 5
      |  GROUP BY p_brand),
      |ws AS (
      |  SELECT p_brand, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND p_type IN ('ECONOMY', 'PROMO')
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 5
      |  GROUP BY p_brand)
      |SELECT p_brand, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
      |FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // q37-shape: item listing under a price band with two IN subqueries (recent bulk sale + catalog presence).
  private val q37 =
    """SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS price
      |FROM part
      |WHERE p_retailprice BETWEEN 940 AND 980 AND p_size IN (10, 20, 30, 40)
      |  AND p_partkey IN (SELECT l_partkey FROM lineitem
      |    WHERE l_quantity >= 35
      |      AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-02-28 00:00:00')
      |  AND p_partkey IN (SELECT l_partkey FROM lineitem
      |    WHERE l_returnflag = 'A' AND EXTRACT(YEAR FROM l_shipdate) = 1997)
      |GROUP BY p_partkey, p_name, p_retailprice
      |ORDER BY p_partkey""".stripMargin

  // q42-shape: year x type revenue for one month (q3 family head).
  private val q42 =
    """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS d_year, p_type,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_agg
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND l_returnflag = 'N'
      |  AND EXTRACT(MONTH FROM l_shipdate) = 11 AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |GROUP BY EXTRACT(YEAR FROM l_shipdate), p_type
      |ORDER BY sum_agg DESC, d_year, p_type""".stripMargin

  // q43-shape: per-store weekday pivot over the pseudo-weekday DOY % 7.
  private val q43 =
    """SELECT s_name,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 0 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sun_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 1 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS mon_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 2 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS tue_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 3 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS wed_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 4 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS thu_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 5 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS fri_sales,
      |  CAST(SUM(CASE WHEN EXTRACT(DOY FROM l_shipdate) % 7 = 6 THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS sat_sales
      |FROM lineitem, supplier
      |WHERE l_suppkey = s_suppkey AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |GROUP BY s_name
      |ORDER BY s_name""".stripMargin

  // q46-shape: per-ticket amounts grouped in a CTE, kept only when bought-nation <> home-nation, weekend+priority filters.
  private val q46 =
    """WITH dnsale AS (
      |  SELECT l_orderkey AS ticket, o_custkey AS cust, s_nationkey AS bought_nation,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS amt,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem, orders, supplier
      |  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      |    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    AND EXTRACT(DOY FROM o_orderdate) % 7 IN (0, 6)
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_orderkey, o_custkey, s_nationkey)
      |SELECT c_name, ticket, CAST(amt AS DOUBLE) AS amt, CAST(profit AS DOUBLE) AS profit
      |FROM dnsale, customer
      |WHERE cust = c_custkey AND bought_nation <> c_nationkey
      |ORDER BY c_name, ticket, amt""".stripMargin

  // q52-shape: year x brand revenue for December (q42 sibling).
  private val q52 =
    """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS d_year, p_brand,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ext_price
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND l_returnflag = 'N'
      |  AND EXTRACT(MONTH FROM l_shipdate) = 12 AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |GROUP BY EXTRACT(YEAR FROM l_shipdate), p_brand
      |ORDER BY d_year, ext_price DESC, p_brand""".stripMargin

  // q53-shape: quarterly brand sales vs the brand average, deviation kept by EXACT decimal cross-multiplication.
  private val q53 =
    """WITH qsales AS (
      |  SELECT p_brand, CAST(EXTRACT(QUARTER FROM l_shipdate) AS BIGINT) AS qtr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'N'
      |    AND p_type IN ('ECONOMY', 'STANDARD', 'PROMO')
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY p_brand, EXTRACT(QUARTER FROM l_shipdate))
      |SELECT p_brand, qtr, CAST(sum_sales AS DOUBLE) AS sum_sales,
      |  CAST(tot AS DOUBLE) / nq AS avg_quarterly_sales
      |FROM (SELECT p_brand, qtr, sum_sales,
      |    SUM(sum_sales) OVER (PARTITION BY p_brand) AS tot,
      |    COUNT(*) OVER (PARTITION BY p_brand) AS nq
      |  FROM qsales) t
      |WHERE ABS(nq * sum_sales - tot) * 10 > tot
      |ORDER BY p_brand, qtr""".stripMargin

  // q54-shape: customers acquired on one channel, their revenue on another bucketed into fixed-width segments.
  private val q54 =
    """WITH my_customers AS (
      |  SELECT DISTINCT o_custkey AS cust
      |  FROM lineitem, orders, part
      |  WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey
      |    AND l_returnflag = 'A' AND p_type = 'PROMO'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) = 1),
      |my_revenue AS (
      |  SELECT cust, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS revenue
      |  FROM my_customers, orders, lineitem
      |  WHERE o_custkey = cust AND l_orderkey = o_orderkey AND l_returnflag = 'N'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) IN (2, 3)
      |  GROUP BY cust)
      |SELECT segment, COUNT(*) AS num_customers
      |FROM (SELECT CAST(FLOOR(CAST(revenue AS DOUBLE) / 5000) AS BIGINT) AS segment FROM my_revenue) t
      |GROUP BY segment
      |ORDER BY segment""".stripMargin

  // q55-shape: brand revenue for one month on the web channel (q42/q52 family).
  private val q55 =
    """SELECT p_brand, CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ext_price
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND l_returnflag = 'R'
      |  AND EXTRACT(MONTH FROM l_shipdate) = 11 AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |GROUP BY p_brand
      |ORDER BY ext_price DESC, p_brand""".stripMargin

  // q56-shape: per-item three-channel totals under a size filter (q33 sibling at item grain).
  private val q56 =
    """WITH ss AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'N' AND p_size <= 10
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 3
      |  GROUP BY p_name),
      |cs AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A' AND p_size <= 10
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 3
      |  GROUP BY p_name),
      |ws AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND p_size <= 10
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 3
      |  GROUP BY p_name)
      |SELECT item, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
      |FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
      |GROUP BY item
      |ORDER BY item""".stripMargin

  // q57-shape: supplier x quarter deviation with prev/next quarter via rank self-joins (q47 sibling).
  private val q57 =
    """WITH qv AS (
      |  SELECT s_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS qsum
      |  FROM lineitem, orders, supplier
      |  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND l_returnflag = 'A'
      |  GROUP BY s_name, EXTRACT(YEAR FROM o_orderdate), EXTRACT(QUARTER FROM o_orderdate)),
      |yv AS (SELECT s_name, yr, SUM(qsum) AS ysum, COUNT(*) AS nq FROM qv GROUP BY s_name, yr),
      |v1 AS (
      |  SELECT qv.s_name, qv.yr, qv.qtr, qv.qsum, yv.ysum, yv.nq,
      |    RANK() OVER (PARTITION BY qv.s_name ORDER BY qv.yr, qv.qtr) AS rn
      |  FROM qv, yv WHERE qv.s_name = yv.s_name AND qv.yr = yv.yr)
      |SELECT v1.s_name, v1.yr, v1.qtr, CAST(v1.qsum AS DOUBLE) AS sum_sales,
      |  CAST(v1.ysum AS DOUBLE) / v1.nq AS avg_quarterly_sales,
      |  CAST(vl.qsum AS DOUBLE) AS psum, CAST(vn.qsum AS DOUBLE) AS nsum
      |FROM v1, v1 vl, v1 vn
      |WHERE v1.s_name = vl.s_name AND v1.s_name = vn.s_name
      |  AND v1.rn = vl.rn + 1 AND v1.rn = vn.rn - 1 AND v1.yr = 1997
      |  AND ABS(v1.nq * v1.qsum - v1.ysum) * 10 > 2 * v1.ysum
      |ORDER BY v1.s_name, v1.yr, v1.qtr""".stripMargin

  // q60-shape: per-item three-channel totals under a name-prefix filter (q33/q56 family).
  private val q60 =
    """WITH ss AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'N' AND p_name LIKE 'blue%'
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 9
      |  GROUP BY p_name),
      |cs AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A' AND p_name LIKE 'blue%'
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 9
      |  GROUP BY p_name),
      |ws AS (
      |  SELECT p_name AS item, SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND p_name LIKE 'blue%'
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997 AND EXTRACT(MONTH FROM l_shipdate) = 9
      |  GROUP BY p_name)
      |SELECT item, CAST(SUM(total_sales) AS DOUBLE) AS total_sales
      |FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
      |GROUP BY item
      |ORDER BY item""".stripMargin

  // q61-shape: promotional-to-total revenue ratio, two scalar aggregates cross-joined.
  private val q61 =
    """SELECT CAST(promotions AS DOUBLE) * 100 / CAST(total AS DOUBLE) AS promo_pct
      |FROM
      | (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS promotions
      |  FROM lineitem, orders, customer, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |    AND l_returnflag = 'N' AND l_discount > 0.05 AND n_regionkey = 1
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) = 11) p,
      | (SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS total
      |  FROM lineitem, orders, customer, nation
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND c_nationkey = n_nationkey
      |    AND l_returnflag = 'N' AND n_regionkey = 1
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) = 11) t""".stripMargin

  // q62-shape: ship-lag 30-day buckets pivoted per warehouse x priority (real lag: shipdate - orderdate).
  private val q62 =
    """SELECT CAST(l_suppkey % 5 AS BIGINT) AS warehouse, o_orderpriority,
      |  CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY AND l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY AND l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY AND l_shipdate <= o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS dmore
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY l_suppkey % 5, o_orderpriority
      |ORDER BY warehouse, o_orderpriority""".stripMargin

  // q63-shape: monthly manager-group sales vs average, exact-decimal deviation filter (q53 sibling).
  private val q63 =
    """WITH msales AS (
      |  SELECT CAST(p_size % 10 AS BIGINT) AS mgr, CAST(EXTRACT(MONTH FROM l_shipdate) AS BIGINT) AS mon,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_sales
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A'
      |    AND p_type IN ('LARGE', 'MEDIUM', 'SMALL')
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY p_size % 10, EXTRACT(MONTH FROM l_shipdate))
      |SELECT mgr, mon, CAST(sum_sales AS DOUBLE) AS sum_sales,
      |  CAST(tot AS DOUBLE) / nm AS avg_monthly_sales
      |FROM (SELECT mgr, mon, sum_sales,
      |    SUM(sum_sales) OVER (PARTITION BY mgr) AS tot,
      |    COUNT(*) OVER (PARTITION BY mgr) AS nm
      |  FROM msales) t
      |WHERE ABS(nm * sum_sales - tot) * 10 > tot
      |ORDER BY mgr, mon""".stripMargin

  // q68-shape: per-ticket extended sums for out-of-nation buyers in named nations (q46 extended).
  private val q68 =
    """WITH onsale AS (
      |  SELECT l_orderkey AS ticket, o_custkey AS cust, s_nationkey AS bought_nation,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS ext_sales,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(12,2))) AS ext_tax,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS ext_list
      |  FROM lineitem, orders, supplier, nation
      |  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      |    AND n_name IN ('NATION_2', 'NATION_11', 'NATION_19')
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) IN (1, 2)
      |  GROUP BY l_orderkey, o_custkey, s_nationkey)
      |SELECT c_name, ticket, CAST(ext_sales AS DOUBLE) AS ext_sales,
      |  CAST(ext_tax AS DOUBLE) AS ext_tax, CAST(ext_list AS DOUBLE) AS ext_list
      |FROM onsale, customer
      |WHERE cust = c_custkey AND bought_nation <> c_nationkey
      |ORDER BY c_name, ticket""".stripMargin

  // q69-shape: store-only customers: EXISTS store AND NOT EXISTS web AND NOT EXISTS catalog, banded counts.
  private val q69 =
    """SELECT c_mktsegment, CAST(c_custkey % 3 AS BIGINT) AS cd_band, COUNT(*) AS cnt
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'N'
      |      AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) IN (1, 2))
      |  AND NOT EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'R'
      |      AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) IN (1, 2))
      |  AND NOT EXISTS (SELECT 1 FROM orders, lineitem
      |    WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_returnflag = 'A'
      |      AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(QUARTER FROM o_orderdate) IN (1, 2))
      |GROUP BY c_mktsegment, c_custkey % 3
      |ORDER BY c_mktsegment, cd_band""".stripMargin

  // q71-shape: brand x pseudo-hour revenue, three channels UNION ALL'd before one dim join.
  private val q71 =
    """WITH tmp AS (
      |  SELECT l_partkey AS item, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |    CAST(EXTRACT(DOY FROM l_shipdate) % 24 AS BIGINT) AS t_hour
      |  FROM lineitem
      |  WHERE l_returnflag = 'N' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |    AND EXTRACT(MONTH FROM l_shipdate) = 12
      |  UNION ALL
      |  SELECT l_partkey AS item, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |    CAST(EXTRACT(DOY FROM l_shipdate) % 24 AS BIGINT) AS t_hour
      |  FROM lineitem
      |  WHERE l_returnflag = 'R' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |    AND EXTRACT(MONTH FROM l_shipdate) = 12
      |  UNION ALL
      |  SELECT l_partkey AS item, CAST(l_extendedprice AS DECIMAL(12,2)) AS price,
      |    CAST(EXTRACT(DOY FROM l_shipdate) % 24 AS BIGINT) AS t_hour
      |  FROM lineitem
      |  WHERE l_returnflag = 'A' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |    AND EXTRACT(MONTH FROM l_shipdate) = 12)
      |SELECT p_brand, t_hour, CAST(SUM(price) AS DOUBLE) AS ext_price
      |FROM tmp, part
      |WHERE item = p_partkey
      |GROUP BY p_brand, t_hour
      |ORDER BY p_brand, t_hour""".stripMargin

  // q73-shape: orders with 5-7 lines (HAVING band on a per-ticket count), joined back to customer.
  private val q73 =
    """WITH oc AS (
      |  SELECT l_orderkey AS ticket, o_custkey AS cust, COUNT(*) AS cnt
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  GROUP BY l_orderkey, o_custkey
      |  HAVING COUNT(*) BETWEEN 5 AND 7)
      |SELECT c_name, c_mktsegment, ticket, cnt
      |FROM oc, customer
      |WHERE cust = c_custkey
      |ORDER BY c_name, ticket""".stripMargin

  // q74-shape: year-over-year quantity growth self-join (q4 family, quantity measure, 1999-2000).
  private val q74 =
    """WITH year_total AS (
      |  SELECT o_custkey AS cust, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total, 'store' AS channel
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'
      |    AND EXTRACT(YEAR FROM o_orderdate) IN (1999, 2000)
      |  GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate)
      |  UNION ALL
      |  SELECT o_custkey AS cust, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS yr,
      |    SUM(CAST(l_quantity AS DECIMAL(12,2))) AS total, 'web' AS channel
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      |    AND EXTRACT(YEAR FROM o_orderdate) IN (1999, 2000)
      |  GROUP BY o_custkey, EXTRACT(YEAR FROM o_orderdate))
      |SELECT ts2.cust
      |FROM year_total ts1, year_total ts2, year_total tw1, year_total tw2
      |WHERE ts2.cust = ts1.cust AND ts1.cust = tw1.cust AND ts1.cust = tw2.cust
      |  AND ts1.channel = 'store' AND ts2.channel = 'store'
      |  AND tw1.channel = 'web' AND tw2.channel = 'web'
      |  AND ts1.yr = 1999 AND ts2.yr = 2000 AND tw1.yr = 1999 AND tw2.yr = 2000
      |  AND ts1.total > 0 AND tw1.total > 0
      |  AND CAST(tw2.total AS DOUBLE) * CAST(ts1.total AS DOUBLE)
      |    > CAST(ts2.total AS DOUBLE) * CAST(tw1.total AS DOUBLE)
      |ORDER BY ts2.cust""".stripMargin

  // q77-shape: per-store sales LEFT JOIN returns plus a storeless catalog branch, ROLLUP (channel, id).
  private val q77 =
    """WITH ss AS (
      |  SELECT CAST(l_suppkey % 10 AS BIGINT) AS sid,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sales,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem WHERE l_returnflag = 'N' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY l_suppkey % 10),
      |sr AS (
      |  SELECT CAST(l_suppkey % 10 AS BIGINT) AS sid,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS returns_,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS profit_loss
      |  FROM lineitem WHERE l_returnflag = 'R' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |  GROUP BY l_suppkey % 10),
      |cs AS (
      |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sales,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'O'
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997),
      |cr AS (
      |  SELECT SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS returns_,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS profit_loss
      |  FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'F'
      |    AND EXTRACT(YEAR FROM l_shipdate) = 1997)
      |SELECT channel, sid,
      |  CAST(SUM(sales) AS DOUBLE) AS sales,
      |  CAST(SUM(returns_) AS DOUBLE) AS returns_,
      |  CAST(SUM(profit) AS DOUBLE) AS profit
      |FROM (
      |  SELECT 'store channel' AS channel, ss.sid AS sid, ss.sales AS sales,
      |    COALESCE(sr.returns_, CAST(0 AS DECIMAL(12,2))) AS returns_,
      |    ss.profit - COALESCE(sr.profit_loss, CAST(0 AS DECIMAL(12,2))) AS profit
      |  FROM ss LEFT JOIN sr ON ss.sid = sr.sid
      |  UNION ALL
      |  SELECT 'catalog channel' AS channel, CAST(-1 AS BIGINT) AS sid, cs.sales AS sales,
      |    cr.returns_ AS returns_, cs.profit - cr.profit_loss AS profit
      |  FROM cs, cr) x
      |GROUP BY ROLLUP (channel, sid)
      |ORDER BY channel NULLS FIRST, sid NULLS FIRST""".stripMargin

  // q79-shape: per-visit amounts on a pseudo-weekday for half the stores, customer join outside the CTE.
  private val q79 =
    """WITH ms AS (
      |  SELECT l_orderkey AS ticket, o_custkey AS cust, CAST(l_suppkey % 10 AS BIGINT) AS store,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS amt,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_tax AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem, orders
      |  WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'
      |    AND EXTRACT(DOY FROM o_orderdate) % 7 = 1 AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |    AND l_suppkey % 10 < 5
      |  GROUP BY l_orderkey, o_custkey, l_suppkey % 10)
      |SELECT c_name, store, ticket, CAST(amt AS DOUBLE) AS amt, CAST(profit AS DOUBLE) AS profit
      |FROM ms, customer
      |WHERE cust = c_custkey
      |ORDER BY c_name, store, ticket""".stripMargin

  // q80-shape: three-channel sales/returns/profit with promo+price filters, ROLLUP (channel, brand).
  // HAVING COUNT(*) > 0 drops only the grand-total row of an EMPTY input
  // (this one is empty at sf0.001): DuckDB emits that row and Spark does
  // not (the grouping-sets delta FuzzSpec pins); every other ROLLUP group
  // counts >= 1 row.
  private val q80 =
    """WITH ssr AS (
      |  SELECT p_brand,
      |    SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS sales,
      |    SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS returns_,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'N' AND l_discount <= 0.05
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-08-01 00:00:00' AND TIMESTAMP '1997-09-30 00:00:00'
      |    AND p_retailprice > 950
      |  GROUP BY p_brand),
      |csr AS (
      |  SELECT p_brand,
      |    SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS sales,
      |    SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS returns_,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'A' AND l_discount <= 0.05
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-08-01 00:00:00' AND TIMESTAMP '1997-09-30 00:00:00'
      |    AND p_retailprice > 950
      |  GROUP BY p_brand),
      |wsr AS (
      |  SELECT p_brand,
      |    SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS sales,
      |    SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_extendedprice AS DECIMAL(12,2)) ELSE CAST(0 AS DECIMAL(12,2)) END) AS returns_,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS profit
      |  FROM lineitem, part
      |  WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND l_discount <= 0.05
      |    AND l_shipdate BETWEEN TIMESTAMP '1997-08-01 00:00:00' AND TIMESTAMP '1997-09-30 00:00:00'
      |    AND p_retailprice > 950
      |  GROUP BY p_brand)
      |SELECT channel, p_brand,
      |  CAST(SUM(sales) AS DOUBLE) AS sales,
      |  CAST(SUM(returns_) AS DOUBLE) AS returns_,
      |  CAST(SUM(profit) AS DOUBLE) AS profit
      |FROM (
      |  SELECT 'store channel' AS channel, * FROM ssr
      |  UNION ALL
      |  SELECT 'catalog channel' AS channel, * FROM csr
      |  UNION ALL
      |  SELECT 'web channel' AS channel, * FROM wsr) x
      |GROUP BY ROLLUP (channel, p_brand)
      |HAVING COUNT(*) > 0
      |ORDER BY channel NULLS FIRST, p_brand NULLS FIRST""".stripMargin

  // q81-shape: catalog-return customers above 1.2x state average, address detail output (q30 sibling).
  private val q81 =
    """WITH ctr AS (
      |  SELECT o_custkey AS ctr_cust, c_nationkey AS ctr_state,
      |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 + CAST(l_tax AS DECIMAL(12,2)))) AS ctr_amt
      |  FROM lineitem, orders, customer
      |  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_returnflag = 'A'
      |    AND EXTRACT(YEAR FROM o_orderdate) = 1998
      |  GROUP BY o_custkey, c_nationkey)
      |SELECT c_custkey, c_name, n_name, CAST(ctr1.ctr_amt AS DOUBLE) AS return_amt
      |FROM ctr ctr1, customer, nation
      |WHERE ctr1.ctr_cust = c_custkey AND c_nationkey = n_nationkey
      |  AND CAST(ctr1.ctr_amt AS DOUBLE) * 5 > (
      |    SELECT 6 * CAST(SUM(ctr2.ctr_amt) AS DOUBLE) / COUNT(*)
      |    FROM ctr ctr2 WHERE ctr1.ctr_state = ctr2.ctr_state)
      |ORDER BY c_custkey""".stripMargin

  // q82-shape: item listing under a different price/size band with store-channel presence (q37 sibling).
  private val q82 =
    """SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS price
      |FROM part
      |WHERE p_retailprice BETWEEN 910 AND 950 AND p_size IN (5, 15, 25, 35, 45)
      |  AND p_partkey IN (SELECT l_partkey FROM lineitem
      |    WHERE l_quantity BETWEEN 20 AND 40
      |      AND l_shipdate BETWEEN TIMESTAMP '1997-06-01 00:00:00' AND TIMESTAMP '1997-07-31 00:00:00')
      |  AND p_partkey IN (SELECT l_partkey FROM lineitem
      |    WHERE l_returnflag = 'N' AND EXTRACT(YEAR FROM l_shipdate) = 1997)
      |GROUP BY p_partkey, p_name, p_retailprice
      |ORDER BY p_partkey""".stripMargin

  // q84-shape: chained dim lookup (region->nation->customer) with an income band and a returns semi-join.
  private val q84 =
    """SELECT c_custkey AS customer_id, c_name AS customer_name, r_name
      |FROM customer, nation, region
      |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'EUROPE' AND c_acctbal BETWEEN 2000 AND 4000
      |  AND c_custkey IN (SELECT o_custkey FROM orders, lineitem
      |    WHERE o_orderkey = l_orderkey AND l_returnflag = 'R')
      |ORDER BY customer_id""".stripMargin

  // q85-shape: returns averaged per reason under doubly OR'd demographic and balance/discount bands.
  private val q85 =
    """SELECT o_orderpriority AS reason,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_refund,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_tax AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_fee
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_returnflag = 'R'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |  AND ((c_mktsegment = 'BUILDING' AND l_quantity BETWEEN 1 AND 20)
      |    OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 21 AND 35)
      |    OR (c_mktsegment = 'AUTOMOBILE' AND l_quantity BETWEEN 36 AND 50))
      |  AND ((c_acctbal BETWEEN 0 AND 3000 AND l_discount <= 0.05)
      |    OR (c_acctbal BETWEEN 3000 AND 9000 AND l_discount > 0.05))
      |GROUP BY o_orderpriority
      |ORDER BY reason""".stripMargin

  // q86-shape: two-level ROLLUP with RANK inside each grouping level (lochierarchy) on the web channel.
  private val q86 =
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_sum,
      |  p_type, l_linestatus,
      |  CAST(GROUPING(p_type) + GROUPING(l_linestatus) AS BIGINT) AS lochierarchy,
      |  CAST(RANK() OVER (
      |    PARTITION BY GROUPING(p_type) + GROUPING(l_linestatus),
      |      CASE WHEN GROUPING(l_linestatus) = 0 THEN p_type END
      |    ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(12,2))) DESC) AS BIGINT) AS rank_within_parent
      |FROM lineitem, part
      |WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND EXTRACT(YEAR FROM l_shipdate) = 1997
      |GROUP BY ROLLUP (p_type, l_linestatus)
      |ORDER BY lochierarchy DESC, p_type NULLS FIRST, l_linestatus NULLS FIRST, rank_within_parent""".stripMargin

  // q91-shape: call-center net loss on returns for a month, demographic + balance filters.
  private val q91 =
    """SELECT s_name AS call_center,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS net_loss
      |FROM lineitem, orders, customer, supplier
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
      |  AND l_returnflag = 'R'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997 AND EXTRACT(MONTH FROM o_orderdate) = 11
      |  AND c_mktsegment IN ('MACHINERY', 'FURNITURE') AND c_acctbal < 3000
      |GROUP BY s_name
      |ORDER BY call_center""".stripMargin

  // q92-shape: excess discount: lines whose discount beats 1.3x the item's windowed average (correlated, cross-multiplied).
  private val q92 =
    """SELECT CAST(SUM(CAST(l1.l_discount AS DECIMAL(12,2)) * CAST(l1.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS excess_discount
      |FROM lineitem l1, part
      |WHERE l1.l_partkey = p_partkey
      |  AND p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4', 'Brand#5')
      |  AND l1.l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00'
      |  AND 10 * CAST(l1.l_discount AS DECIMAL(12,2)) *
      |      (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey
      |        AND l2.l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00')
      |    > 13 * (SELECT SUM(CAST(l2.l_discount AS DECIMAL(12,2))) FROM lineitem l2
      |        WHERE l2.l_partkey = l1.l_partkey
      |          AND l2.l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00' AND TIMESTAMP '1997-03-31 00:00:00')""".stripMargin

  // q94-shape: web shipping report: EXISTS other-warehouse line AND NOT EXISTS catalog'd order (q16 sibling).
  private val q94 =
    """SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
      |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2)) * CAST(l1.l_tax AS DECIMAL(12,2))) AS DOUBLE) AS total_shipping_cost,
      |  CAST(SUM(CAST(l1.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l1.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS total_net_profit
      |FROM lineitem l1, orders
      |WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |  AND o_orderdate BETWEEN TIMESTAMP '1997-05-01 00:00:00' AND TIMESTAMP '1997-06-30 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
      |    AND l2.l_suppkey % 5 <> l1.l_suppkey % 5)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey
      |    AND l3.l_returnflag = 'A')""".stripMargin

  // q96-shape: single scalar count at a pseudo-weekday x segment x quantity-band intersection.
  private val q96 =
    """SELECT CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM lineitem, orders, customer
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND EXTRACT(DOY FROM o_orderdate) % 7 = 3
      |  AND c_mktsegment = 'HOUSEHOLD' AND l_quantity BETWEEN 5 AND 10
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997""".stripMargin

  // q99-shape: ship-lag buckets per month x priority on the catalog channel (q62 sibling).
  private val q99 =
    """SELECT CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT) AS mon, o_orderpriority,
      |  CAST(SUM(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d30,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY AND l_shipdate <= o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d60,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY AND l_shipdate <= o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d90,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY AND l_shipdate <= o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS d120,
      |  CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS BIGINT) AS dmore
      |FROM lineitem, orders
      |WHERE l_orderkey = o_orderkey AND l_returnflag = 'A'
      |  AND EXTRACT(YEAR FROM o_orderdate) = 1997
      |GROUP BY EXTRACT(MONTH FROM o_orderdate), o_orderpriority
      |ORDER BY mon, o_orderpriority""".stripMargin

  private[queries] val all: Map[String, String] = Map(
    "q_tpcds2" -> q2,
    "q_tpcds21" -> q21,
    "q_tpcds22" -> q22,
    "q_tpcds28" -> q28,
    "q_tpcds32" -> q32,
    "q_tpcds50" -> q50,
    "q_tpcds59" -> q59,
    "q_tpcds65" -> q65,
    "q_tpcds76" -> q76,
    "q_tpcds83" -> q83,
    "q_tpcds90" -> q90,
    "q_tpcds1" -> q1,
    "q_tpcds5" -> q5,
    "q_tpcds17" -> q17,
    "q_tpcds34" -> q34,
    "q_tpcds38" -> q38,
    "q_tpcds40" -> q40,
    "q_tpcds41" -> q41,
    "q_tpcds44" -> q44,
    "q_tpcds45" -> q45,
    "q_tpcds48" -> q48,
    "q_tpcds58" -> q58,
    "q_tpcds64" -> q64,
    "q_tpcds66" -> q66,
    "q_tpcds72" -> q72,
    "q_tpcds75" -> q75,
    "q_tpcds78" -> q78,
    "q_tpcds87" -> q87,
    "q_tpcds89" -> q89,
    "q_tpcds93" -> q93,
    "q_tpcds98" -> q98,
    "q_tpcds4" -> q4,
    "q_tpcds9" -> q9,
    "q_tpcds14" -> q14,
    "q_tpcds14b" -> q14b,
    "q_tpcds23" -> q23,
    "q_tpcds23b" -> q23b,
    "q_tpcds24" -> q24,
    "q_tpcds24b" -> q24b,
    "q_tpcds31" -> q31,
    "q_tpcds35" -> q35,
    "q_tpcds36" -> q36,
    "q_tpcds39" -> q39,
    "q_tpcds39b" -> q39b,
    "q_tpcds47" -> q47,
    "q_tpcds49" -> q49,
    "q_tpcds51" -> q51,
    "q_tpcds67" -> q67,
    "q_tpcds70" -> q70,
    "q_tpcds88" -> q88,
    "q_tpcds95" -> q95,
    "q_tpcds97" -> q97,
    "q_tpcds3" -> q3,
    "q_tpcds6" -> q6,
    "q_tpcds7" -> q7,
    "q_tpcds8" -> q8,
    "q_tpcds10" -> q10,
    "q_tpcds11" -> q11,
    "q_tpcds12" -> q12,
    "q_tpcds13" -> q13,
    "q_tpcds15" -> q15,
    "q_tpcds16" -> q16,
    "q_tpcds18" -> q18,
    "q_tpcds19" -> q19,
    "q_tpcds20" -> q20,
    "q_tpcds25" -> q25,
    "q_tpcds26" -> q26,
    "q_tpcds27" -> q27,
    "q_tpcds29" -> q29,
    "q_tpcds30" -> q30,
    "q_tpcds33" -> q33,
    "q_tpcds37" -> q37,
    "q_tpcds42" -> q42,
    "q_tpcds43" -> q43,
    "q_tpcds46" -> q46,
    "q_tpcds52" -> q52,
    "q_tpcds53" -> q53,
    "q_tpcds54" -> q54,
    "q_tpcds55" -> q55,
    "q_tpcds56" -> q56,
    "q_tpcds57" -> q57,
    "q_tpcds60" -> q60,
    "q_tpcds61" -> q61,
    "q_tpcds62" -> q62,
    "q_tpcds63" -> q63,
    "q_tpcds68" -> q68,
    "q_tpcds69" -> q69,
    "q_tpcds71" -> q71,
    "q_tpcds73" -> q73,
    "q_tpcds74" -> q74,
    "q_tpcds77" -> q77,
    "q_tpcds79" -> q79,
    "q_tpcds80" -> q80,
    "q_tpcds81" -> q81,
    "q_tpcds82" -> q82,
    "q_tpcds84" -> q84,
    "q_tpcds85" -> q85,
    "q_tpcds86" -> q86,
    "q_tpcds91" -> q91,
    "q_tpcds92" -> q92,
    "q_tpcds94" -> q94,
    "q_tpcds96" -> q96,
    "q_tpcds99" -> q99
  )

  val queries: Map[String, QFn] = all.map { case (name, sql) =>
    name -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sql)
    }): (String, QFn)
  }

  // identical SQL text runs as the oracle (dialect-shared by design)
  val oracles: Map[String, String] = all
}
