package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import Q._

/** Measured scale law for the batch TPC families — the same evidence the
  * dedup/ANN pipelines carry (`b_dedup_scale1/8`, `b_sim_scale1/8`),
  * extended to the heaviest relational shapes. The reference runs its
  * TPC-DS sweep at a configurable scale factor
  * (flink-end-to-end-tests/flink-tpcds-test/.../TpcdsTestProgram.java:48);
  * this probe answers the same question for this engine: does the SAME
  * declarative plan hold its shape and its wall-time growth when the
  * data grows 8×?
  *
  * Method: every base table a shape touches is replicated `factor`
  * times in-plan (an exploded replica-index sequence — testdata is
  * read-only, nothing is written), with all replica-local join keys
  * shifted (`key·factor + rep`) so each replica joins only itself:
  * join selectivity per replica is preserved and result cardinality
  * grows linearly, the honest scale-up a key-shifted copy corpus gives.
  * `nation`/`region` stay unreplicated (dims a 100 TB deployment also
  * would not grow) — per-nation groups grow 8× in size, not in count.
  *
  * Each probe ALSO asserts plan stability at both factors: no
  * CartesianProduct and no BroadcastNestedLoopJoin may appear in any
  * shape's physical plan — the scale-killer flips (a join degenerating
  * to quadratic when stats change) fail the probe loudly instead of
  * showing up as a silently-worse ratio.
  *
  * The recorded measurement is the wall-time ratio between the `1` and
  * `8` bench entries (BENCH json / SURVEY scale notes): sub-linear to
  * ~linear = shuffle-bound plans holding; super-linear ≈ quadratic = a
  * broken shape.
  */
object ScaleProbes {

  /** The five heaviest shapes across the two corpora:
    * tpch21 — triple-lineitem EXISTS/NOT-EXISTS decorrelation (semi +
    *          anti joins on the fact table);
    * tpch18 — IN over a grouped-HAVING fact aggregate (semi join against
    *          an aggregated subquery);
    * tpcds4 — 4-way self-join of a two-channel year_total CTE;
    * tpcds23 — frequent-items + best-customers gating (two grouped CTEs,
    *           scalar MAX subquery, double IN);
    * tpcds16 — correlated EXISTS + NOT EXISTS over lineitem.
    */
  private def tpchShapes = Seq(
    "tpch21" -> SqlQueries.all("q_sql_tpch21"),
    "tpch18" -> SqlQueries.all("q_sql_tpch18"))
  private def tpcdsShapes = Seq(
    "tpcds4" -> TpcdsQueries.all("q_tpcds4"),
    "tpcds23" -> TpcdsQueries.all("q_tpcds23"),
    "tpcds16" -> TpcdsQueries.all("q_tpcds16"))

  /** Tables the probes replicate, with their replica-local key columns
    * (shifted so each replica joins only itself). Nation/region keys are
    * deliberately NOT shifted — dims that stay fixed at scale.
    */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"))

  /** Register the TPC views at `factor`× size (factor 1 = originals).
    * Replication is a GENERATOR (explode of a replica-index sequence),
    * not a join — it stays inside whole-stage codegen and cannot perturb
    * the join shapes the probe is asserting on.
    */
  private[graft] def registerReplicated(s: SparkSession, dir: String,
      factor: Int): Unit = {
    Tables.registerAll(s, dir)
    if (factor == 1) return
    keyCols.foreach { case (table, keys) =>
      val base = s.table(table).withColumn("rep",
        explode(sequence(lit(0L), lit(factor - 1L))))
      val shifted = keys.foldLeft(base) { (df, k) =>
        df.withColumn(k, col(k) * factor + col("rep"))
      }.drop("rep")
      // the captured plan reads the parquet relation, not the view name,
      // so replacing the view here cannot recurse
      shifted.createOrReplaceTempView(table)
    }
  }

  /** Analyze every shape at `factor`×, assert plan stability, and return
    * one row per shape with its result cardinality (forcing execution of
    * all shapes when the bench counts the union).
    */
  private def probe(s: SparkSession, dir: String, factor: Int,
      shapes: Seq[(String, String)]): DataFrame = {
    registerReplicated(s, dir, factor)
    val frames = shapes.map { case (name, sql) =>
      val df = s.sql(sql)
      val plan = df.queryExecution.sparkPlan.toString
      require(!plan.contains("CartesianProduct"),
        s"$name flipped to a cartesian product at ${factor}x")
      require(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name flipped to a nested-loop join at ${factor}x")
      df.agg(count(lit(1)).as("rows")).withColumn("shape", lit(name))
    }
    // restore the 1x views for whatever query runs next in the session;
    // the probe frames captured their (replicated) lineage at analysis
    Tables.registerAll(s, dir)
    frames.reduce(_ unionAll _)
  }

  /** Second octave: ONE heavy shape (tpch18 — fact-side group-by HAVING
    * feeding a semi join, the shape whose state grows fastest with the
    * fact table) measured at 1×/8×/64×, so the 1×→8× law is checked for
    * another ×8 on top. Kept to a single shape: the five-shape probes
    * above already pin the law's breadth at 8×; this one pins its DEPTH
    * (does sub-linear growth survive the second octave, or was 8× just
    * hiding in constant factors?). Same in-plan replication, same
    * no-flip asserts.
    */
  private def deepShape = Seq("tpch18" -> SqlQueries.all("q_sql_tpch18"))

  /** Bench-only entries (no oracle BY DESIGN — the measurement is the
    * 1×↔8×(↔64×) wall-time ratios; correctness of each shape is already
    * gated by its own oracle row at 1×).
    */
  val benchOnly: Map[String, QFn] = Map(
    "b_tpch_scale1" -> ((s, dir) => probe(s, dir, 1, tpchShapes)),
    "b_tpch_scale8" -> ((s, dir) => probe(s, dir, 8, tpchShapes)),
    "b_tpcds_scale1" -> ((s, dir) => probe(s, dir, 1, tpcdsShapes)),
    "b_tpcds_scale8" -> ((s, dir) => probe(s, dir, 8, tpcdsShapes)),
    "b_tpch18_scale1" -> ((s, dir) => probe(s, dir, 1, deepShape)),
    "b_tpch18_scale8" -> ((s, dir) => probe(s, dir, 8, deepShape)),
    "b_tpch18_scale64" -> ((s, dir) => probe(s, dir, 64, deepShape)))
}
