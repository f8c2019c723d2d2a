package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.queries.{AggQueries, JoinQueries, Q}

/** Plan-quality assertions — the 100 TB readiness checks from the build
  * brief: filters and projections must reach the parquet scan, small dims
  * must broadcast, aggregates must keep partial (map-side) aggregation,
  * and the hot path must stay inside whole-stage codegen.
  */
class PlanQualitySpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def planString(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.toString()
  }

  test("filter pushdown reaches the parquet scan (PushedFilters)") {
    val df = Tables.load(spark, sf, "lineitem")
      .filter($"l_quantity" < 30)
      .select($"l_orderkey", $"l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,30.0)]"),
      s"pushdown missing in: $scan")
  }

  test("column pruning reaches the scan (ReadSchema only has needed cols)") {
    val df = Tables.load(spark, sf, "lineitem").select($"l_orderkey", $"l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("ReadSchema") &&
      scan.contains("l_orderkey") && scan.contains("l_quantity") &&
      !scan.contains("l_extendedprice"),
      s"pruning missing in: $scan")
  }

  test("dimension join broadcasts the small side") {
    val plan = planString(JoinQueries.queries("q_join_inner")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in: $plan")
  }

  test("aggregation keeps map-side partial aggregation") {
    val plan = planString(AggQueries.queries("q_agg_basic")(spark, sf))
    // partial + final HashAggregate pair
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg in: $plan")
  }

  test("hot path stays inside whole-stage codegen") {
    val df = AggQueries.queries("q_agg_basic")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString()
    // codegen stages print as WholeStageCodegen or the *(n) marker
    assert(plan.contains("WholeStageCodegen") || plan.contains("*("),
      s"no codegen span in: $plan")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in plan") {
    // the 100 TB fact-fact join path: both sides bucketed on the join key
    // → SortMergeJoin without Exchange (SURVEY §2.8 partitioning row)
    val o = Tables.load(spark, sf, "orders")
    val l = Tables.load(spark, sf, "lineitem")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    try {
      // disable broadcast so the co-located SMJ path is what's planned
      Q.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("orders_b")
          .join(spark.table("lineitem_b"), $"o_orderkey" === $"l_orderkey")
          .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString()
        assert(plan.contains("SortMergeJoin"), s"expected SMJ in: $plan")
        assert(plan.contains("Bucketed: true"), s"scan not bucketed: $plan")
        // no shuffle on the JOIN keys (the aggregate's own exchange on
        // o_orderstatus is expected and unrelated)
        assert(!plan.contains("Exchange hashpartitioning(o_orderkey") &&
          !plan.contains("Exchange hashpartitioning(l_orderkey"),
          s"bucketed join still shuffles: $plan")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    // the reference's dynamic-filtering operator
    // (DynamicFilteringDataCollectorOperator): a selective dimension
    // predicate must reach a PARTITIONED fact scan as a runtime
    // partition filter — Spark's native DPP is the same mechanism
    val o = Tables.load(spark, sf, "orders")
    o.write.mode("overwrite").partitionBy("o_orderstatus")
      .saveAsTable("orders_dpp")
    try {
      // the dim must be a real scan with a surviving selective filter —
      // a LocalRelation constant-folds its filter away and the pruning
      // rule sees nothing selective to reuse
      val dimDir = tmpDir("dpp_dim")
      Seq(("F", 1L), ("O", 2L), ("P", 3L)).toDF("status", "flag")
        .write.mode("overwrite").parquet(dimDir)
      Q.withConf(spark,
        "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
        "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0") {
        val joined = spark.table("orders_dpp")
          .join(spark.read.parquet(dimDir).filter($"flag" === 1L),
            $"o_orderstatus" === $"status")
          .agg(count(lit(1)).as("n"))
        joined.collect()
        val plan = joined.queryExecution.executedPlan.toString()
        assert(plan.contains("dynamicpruning"),
          s"no dynamic partition pruning in: $plan")
      }
    } finally spark.sql("DROP TABLE IF EXISTS orders_dpp")
  }

  test("AQE splits a skewed join partition at runtime (isSkew marker)") {
    // the hot-key story the build brief names: one join key carries most
    // of the rows; AQE's skew-join rule must split that partition into
    // parallel sub-reads instead of leaving one straggler task.
    // Thresholds are lowered so spec-sized data exhibits the behavior —
    // production keeps the defaults and the same plan shape at TB scale.
    // varying payloads keep the hot partition incompressible enough to
    // clear the (lowered) skew byte threshold after shuffle compression
    val rng = new scala.util.Random(11)
    val hot = (0 until 100000).map(_ => (1L, rng.nextInt().toLong))
    val rest = (2L until 1000L).map(k => (k, k))
    val fact = (hot ++ rest).toDF("k", "payload")
    val dim = (1L until 1000L).map(k => (k, k * 10)).toDF("k", "v")
    Q.withConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1KB") {
      val joined = fact.join(dim, "k")
        .agg(count(lit(1)).as("n"), sum($"payload").as("s"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("isSkew=true") || plan.contains("skewed"),
        s"AQE did not mark/split the skewed partition: $plan")
    }
  }

  test("runtime Bloom filter is injected for a selective dim join") {
    // the runtime-filter story at 100 TB: a selective filter on the dim
    // side should cut the fact scan BEFORE the shuffle via an injected
    // bloom_filter probe (InjectRuntimeFilter). Thresholds are lowered so
    // spec-sized parquet qualifies; production keeps defaults where the
    // fact side is the one that crosses the 10 GB application threshold.
    Q.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtimeFilter.number.threshold" -> "10",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = Tables.load(spark, sf, "lineitem")
        .select($"l_orderkey", $"l_partkey", $"l_quantity")
      val dim = Tables.load(spark, sf, "part")
        .filter($"p_size" === 1) // selective creation-side predicate
        .select($"p_partkey")
      val joined = fact.join(dim, $"l_partkey" === $"p_partkey")
        .agg(sum($"l_quantity"))
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"no runtime bloom filter injected in: $plan")
    }
  }

  test("CBO with ANALYZE stats reorders a misordered star join") {
    // the reference's TPC-DS runs use table stats for CBO
    // (TpcdsTestProgram --useTableStats); Spark's CostBasedJoinReorder
    // needs cataloged tables with ANALYZE'd stats. The query joins the
    // fact to the BIG dim first syntactically; with stats the optimizer
    // must put the 20-row dim innermost instead.
    Seq("cbo_fact", "cbo_dim_big", "cbo_dim_tiny").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    (0L until 100000L).map(i => (i % 10000, i % 20, i))
      .toDF("b", "t", "v").write.saveAsTable("cbo_fact")
    (0L until 10000L).map(i => (i, i)).toDF("b", "x")
      .write.saveAsTable("cbo_dim_big")
    (0L until 20L).map(i => (i, i)).toDF("t", "y")
      .write.saveAsTable("cbo_dim_tiny")
    Seq("cbo_fact", "cbo_dim_big", "cbo_dim_tiny").foreach(t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    try {
      def joinOrder(cbo: Boolean): (Int, Int) = Q.withConf(spark,
        "spark.sql.cbo.enabled" -> cbo.toString,
        "spark.sql.cbo.joinReorder.enabled" -> cbo.toString) {
        val p = spark.sql(
          """SELECT SUM(v) FROM cbo_fact
            |JOIN cbo_dim_big ON cbo_fact.b = cbo_dim_big.b
            |JOIN cbo_dim_tiny ON cbo_fact.t = cbo_dim_tiny.t""".stripMargin)
          .queryExecution.optimizedPlan.toString()
        (p.indexOf("cbo_dim_big"), p.indexOf("cbo_dim_tiny"))
      }
      val (big, tiny) = joinOrder(cbo = true)
      assert(big >= 0 && tiny >= 0)
      // left-deep print order: the innermost (first-joined) relation
      // appears first — with stats, that must be the tiny dim
      assert(tiny < big,
        s"CBO did not reorder: tiny dim at $tiny, big dim at $big")
      // and the reorder is attributable to stats: without CBO the
      // syntactic order (big first) survives
      val (big0, tiny0) = joinOrder(cbo = false)
      assert(big0 < tiny0, "baseline already had the tiny dim innermost")
    } finally Seq("cbo_fact", "cbo_dim_big", "cbo_dim_tiny").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF ANN plan: corpus assignment is a projection over a broadcast model") {
    val emb = Tables.load(spark, sf, "embeddings")
    val df = graft.operators.SimilarityOps.ivfTopK(
      emb.filter($"vec_id" < 10), emb, k = 5, nCells = 8, nProbe = 3)
    df.collect() // finalize adaptive plan
    val plan = df.queryExecution.executedPlan.toString()
    // the centroid "model" reaches the corpus as a broadcast, and the
    // only join against the corpus is the (cell) equi-join — NO cartesian
    // product over corpus rows
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"centroid model not broadcast: $plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian over corpus: $plan")
  }

  test("simhash pair screen plans: equi-joins, no cartesian product") {
    val docs = Tables.load(spark, sf, "documents")
    // default dispatch: hamming-ball join on the full signature value
    val ball = graft.operators.DedupOps.simhashPairs(
      graft.operators.DedupOps.simhash(docs), maxHamming = 3)
    ball.collect()
    val ballPlan = ball.queryExecution.executedPlan.toString()
    assert(!ballPlan.contains("CartesianProduct") &&
      !ballPlan.contains("BroadcastNestedLoopJoin"),
      s"ball screen is not an equi-join: $ballPlan")
    assert(ballPlan.contains("sig_b"), s"missing sig-level join key: $ballPlan")

    // saltTarget > 0 forces the banded screen (wide-signature path):
    // a hash-partitioned join on (band, chunk, salt)
    val banded = graft.operators.DedupOps.simhashPairs(
      graft.operators.DedupOps.simhash(docs), maxHamming = 3, saltTarget = 256)
    banded.collect()
    val plan = banded.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded screen is not an equi-join: $plan")
    assert(plan.contains("band") && plan.contains("chunk"), s"missing band/chunk join: $plan")
  }

  test("minhash signature plan: pure projection, zero shuffle, no explode") {
    val docs = Tables.load(spark, sf, "documents")
    val df = graft.operators.DedupOps.minhash(docs, k = 8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"minhash shuffles: $plan")
    assert(!plan.contains("Generate"), s"minhash explodes: $plan")
  }

  test("LSH verify pipeline plan: no explode anywhere (packed-array jaccard)") {
    import graft.operators.{DedupOps, CacheOnce}
    val docs = Tables.load(spark, sf, "documents")
    val sig = DedupOps.minhash(docs, k = 8)
    CacheOnce.untilConsumed(sig)
    val pairs = DedupOps.candidatePairs(DedupOps.lshBuckets(sig))
    val df = DedupOps.jaccardVerify(docs, pairs).filter($"jaccard" >= 0.8)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    // signature = projection fold; banding = union of projections;
    // verify = array_intersect over packed shingle arrays — nothing in
    // the pipeline needs a Generate (explode) node any more
    assert(!plan.contains("Generate"), s"unexpected explode in: $plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
  }

  test("correlated EXISTS / NOT EXISTS decorrelate to semi/anti joins, no cartesian") {
    val df = queries.SqlQueries.queries("q_sql_tpch21")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    assert(plan.contains("LeftSemi"), s"EXISTS must become a semi join: $plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must become an anti join: $plan")
  }

  test("correlated scalar subqueries decorrelate into aggregate joins, no cartesian") {
    val df = queries.SqlQueries.queries("q_sql_tpch17")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // the per-partkey COUNT/SUM subqueries become partial-agg'd
    // aggregates joined back on l_partkey — never a per-row re-scan.
    // The outer GROUP BY p_brand alone contributes one partial+final
    // pair (2), so >= 4 is the threshold that actually detects the
    // decorrelated subquery aggregate (currently 12 with AQE).
    assert("HashAggregate".r.findAllIn(plan).size >= 4, s"no agg join in: $plan")
  }

  test("JSON constructors stay inside whole-stage codegen") {
    import graft.functions.JsonConstructors._
    val df = Tables.load(spark, sf, "nation")
      .select(jsonObject(Seq(lit("name") -> $"n_name", lit("key") -> $"n_nationkey")).as("j"))
      .filter($"j".isNotNull)
    val plan = planString(df)
    assert(plan.contains("*("), s"json_object fell out of codegen: $plan")
    assert(df.count() > 0)
  }

  test("custom split_index expression stays codegen-compatible") {
    import graft.functions.GraftFunctions
    val df = Tables.load(spark, sf, "part")
      .select(GraftFunctions.splitIndex($"p_name", lit(" "), lit(1)).as("x"))
      .filter($"x".isNotNull)
    val plan = planString(df)
    // the *(n) marker = inside a WholeStageCodegen stage; the expression
    // must not force a fallback out of codegen
    assert(plan.contains("*("), s"split_index fell out of codegen: $plan")
    assert(df.count() > 0)
  }

  test("embedding near-dup plan: bucket equi-join, pushdown, no cartesian") {
    val plan = planString(
      graft.queries.PipelineQueries.queries("q_dedup_embed")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs product leaked into the near-dup screen: $plan")
    // candidates come from an equi-join keyed on the LSH bucket
    assert(plan.contains("bucket"), s"no bucket join key in: $plan")
    assert(plan.contains("PushedFilters: [IsNotNull(vec_id)]"),
      s"scan pushdown missing: $plan")
  }

  test("FOR SYSTEM_TIME AS OF plan: one key shuffle, one window pass") {
    graft.Tables.registerAll(spark, sf)
    val plan = planString(
      graft.queries.JoinQueries.queries("q_join_asof_sql")(spark, sf))
    // the carry-forward shape: exactly one hash exchange on the join key
    // (the trailing range exchange is the user's ORDER BY) and a single
    // window operator — not the join+filter+rank O(left x right) plan
    assert("hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected one key shuffle in: $plan")
    assert("(?m)^\\s*(?:\\+|:)- Window ".r.findAllIn(plan).size == 1,
      s"expected one window pass in: $plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join operator in the carry-forward plan: $plan")
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"probe-side pushdown missing: $plan")
  }

  test("composite-key temporal join keeps the carry-forward shape") {
    graft.Tables.registerAll(spark, sf)
    val plan = planString(
      graft.queries.JoinQueries.queries("q_join_asof_multi")(spark, sf))
    // a second key column must NOT change the plan class: still exactly
    // one hash exchange (now on both key columns together) and a single
    // window pass — not a join blow-up
    assert("hashpartitioning".r.findAllIn(plan).size == 1,
      s"expected one key shuffle in: $plan")
    assert("(?m)^\\s*(?:\\+|:)- Window ".r.findAllIn(plan).size == 1,
      s"expected one window pass in: $plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join operator in the carry-forward plan: $plan")
    // both internal key columns partition the window
    assert(plan.contains("__tj_k0") && plan.contains("__tj_k1"),
      s"composite key columns missing from: $plan")
  }

  test("TPC-DS q95 shape: nested INs become semi joins, no cartesian") {
    val df = queries.TpcdsQueries.queries("q_tpcds95")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // both IN subqueries (one nesting the ws_wh CTE again) must
    // decorrelate to semi joins — a per-row re-execution would be a
    // scale-killer on the fact table
    assert(plan.contains("LeftSemi"), s"IN must become a semi join: $plan")
  }

  test("TPC-DS q70 shape: dims broadcast, rollup expands, no cartesian") {
    val df = queries.TpcdsQueries.queries("q_tpcds70")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // nation/region are tiny dims joined to the fact — broadcast, never
    // a fact-side shuffle join against a 25-row table
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast: $plan")
    assert(plan.contains("Expand"), s"ROLLUP must plan as Expand: $plan")
  }

  test("TPC-DS q51 shape: the channel filter reaches the parquet scan") {
    val df = queries.TpcdsQueries.queries("q_tpcds51")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // l_partkey < 200 and the returnflag channel filter must be scan
    // pushdowns — at 100 TB the cumulative-window input is the sliver,
    // not the whole fact table
    assert(plan.contains("LessThan(l_partkey,200)"),
      s"partkey filter must push to the scan: $plan")
    assert(plan.contains("EqualTo(l_returnflag,"),
      s"channel filter must push to the scan: $plan")
  }

  test("TPC-H q19 shape: disjunctive brackets stay a hash join, no cartesian") {
    // the classic q19 trap: the equi-join key buried in OR arms degrades
    // to a cartesian BNLJ over the fact table — our dialect text hoists
    // it, and the plan must show a real equi-join with the bracket
    // predicates evaluated post-join
    val df = queries.SqlQueries.queries("q_sql_tpch19")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q19 must not degrade to a non-equi join: $plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"q19 must plan an equi join: $plan")
  }

  // ---- r20: plan-shape pins for the top-10 most expensive batch keys
  // (BENCH_r19 driver run) — each assertion is a property the r19/r20
  // plan audits verified by hand; a regression (dropped broadcast, a
  // CTE re-executed per scalar, a rollup that stops expanding) goes red
  // here instead of surfacing as a silent bench slowdown.

  test("TPC-DS q24b shape: CTE scalar totals merge into one reused subquery") {
    val df = queries.TpcdsQueries.queries("q_tpcds24b")(spark, sf)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // the HAVING's COUNT(*) and SUM(netpaid) both range over the whole
    // unfiltered ssales CTE: MergeScalarSubqueries must fuse them into
    // ONE named_struct subquery and the second predicate must reuse it —
    // otherwise the 5-table CTE join is computed three times
    assert(plan.contains("mergedValue"),
      s"scalar subqueries not merged (CTE would run once per scalar): $plan")
    assert(plan.contains("ReusedSubquery"),
      s"merged subquery not reused by the second predicate: $plan")
    // nation/supplier dims broadcast into the fact join
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast: $plan")
  }

  test("TPC-DS q23 shape: both IN gates become semi joins, no cartesian") {
    val df = queries.TpcdsQueries.queries("q_tpcds23")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // item IN (frequent_items) and custkey IN (best_customers) must both
    // decorrelate to semi joins against the grouped CTEs — a per-row
    // re-execution of either CTE is a scale-killer on the fact table
    assert("LeftSemi".r.findAllIn(plan).size >= 2,
      s"both IN subqueries must become semi joins: $plan")
  }

  test("TPC-DS q14 shape: INTERSECT gate is a semi join, ROLLUP expands") {
    val df = queries.TpcdsQueries.queries("q_tpcds14")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    assert(plan.contains("LeftSemi"),
      s"IN (cross_items) must become a semi join: $plan")
    assert(plan.contains("Expand"), s"ROLLUP must plan as Expand: $plan")
    // partial aggregation on the channel aggregates before the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial agg in: $plan")
  }

  test("TPC-DS q22 shape: part dim broadcasts, limit avoids a global sort") {
    val df = queries.TpcdsQueries.queries("q_tpcds22")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"part dim must broadcast into the lineitem join: $plan")
    assert(plan.contains("Expand"), s"4-col ROLLUP must plan as Expand: $plan")
    // ORDER BY ... LIMIT 100 must plan as TakeOrderedAndProject (top-K
    // per partition + merge), never a full global sort of the rollup
    assert(plan.contains("TakeOrderedAndProject"),
      s"LIMIT must plan as top-K, not a global sort: $plan")
  }

  test("TPC-DS q65 shape: correlated MIN decorrelates to an aggregate join") {
    val df = queries.TpcdsQueries.queries("q_tpcds65")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // the per-supplier MIN(revenue) subquery must become a grouped
    // aggregate joined back on l_suppkey — never a per-row re-scan of sb
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"decorrelated MIN aggregate missing: $plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"sb-to-min join must be an equi join: $plan")
  }

  test("TPC-DS q6 shape: correlated per-type average joins back as an agg") {
    val df = queries.TpcdsQueries.queries("q_tpcds6")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // the per-p_type average subquery decorrelates to a grouped
    // aggregate equi-joined on p_type; the 5-table star keeps broadcasts
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast: $plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"decorrelated avg aggregate missing: $plan")
  }

  test("TPC-H q18 shape: the HAVING gate is a semi join on the fact key") {
    val df = queries.SqlQueries.queries("q_sql_tpch18")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), s"cartesian in: $plan")
    // o_orderkey IN (group-by-HAVING) must plan as a semi join against
    // the aggregated keys, with partial aggregation below the exchange
    assert(plan.contains("LeftSemi"), s"IN must become a semi join: $plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial agg in: $plan")
  }

  test("TPC-H q6 shape: every predicate reaches the parquet scan") {
    // single-scan query: at 100 TB the date/discount/quantity filters
    // ARE the query — they must be data-source pushdowns, not a
    // post-scan Filter over the full fact table
    val df = queries.SqlQueries.queries("q_sql_tpch6")(spark, sf)
    df.collect()
    // formatted mode prints the scan's full PushedFilters list (the
    // plan toString elides it at 100 chars)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("LessThan(l_quantity,24"),
      s"quantity filter must push to the scan: $plan")
    assert("GreaterThanOrEqual\\(l_shipdate".r.findFirstIn(plan).nonEmpty,
      s"shipdate range must push to the scan: $plan")
    // and column pruning: the scan reads the 4 referenced columns, not
    // the full 11-column lineitem schema
    assert(plan.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp_ntz>"),
      s"scan must prune to the 4 referenced columns: $plan")
  }
}
