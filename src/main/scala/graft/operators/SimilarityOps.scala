package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over embedding columns (`Array[Float]`): brute-force
  * cosine top-k as the exact baseline, and a bucket-pruned (IVF-style)
  * variant as the scale path.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against the full corpus — a map-only cross product with per-partition
  * top-k via window rank; cost is O(|corpus| * |queries| * dim) FLOPs and
  * one shuffle of |queries| * k rows. The bucketed variant prunes the
  * corpus to the query's coarse cell (here the pre-assigned `label`
  * centroid id, standing in for a nearest-centroid assignment) before
  * scoring — the classic IVF recall/cost trade.
  *
  * Dot products run in double precision with a left-to-right fold —
  * deterministic and bit-identical to the SQL oracle's list_dot_product.
  *
  * Each rule's DuckDB twin sits beside its operator (`…Sql`: cosine, the
  * top-k tail, the RP-LSH bucket, the one-flip probes, the IVF cell
  * assignment); an oracle composes those twins and never re-types a rule.
  */
object SimilarityOps {

  /** Left-to-right double-precision dot product of two numeric arrays —
    * the native [[graft.functions.DotProduct]] expression (fused codegen
    * loop, bit-identical to the `aggregate(zip_with(...))` fold it
    * replaced).
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** SQL-oracle twin of [[cosine]] over two DOUBLE[] expressions (DuckDB). */
  def cosineSql(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** [[cosine]] over norms hoisted per ROW (computed once, carried
    * through the join) instead of per scored pair — the same sqrt of the
    * same fold, so the cosine is bit-identical; per-pair work drops to
    * one dot product.
    */
  private def hoistedCosine(a: String, an: String, b: String, bn: String): Column =
    dot(col(a), col(b)) / (col(an) * col(bn))

  /** One side of a scoring join: (id, emb, norm(emb)) under the given
    * names, plus any `extra` key columns.
    */
  private def side(df: DataFrame, idCol: String, embCol: String,
      id: String, emb: String, n: String, extra: Column*): DataFrame =
    df.select(Seq(col(idCol).as(id), col(embCol).as(emb),
      norm(col(embCol)).as(n)) ++ extra: _*)

  /** The top-k tail every search shares: over joined (q_id, q_emb, q_n,
    * c_id, c_emb, c_n) rows, self pairs dropped, the cosine ranked per
    * query (ties broken by corpus id), kept where rank <= k.
    */
  private def rankTopK(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        hoistedCosine("q_emb", "q_n", "c_emb", "c_n").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored
      .select(col("q_id"), col("c_id"), col("cos"),
        row_number().over(w).cast(LongType).as("rank"))
      .filter(col("rank") <= k)
  }

  /** SQL-oracle twin of the top-k tail over a `scored` CTE of (q_id,
    * c_id, cos): CTE `r` and the final select, the cosine rounded to 6 dp
    * as the queries round it. Follows the caller's last CTE.
    */
  def topKSql(k: Int): String =
    s"""r AS (SELECT q_id, c_id, cos,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS BIGINT) AS rank
       |  FROM scored)
       |SELECT q_id, c_id, round(cos, 6) AS cos, rank FROM r
       |WHERE rank <= $k ORDER BY q_id, rank""".stripMargin

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), ties broken by corpus id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankTopK(side(queries, "vec_id", "embedding", "q_id", "q_emb", "q_n")
      .crossJoin(side(corpus, "vec_id", "embedding", "c_id", "c_emb", "c_n")), k)

  /** IVF-style bucketed top-k: candidates restricted to the query's coarse
    * cell (`label`), cutting scored pairs by ~|cells|× at some recall cost.
    */
  def bucketedTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame =
    rankTopK(
      side(queries, "vec_id", "embedding", "q_id", "q_emb", "q_n",
        col("label").as("cell"))
        .join(side(corpus, "vec_id", "embedding", "c_id", "c_emb", "c_n",
          col("label").as("cell")), "cell"), k)

  /** Deterministic coarse centroids for IVF: the `nCells` lowest-id
    * corpus vectors, as (seed_id, s_emb). Any coarse quantizer works for
    * IVF; seeding from fixed ids keeps the whole pipeline reproducible
    * and SQL-oracle-expressible. Refine with [[lloydIterate]] when the
    * data is clusterable.
    */
  def seedCentroids(corpus: DataFrame, nCells: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("seed_id"),
        transform(col(embCol), _.cast(DoubleType)).as("s_emb"))

  /** The centroid set folded into ONE broadcastable row holding a sorted
    * (seed_id, s_emb) array — the "model" that assignment projects over.
    */
  private def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(sort_array(
      collect_list(struct(col("seed_id"), col("s_emb")))).as("cents"))

  /** Nearest-centroid id for `emb` — a pure projection folding over the
    * centroid array (argmax cosine, ties to the lower seed_id). This is
    * the 100 TB-critical piece: corpus assignment needs NO shuffle and NO
    * per-vector join, just a broadcast of O(nCells·dim) model state.
    */
  private def nearestCell(cents: Column, emb: Column): Column =
    aggregate(cents,
      struct(lit(-1L).as("cell"), lit(-2.0).as("best")),
      (acc, s) => {
        val c = cosine(emb, s.getField("s_emb"))
        when(c > acc.getField("best"),
          struct(s.getField("seed_id").as("cell"), c.as("best")))
          .otherwise(acc)
      }).getField("cell")

  /** SQL-oracle twin of [[seedCentroids]] + [[nearestCell]] (DuckDB): two
    * CTEs over a relation `src` of (vec_id, embedding) — `seeds` (seed_id,
    * se), its `nCells` lowest ids, and `cass` (id, e, cell), every vector
    * with its argmax-cosine seed, ties to the lower seed_id. Follows the
    * caller's earlier CTEs.
    */
  def ivfCellsSql(src: String, nCells: Int): String =
    s"""seeds AS (
       |  SELECT vec_id AS seed_id, embedding::DOUBLE[] AS se
       |  FROM $src ORDER BY vec_id LIMIT $nCells),
       |cass AS (
       |  SELECT id, e, seed_id AS cell FROM (
       |    SELECT c.id, c.e, s.seed_id,
       |      row_number() OVER (PARTITION BY c.id
       |        ORDER BY ${cosineSql("c.e", "s.se")} DESC, s.seed_id) AS rn
       |    FROM (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM $src) c, seeds s)
       |  WHERE rn = 1)""".stripMargin

  /** One Lloyd iteration: assign every corpus vector to its nearest
    * centroid, then recompute each centroid as the per-dimension mean of
    * its cell. Fully declarative — assignment is a projection, the
    * recompute is one partial-aggregated groupBy of nCells rows; the
    * centroid "model" never leaves the cluster.
    */
  def lloydIterate(corpus: DataFrame, centroids: DataFrame, dim: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = corpus
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col(idCol),
        nearestCell(col("cents"), col(embCol)).as("seed_id"),
        col(embCol).as("e"))
    val means = (0 until dim).map(i =>
      avg(element_at(col("e"), i + 1).cast(DoubleType)).as(s"m$i"))
    assigned.groupBy(col("seed_id"))
      .agg(means.head, means.tail: _*)
      .select(col("seed_id"),
        array((0 until dim).map(i => col(s"m$i")): _*).as("s_emb"))
  }

  /** End-to-end IVF approximate top-k over raw embeddings: corpus vectors
    * are assigned to their nearest coarse centroid (projection, no
    * shuffle); each query probes its `nProbe` nearest cells (multi-probe)
    * and scores only those cells' vectors. Scored pairs shrink by
    * ~nProbe/nCells at the classic IVF recall cost; nProbe = nCells
    * degrades gracefully to exact brute force.
    */
  /** Seeded centroids refined by `lloydIters` k-means iterations — the
    * model-fitting step [[ivfTopK]] and [[semanticDedup]] share.
    */
  def fitCentroids(corpus: DataFrame, nCells: Int, lloydIters: Int,
      dim: Int, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    var cents = seedCentroids(corpus, nCells, idCol, embCol)
    (0 until lloydIters).foreach { _ =>
      cents = lloydIterate(corpus, cents, dim, idCol, embCol)
    }
    cents
  }

  /** Every corpus vector with its hoisted norm and nearest-centroid cell:
    * (id, e, n, cell). The broadcast-model projection both IVF and
    * semantic dedup assign with — the corpus never shuffles for it.
    */
  private def assignCells(corpus: DataFrame, centroids: DataFrame,
      idCol: String, embCol: String): DataFrame =
    corpus
      .crossJoin(broadcast(centroidArray(centroids)))
      .select(col(idCol).as("id"), col(embCol).as("e"),
        norm(col(embCol)).as("n"),
        nearestCell(col("cents"), col(embCol)).as("cell"))

  def ivfTopKWith(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
      k: Int, nProbe: Int,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val assigned = assignCells(corpus, centroids, idCol, embCol)
      .select(col("id").as("c_id"), col("e").as("c_emb"),
        col("n").as("c_n"), col("cell"))
    // query side is small: rank all cells per query, keep nProbe
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("scos").desc, col("seed_id"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(embCol).as("q_emb"))
      .crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("seed_id"),
        cosine(col("q_emb"), col("s_emb")).as("scos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), norm(col("q_emb")).as("q_n"),
        col("seed_id").as("cell"))
    rankTopK(probes.join(assigned, "cell"), k)
  }

  /** IVF top-k with deterministic seeded centroids (the oracle-checked
    * form); `lloydIters > 0` refines the centroids first (k-means-lite).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int, nProbe: Int, lloydIters: Int = 0, dim: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame =
    ivfTopKWith(queries, corpus,
      fitCentroids(corpus, nCells, lloydIters, dim, idCol, embCol),
      k, nProbe, idCol, embCol)

  /** Random-hyperplane LSH bucket id (`bits` sign bits) — the embedding
    * analogue of MinHash banding: vectors sharing a bucket are cosine-close
    * with high probability. Hyperplanes are deterministic pseudo-random
    * unit-free vectors derived from wordHash(seed, dim-index) so the SQL
    * oracle can reproduce them.
    */
  def rpLshBucket(emb: Column, dim: Int, bits: Int): Column =
    (0 until bits).map { b =>
      // plane component p_i in {-1, +1} from a deterministic hash;
      // the projection is a dot product against the sign vector
      val proj = dot(emb, planeSigns(b, dim))
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** SQL-oracle twin of [[rpLshBucket]] over a numeric-list expression
    * `e` (DuckDB): the [[planeSign]] parity rule in SQL, one sign-vector
    * projection per bit.
    */
  def rpLshBucketSql(e: String, dim: Int, bits: Int): String = {
    val bitTerms = (0 until bits).map { b =>
      s"""CASE WHEN list_sum(list_transform(generate_series(1, $dim),
         |  i -> $e[i]::DOUBLE * (CASE WHEN ('0x' || substr(md5($b || ':' || (i-1)), 1, 1))::INT % 2 = 0
         |                       THEN 1.0 ELSE -1.0 END))) >= 0
         |  THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"CAST($bitTerms AS BIGINT)"
  }

  /** The buckets bucket `b` probes: itself, plus every bucket one sign
    * flip away at `probeRadius = 1` (multi-probe).
    */
  private def probeList(b: Column, bits: Int, probeRadius: Int): Column = {
    require(probeRadius >= 0 && probeRadius <= 1, "probeRadius 0 or 1")
    if (probeRadius == 0) array(b)
    else array(b +: (0 until bits).map(i => b.bitwiseXOR(lit(1L << i))): _*)
  }

  /** SQL-oracle twin of the one-flip [[probeList]], unnested (DuckDB). */
  def oneFlipProbesSql(b: String, bits: Int): String =
    (b +: (0 until bits).map(i => s"xor($b, ${1L << i})"))
      .mkString("unnest([", ", ", "])")

  /** RP-LSH bucket-join top-k with multi-probe: corpus vectors bucket by
    * their `bits` hyperplane signs (one projection per vector, no
    * shuffle); each query probes its own bucket plus, at
    * `probeRadius = 1`, every bucket one sign-flip away (the classic
    * multi-probe trade: bits+1 probed buckets recover neighbors that
    * straddle one hyperplane). Candidates come from the bucket equi-join
    * — expected corpus fraction scored ≈ (probed buckets) / 2^bits.
    */
  def rpLshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int = 64, bits: Int = 6, probeRadius: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val c = side(corpus, idCol, embCol, "c_id", "c_emb", "c_n",
      rpLshBucket(col(embCol), dim, bits).as("bucket"))
    val qb = side(queries, idCol, embCol, "q_id", "q_emb", "q_n",
      rpLshBucket(col(embCol), dim, bits).as("qb"))
    val probes = qb.select(col("q_id"), col("q_emb"), col("q_n"),
      explode(probeList(col("qb"), bits, probeRadius)).as("bucket"))
    rankTopK(probes.join(c, "bucket"), k)
  }

  /** Embedding-cosine near-duplicate pairs — the embedding modality of
    * the dedup family (alongside exact / MinHash-LSH / SimHash):
    * candidate pairs come from an RP-LSH bucket SELF-join (equal bucket,
    * plus one sign-flip apart at `probeRadius = 1`), then exact cosine
    * verification against `threshold`. Never an all-pairs product —
    * expected scored fraction ≈ (bits + 1) / 2^bits of the corpus pairs;
    * each qualifying pair meets in exactly one (probe, bucket) key, so
    * no post-join dedup is needed. Hot-bucket exposure (a dense embedding
    * cluster landing in one bucket) is bounded by `saltTarget` > 0:
    * size-aware salting splits each bucket's BUILD side into
    * ceil(|bucket|/saltTarget) groups and replicates probe rows per
    * group — per-join-key build rows stay ~saltTarget regardless of the
    * skew ratio ([[SkewOps.saltedSides]], shared with
    * [[DedupOps.simhashPairs]]).
    */
  def embedNearDupPairs(corpus: DataFrame, threshold: Double,
      dim: Int = 64, bits: Int = 6, probeRadius: Int = 1,
      idCol: String = "vec_id", embCol: String = "embedding",
      saltTarget: Int = 0): DataFrame = {
    val c = side(corpus, idCol, embCol, "id_b", "emb_b", "n_b",
      rpLshBucket(col(embCol), dim, bits).as("bucket"))
    val a = side(corpus, idCol, embCol, "id_a", "emb_a", "n_a",
      rpLshBucket(col(embCol), dim, bits).as("ab"))
    val probes = a.select(col("id_a"), col("emb_a"), col("n_a"),
      explode(probeList(col("ab"), bits, probeRadius)).as("bucket"))
    val joined =
      if (saltTarget > 0) {
        val (ps, cs) = SkewOps.saltedSides(probes, c, Seq("bucket"), "id_b",
          saltTarget)
        ps.join(cs, Seq("bucket", "__salt"))
      } else probes.join(c, "bucket")
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hoistedCosine("emb_a", "n_a", "emb_b", "n_b").as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): partition the embedding
    * space with k-means cells, then inside each cell mark every vector
    * that has a LOWER-id neighbor at cosine >= `threshold` as a semantic
    * duplicate (the lowest-id member of any near-dup group survives —
    * deterministic, no tie policy needed). Returns one row per corpus
    * vector: (idCol, cell, is_dup).
    *
    * Where [[embedNearDupPairs]] buckets by random hyperplanes (recall
    * driven by probing), this is the paper's clustering form: the
    * corpus-size-quadratic pair search becomes Σ|cell|², driven by
    * nCells. Scale: assignment is a pure projection over a broadcast
    * O(nCells·dim) centroid model — the corpus never shuffles for it;
    * the pair search is one cell-keyed self-join, and a hot cell (dense
    * region) caps its per-key build rows at `saltTarget` via the same
    * size-aware salting the RP-LSH join uses. `lloydIters` > 0 refines
    * the seeded centroids first ([[lloydIterate]]).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double, nCells: Int = 8,
      lloydIters: Int = 0, dim: Int = 64,
      idCol: String = "vec_id", embCol: String = "embedding",
      saltTarget: Int = 0): DataFrame = {
    val assigned = assignCells(corpus,
      fitCentroids(corpus, nCells, lloydIters, dim, idCol, embCol),
      idCol, embCol)
    // three consumers (both self-join sides + the final left join) — the
    // nCells-cosine assignment fold runs once, not three times
    CacheOnce.untilConsumed(assigned)
    // cell-keyed self-join, lower ids on the build side ("bucket"/"id_b"
    // naming so the shared salting helper applies verbatim)
    val probes = assigned.select(col("cell").as("bucket"),
      col("id").as("id_a"), col("e").as("e_a"), col("n").as("n_a"))
    val builds = assigned.select(col("cell").as("bucket"),
      col("id").as("id_b"), col("e").as("e_b"), col("n").as("n_b"))
    val joined =
      if (saltTarget > 0) {
        val (ps, cs) = SkewOps.saltedSides(probes, builds, Seq("bucket"),
          "id_b", saltTarget)
        ps.join(cs, Seq("bucket", "__salt"))
      } else probes.join(builds, "bucket")
    val dups = joined
      .filter(col("id_b") < col("id_a"))
      .filter(hoistedCosine("e_a", "n_a", "e_b", "n_b") >= threshold)
      .select(col("id_a").as("id")).distinct()
    assigned
      .join(dups.withColumn("__dup", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("cell"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** {-1,+1} signs for pseudo-random hyperplane `b` over `dim` dims. */
  private[operators] def planeSigns(b: Int, dim: Int): Column =
    array((0 until dim).map { i =>
      lit(if (planeSign(b, i)) 1.0 else -1.0)
    }: _*)

  /** Deterministic sign: parity of md5(b:i) first hex digit. Mirrors the
    * SQL oracle expression ('0x'||substr(md5(...),1,1))::INT % 2.
    */
  private[operators] def planeSign(b: Int, i: Int): Boolean = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$b:$i".getBytes("UTF-8"))
    (hex(0) & 0xf0) >> 4 match { case d => d % 2 == 0 }
  }
}
