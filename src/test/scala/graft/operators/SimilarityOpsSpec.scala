package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** ANN quality properties: recall vs brute force on clusterable data
  * (the honest ANN measurement — on uniform random vectors no index can
  * beat scanning), degradation to exact when probing every cell, and
  * Lloyd refinement convergence.
  */
class SimilarityOpsSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 16
  private val Cells = 8
  private val PerCluster = 40

  /** 8 well-separated cluster centers; point i belongs to cluster i % 8
    * with small deterministic noise, so the seed centroids (the 8 lowest
    * ids) start one-per-cluster — the quantizer fits the data and IVF
    * recall is meaningfully high.
    */
  private lazy val corpus: DataFrame = {
    val centerRng = new scala.util.Random(7)
    val centers = Array.fill(Cells, Dim)(centerRng.nextGaussian())
    (0 until Cells * PerCluster).map { i =>
      val c = centers(i % Cells)
      val rng = new scala.util.Random(1000 + i)
      val v = c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      (i.toLong, v, i % Cells)
    }.toDF("vec_id", "embedding", "label")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("q_id", "c_id").as[(Long, Long)].collect().toSet

  private def recall(approx: DataFrame, exact: DataFrame): Double = {
    val e = pairs(exact)
    val a = pairs(approx)
    e.intersect(a).size.toDouble / e.size
  }

  test("IVF multi-probe reaches recall >= 0.9 on clustered data") {
    val queries = corpus.filter($"vec_id" < 24) // 3 queries per cluster
    val exact = SimilarityOps.bruteForceTopK(queries, corpus, k = 5)
    val ann = SimilarityOps.ivfTopK(queries, corpus, k = 5,
      nCells = Cells, nProbe = 2, dim = Dim)
    val r = recall(ann, exact)
    assert(r >= 0.9, s"recall $r < 0.9")
    // multi-probe is monotone: probing more cells never loses neighbors
    val ann1 = SimilarityOps.ivfTopK(queries, corpus, k = 5,
      nCells = Cells, nProbe = 1, dim = Dim)
    assert(recall(ann1, exact) <= r)
  }

  test("IVF multi-probe keeps recall >= 0.9 at 8x corpus scale") {
    // b_sim_scale8 measures WALL TIME at 8x; this pins QUALITY at 8x:
    // the same distribution grown 8x (same centers, 8x points per
    // cluster), a deterministic query sample, ground truth by brute
    // force over the full 8x corpus, same cell/probe config as the 1x
    // recall assertion above.
    val centerRng = new scala.util.Random(7)
    val centers = Array.fill(Cells, Dim)(centerRng.nextGaussian())
    val corpus8 = (0 until Cells * PerCluster * 8).map { i =>
      val c = centers(i % Cells)
      val rng = new scala.util.Random(1000 + i)
      val v = c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      (i.toLong, v, i % Cells)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus8.filter($"vec_id" % 107 === 0) // 24-query sample
    val exact = SimilarityOps.bruteForceTopK(queries, corpus8, k = 5)
    val ann = SimilarityOps.ivfTopK(queries, corpus8, k = 5,
      nCells = Cells, nProbe = 2, dim = Dim)
    val r = recall(ann, exact)
    assert(r >= 0.9, s"recall at 8x corpus $r < 0.9")
  }

  test("IVF multi-probe keeps recall >= 0.9 at 64x corpus scale") {
    // the third octave of the quality law (b_sim_scale64 measures wall
    // time): same distribution grown 64x — 20,480 vectors, 8 clusters —
    // deterministic 25-query sample, ground truth by brute force over
    // the full 64x corpus, same cell/probe config as 1x and 8x
    val centerRng = new scala.util.Random(7)
    val centers = Array.fill(Cells, Dim)(centerRng.nextGaussian())
    val corpus64 = (0 until Cells * PerCluster * 64).map { i =>
      val c = centers(i % Cells)
      val rng = new scala.util.Random(1000 + i)
      val v = c.map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      (i.toLong, v, i % Cells)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus64.filter($"vec_id" % 853 === 0) // 25-query sample
    val exact = SimilarityOps.bruteForceTopK(queries, corpus64, k = 5)
    val ann = SimilarityOps.ivfTopK(queries, corpus64, k = 5,
      nCells = Cells, nProbe = 2, dim = Dim)
    val r = recall(ann, exact)
    assert(r >= 0.9, s"recall at 64x corpus $r < 0.9")
  }

  test("probing every cell degrades IVF to exact brute force") {
    val queries = corpus.filter($"vec_id" < 16)
    val exact = SimilarityOps.bruteForceTopK(queries, corpus, k = 5)
      .select($"q_id", $"c_id", round($"cos", 9).as("cos"), $"rank")
    val full = SimilarityOps.ivfTopK(queries, corpus, k = 5,
      nCells = Cells, nProbe = Cells, dim = Dim)
      .select($"q_id", $"c_id", round($"cos", 9).as("cos"), $"rank")
    assert(full.collect().toSet == exact.collect().toSet)
  }

  test("Lloyd iterations converge centroids to the true cluster means") {
    var cents = SimilarityOps.seedCentroids(corpus, Cells)
    (0 until 3).foreach { _ =>
      cents = SimilarityOps.lloydIterate(corpus, cents, Dim)
    }
    // after refinement, every corpus point's nearest centroid cell is
    // shared by >= 95% of its true cluster (clusters are well-separated,
    // so converged centroids induce the true partition)
    val labeled = corpus.crossJoin(
        broadcast(cents.agg(sort_array(
          collect_list(struct($"seed_id", $"s_emb"))).as("cents"))))
      .select($"label",
        aggregate($"cents",
          struct(lit(-1L).as("cell"), lit(-2.0).as("best")),
          (acc, s) => {
            val c = SimilarityOps.cosine($"embedding", s.getField("s_emb"))
            when(c > acc.getField("best"),
              struct(s.getField("seed_id").as("cell"), c.as("best"))).otherwise(acc)
          }).getField("cell").as("cell"))
    // purity: the dominant cell per label covers >= 95% of the label
    val purity = labeled.groupBy($"label", $"cell").count()
      .groupBy($"label").agg((max($"count") / sum($"count")).as("purity"))
      .agg(min($"purity")).as[Double].head()
    assert(purity >= 0.95, s"cluster purity $purity < 0.95")
  }

  test("RP-LSH bucket-join top-k: multi-probe lifts recall, radius-1 >= 0.7") {
    val queries = corpus.filter($"vec_id" < 24)
    val exact = SimilarityOps.bruteForceTopK(queries, corpus, k = 5)
    val r0 = recall(SimilarityOps.rpLshTopK(queries, corpus, k = 5,
      dim = Dim, bits = 6, probeRadius = 0), exact)
    val r1 = recall(SimilarityOps.rpLshTopK(queries, corpus, k = 5,
      dim = Dim, bits = 6, probeRadius = 1), exact)
    assert(r1 >= r0, s"multi-probe lowered recall: $r0 -> $r1")
    assert(r1 >= 0.7, s"radius-1 recall $r1 < 0.7")
  }

  test("embedding near-dup pairs: exact copies always found, recall vs brute") {
    // exact copies share a bucket (hamming 0) — the screen can never
    // miss them, whatever the hyperplanes do
    val withDups = corpus.unionAll(
      corpus.filter($"vec_id" % 10 === 0)
        .withColumn("vec_id", $"vec_id" + 100000L))
    val found = SimilarityOps
      .embedNearDupPairs(withDups, threshold = 0.999, dim = Dim, bits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val injected = (0 until Cells * PerCluster by 10)
      .map(i => (i.toLong, i + 100000L)).toSet
    assert(injected.subsetOf(found), s"missed ${injected -- found}")

    // near (not exact) pairs: radius-1 probing recovers most same-cluster
    // neighbors above the threshold; every reported pair is truly above
    val exact = {
      val a = corpus.select($"vec_id".as("id_a"), $"embedding".as("ea"))
      val b = corpus.select($"vec_id".as("id_b"), $"embedding".as("eb"))
      a.crossJoin(b).filter($"id_a" < $"id_b")
        .select($"id_a", $"id_b",
          SimilarityOps.cosine($"ea", $"eb").as("cos"))
        .filter($"cos" >= 0.97)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val approx = SimilarityOps
      .embedNearDupPairs(corpus, threshold = 0.97, dim = Dim, bits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(approx.subsetOf(exact), "screen reported a below-threshold pair")
    val r = exact.intersect(approx).size.toDouble / math.max(1, exact.size)
    assert(r >= 0.7, s"near-dup recall $r < 0.7 (|exact|=${exact.size})")
  }

  test("salted near-dup pairs equal unsalted; hot bucket spreads") {
    // a dense cluster: 300 of 400 vectors are tiny perturbations of ONE
    // center, so one RP-LSH bucket holds ~75% of the corpus — the
    // hot-bucket shape a dense embedding cluster produces
    val rng = new scala.util.Random(11)
    val hot = Array.fill(Dim)(rng.nextGaussian())
    val dense = (0 until 400).map { i =>
      val r = new scala.util.Random(2000 + i)
      val v =
        if (i < 300) hot.map(x => (x + 0.01 * r.nextGaussian()).toFloat)
        else Array.fill(Dim)(r.nextGaussian().toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

    def toPairs(df: DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val plain = toPairs(SimilarityOps.embedNearDupPairs(
      dense, threshold = 0.999, dim = Dim, bits = 6))
    val salted = toPairs(SimilarityOps.embedNearDupPairs(
      dense, threshold = 0.999, dim = Dim, bits = 6, saltTarget = 32))
    assert(salted == plain)
    assert(plain.size > 1000, s"dense cluster should near-dup: ${plain.size}")

    // the salted build side bounds per-join-key rows at ~saltTarget
    // (hash spread can overshoot a small factor, never the skew ratio)
    val c = dense.select($"vec_id".as("id_b"), $"embedding".as("emb_b"),
      SimilarityOps.norm($"embedding").as("n_b"),
      SimilarityOps.rpLshBucket($"embedding", Dim, 6).as("bucket"))
    val probes = c.select($"id_b".as("id_a"), $"emb_b".as("emb_a"),
      $"n_b".as("n_a"), $"bucket")
    val (_, cs) = SkewOps.saltedSides(probes, c, Seq("bucket"), "id_b",
      target = 32)
    val keySizes = cs.groupBy("bucket", "__salt").count()
      .select("count").as[Long].collect()
    assert(keySizes.max <= 2 * 32, s"salted key too large: ${keySizes.max}")
  }

  test("trained centroids keep IVF recall on clustered data") {
    val queries = corpus.filter($"vec_id" < 16)
    val exact = SimilarityOps.bruteForceTopK(queries, corpus, k = 5)
    val ann = SimilarityOps.ivfTopK(queries, corpus, k = 5,
      nCells = Cells, nProbe = 2, lloydIters = 2, dim = Dim)
    val r = recall(ann, exact)
    assert(r >= 0.9, s"trained recall $r < 0.9")
  }

  test("semanticDedup keeps the lowest id of each copy group, one row per vector") {
    // copies of vectors 0..7 land in the copy's own cell (identical
    // vector → identical assignment) and are flagged; originals survive
    val withCopies = corpus.unionAll(
      corpus.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 5000L))
    val out = SimilarityOps.semanticDedup(withCopies,
      threshold = 0.999, nCells = Cells, dim = Dim)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == Cells * PerCluster + 8) // exactly one row per input
    val dupIds = out.filter(_._3).map(_._1).toSet
    assert((5000L until 5008L).forall(dupIds.contains),
      s"every exact copy must be flagged: $dupIds")
    // at 0.999 only exact copies qualify (intra-cluster noise ~0.15)
    assert(dupIds.forall(_ >= 5000L), s"false positives: $dupIds")
    // copy and original share a cell
    val cellOf = out.map(r => r._1 -> r._2).toMap
    (0L until 8L).foreach(i => assert(cellOf(i) == cellOf(i + 5000L)))
  }

  test("semanticDedup: salted pair search equals unsalted") {
    val withCopies = corpus.unionAll(
      corpus.filter($"vec_id" % 10 === 0).withColumn("vec_id", $"vec_id" + 5000L))
    def run(salt: Int) = SimilarityOps.semanticDedup(withCopies,
      threshold = 0.98, nCells = Cells, dim = Dim, saltTarget = salt)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // saltTarget well below the per-cell population forces multi-group
    // salting; the (probe, build) pairing must be exactly preserved
    assert(run(0) == run(7))
  }

  test("semanticDedup with Lloyd refinement still flags every exact copy") {
    val withCopies = corpus.unionAll(
      corpus.filter($"vec_id" < 8).withColumn("vec_id", $"vec_id" + 5000L))
    val out = SimilarityOps.semanticDedup(withCopies,
      threshold = 0.999, nCells = Cells, lloydIters = 2, dim = Dim)
      .as[(Long, Long, Boolean)].collect()
    val dupIds = out.filter(_._3).map(_._1).toSet
    assert(dupIds == (5000L until 5008L).toSet, s"got $dupIds")
  }
}
