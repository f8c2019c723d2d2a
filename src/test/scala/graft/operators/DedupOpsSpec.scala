package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Unit edges of the dedup operators on tiny inputs (the oracle queries
  * cover the bulk path on real data).
  */
class DedupOpsSpec extends SparkSuite {
  import spark.implicits._

  test("shingles of short documents are empty, not an error") {
    val df = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val sh = df.select($"doc_id",
      DedupOps.shingles($"text", 3).as("sh"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L).isEmpty)
    assert(sh(2L) == Seq("a b c", "b c d"))
  }

  test("exact dedup keeps smallest id and counts copies") {
    val df = Seq((5L, "same"), (3L, "same"), (9L, "other")).toDF("doc_id", "text")
    val out = DedupOps.exactDedup(df).as[(Long, Long)].collect().toMap
    assert(out == Map(3L -> 2L, 9L -> 1L))
  }

  test("identical docs share full minhash signature; disjoint docs do not") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val sig = DedupOps.minhash(df, k = 4).collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.getLong(i))).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("salted join equals plain join and spreads the hot key") {
    val probe = (1 to 1000).map(i => (if (i <= 900) 7L else i.toLong, i.toLong))
      .toDF("k", "v") // 90% of rows share key 7 — the hot-key shape
    val build = Seq((7L, "hot"), (50L, "cold")).toDF("k", "tag")
    val plain = probe.join(build, "k").select("k", "v", "tag")
      .collect().toSet
    val salted = SkewOps.saltedJoin(probe, build, "k", factor = 8)
      .select("k", "v", "tag").collect().toSet
    assert(salted == plain)
    assert(salted.count(_.getLong(0) == 7L) == 900)
  }

  test("candidate pairs surface the identical docs") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6"),
      (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")).toDF("doc_id", "text")
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBuckets(DedupOps.minhash(df, k = 8)))
    val verified = DedupOps.jaccardVerify(df, pairs)
      .as[(Long, Long, Double)].collect()
    assert(verified.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("ball and banded simhash pairs both equal the all-pairs screen") {
    // synthetic signatures with controlled hamming distances
    val sigs = Seq(
      (1L, 0x0000L), (2L, 0x0001L),          // hamming 1
      (3L, 0x0007L),                          // hamming 3 from id=1
      (4L, 0x000FL),                          // hamming 4 from id=1 (excluded)
      (5L, 0xF0F0L), (6L, 0xF0F1L),           // hamming 1
      (7L, 0xFFFFL)).toDF("doc_id", "simhash")
    // default dispatch = hamming-ball join for the 16-bit space
    val ball = DedupOps.simhashPairs(sigs, maxHamming = 3)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    // saltTarget > 0 forces the banded screen (pigeonhole exactness)
    val banded = DedupOps.simhashPairs(sigs, maxHamming = 3, saltTarget = 1000)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val brute = sigs.as[(Long, Long)].collect().toSeq.combinations(2).flatMap {
      case Seq((a, sa), (b, sb)) =>
        val h = java.lang.Long.bitCount(sa ^ sb).toLong
        if (h <= 3) Some((a min b, a max b, h)) else None
    }.toSet
    assert(ball == brute)
    assert(banded == brute)
    assert(ball.contains((1L, 3L, 3L)) && !ball.exists(p => p._1 == 1L && p._2 == 4L))
    // the ball join needs no distinct(): each pair meets via exactly one
    // XOR mask and survives id_a < id_b in exactly one direction
    val ballRows = DedupOps.hammingBallPairs(sigs, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    assert(ballRows.length == ballRows.toSet.size)
  }

  test("hamming-ball pairs match brute force on randomized clustered signatures") {
    // clustered draw (many duplicate/near-duplicate sigs) to exercise the
    // distinct-sig grouping, id-list expansion, and single-direction dedup
    val rnd = new scala.util.Random(11)
    val centers = Seq.fill(12)(rnd.nextInt(0x10000).toLong)
    val sigs = (1 to 400).map { i =>
      val c = centers(rnd.nextInt(centers.size))
      val flips = rnd.nextInt(4) // 0..3 bit flips off a center
      val sig = (0 until flips).foldLeft(c)((s, _) => s ^ (1L << rnd.nextInt(16)))
      (i.toLong, sig)
    }
    val df = sigs.toDF("doc_id", "simhash")
    val ball = DedupOps.hammingBallPairs(df, maxHamming = 3)
      .as[(Long, Long, Long)].collect()
    val brute = sigs.combinations(2).flatMap { case Seq((a, sa), (b, sb)) =>
      val h = java.lang.Long.bitCount(sa ^ sb).toLong
      if (h <= 3) Some((a min b, a max b, h)) else None
    }.toSet
    assert(ball.toSet == brute)
    assert(ball.length == brute.size, "ball join emitted duplicate pairs")
  }

  test("jaccardVerify drops pairs involving docs shorter than the shingle width") {
    // simhash-style pair sources can emit short docs (they hash words,
    // not shingles); Jaccard over an empty shingle set is undefined, so
    // such pairs drop rather than surfacing 0.0 or NULL
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"),
      (3L, "too short"),                     // < 3 words: empty shingle set
      (4L, "x y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val out = DedupOps.jaccardVerify(docs, pairs)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) == 1.0)
  }

  test("hammingBallPairs rejects signature widths its mask enumeration cannot cover") {
    val sigs = Seq((1L, 0L)).toDF("doc_id", "simhash")
    val e = intercept[IllegalArgumentException] {
      DedupOps.hammingBallPairs(sigs, maxHamming = 3, bits = 32)
    }
    assert(e.getMessage.contains("bits <= 30"))
  }

  test("hammingBallPairs fails loudly on signatures outside the declared width") {
    // a 17-bit signature under bits=16 would be unreachable by every
    // low-bit mask — silently missing pairs the banded screen finds —
    // so the guard raises instead
    val sigs = Seq((1L, 0x1FFFFL), (2L, 0x0FFFFL)).toDF("doc_id", "simhash")
    val e = intercept[Exception] {
      DedupOps.hammingBallPairs(sigs, maxHamming = 3, bits = 16).collect()
    }
    assert(e.getMessage.contains("signature outside") ||
      Option(e.getCause).exists(_.getMessage.contains("signature outside")))
  }

  test("size-aware simhash salting: same pairs, no straggler partition") {
    // 300 of 1200 docs share one signature — one (band, chunk) bucket
    // holds 25% of the corpus, the natural-text skew shape at sf0.1
    val rnd = new scala.util.Random(7)
    val sigs = ((1 to 300).map(i => (i.toLong, 0x00AAL)) ++
      (301 to 1200).map(i => (i.toLong, rnd.nextInt(0x10000).toLong)))
      .toDF("doc_id", "simhash")

    val plain = DedupOps.simhashPairs(sigs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val salted = DedupOps.simhashPairs(sigs, maxHamming = 3, saltTarget = 64)
      .as[(Long, Long, Long)].collect().toSet
    assert(salted == plain)

    def partitionLoads(df: org.apache.spark.sql.DataFrame,
        keys: Seq[String]): Seq[Long] =
      df.repartition(32, keys.map(col): _*)
        .groupBy(spark_partition_id().as("pid")).count()
        .as[(Int, Long)].collect().toSeq.map(_._2)
    def maxOverMedian(loads: Seq[Long]): Double = {
      val sorted = loads.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2)).toDouble
    }

    val banded = DedupOps.bandedChunks(sigs, 16, 4, "doc_id", "simhash")
    // unsalted layout: the hot bucket's 300×4 rows land on single
    // partitions — a straggler well beyond 4× the median
    assert(maxOverMedian(partitionLoads(banded, Seq("band", "chunk"))) > 4.0)
    // salted build side: every (band, chunk, salt) key holds ≤ ~target
    // rows and the shuffle spreads within 4× of the median partition
    val (_, a) = SkewOps.saltedSides(banded, banded, Seq("band", "chunk"),
      "doc_id", 64)
    val keySizes = a.groupBy("band", "chunk", "__salt").count()
      .as[(Int, Long, Int, Long)].collect().map(_._4)
    assert(keySizes.max <= 2 * 64, s"salted key too large: ${keySizes.max}")
    assert(maxOverMedian(partitionLoads(a, Seq("band", "chunk", "__salt"))) <= 4.0)
  }

  test("dupClusters matches a union-find model on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 12) {
      val n = 5 + rnd.nextInt(40)
      val edges = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // union-find oracle
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = {
          var r = x; while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val want = touched.map(v => v -> find(v.toInt).toLong).toMap
        val got = DedupOps.dupClusters(edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"trial $trial: got $got want $want edges $edges")
      }
    }
  }

  test("dupClusters collapses a long chain (the O(diameter) killer)") {
    // 0-1-2-…-63: min-label propagation would need 63 rounds; the
    // star rounds' maxRounds=40 bound only holds if convergence is
    // logarithmic, so completing at all pins the algorithm class
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = DedupOps.dupClusters(chain).as[(Long, Long)].collect()
    assert(out.length == 64 && out.forall(_._2 == 0L), s"got ${out.toSeq}")
  }

  test("dupClusters converges in zero star rounds on a star-forest input") {
    // two min-rooted stars: the fixpoint test on the canonical edge set
    // fires before any star round, so exactly ONE checkpoint (the canon
    // set backing the result) may exist afterwards
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val stars = Seq((1L, 0L), (2L, 0L), (3L, 0L), (11L, 10L), (12L, 10L))
      .toDF("id_a", "id_b")
    val out = DedupOps.dupClusters(stars).as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L),
      (10L, 10L), (11L, 10L), (12L, 10L)))
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 1, s"ran star rounds on a converged input: ${after.size} checkpoints")
  }

  test("dupClusters on an empty pair set returns no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(DedupOps.dupClusters(empty).count() == 0L)
  }

  test("dupClusters releases superseded round checkpoints") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    DedupOps.dupClusters(chain).count()
    // ~6 star rounds = ~13 checkpoints without the explicit release;
    // only the final round's (backing the returned DataFrame) may stay
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.size <= 1, s"leaked ${after.size} round checkpoints")
  }

  test("dedup pipeline caches are released after the consuming action") {
    // other tests' localCheckpoints (released only on driver GC) are out
    // of scope — assert no NEW leak beyond the baseline
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val df = (0 until 40).map(i =>
      (i.toLong, s"tok${i % 7} tok${(i + 1) % 7} tok${(i + 2) % 7} common words here"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBuckets(DedupOps.minhash(df, k = 8)))
    val n = DedupOps.jaccardVerify(df, pairs).count() // the consuming action
    assert(n >= 0)
    // CacheOnce releases asynchronously on the listener bus — poll
    val deadline = System.nanoTime() + 15e9.toLong
    def leaked =
      spark.sparkContext.getPersistentRDDs.filterNot(kv => baseline(kv._1))
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"persisted RDDs leaked: ${leaked.values.map(_.name)}")
  }
}
