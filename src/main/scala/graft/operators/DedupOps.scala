package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH
  * near-dup candidate generation, SimHash signatures, and n-gram Jaccard
  * verification.
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup = one hash shuffle on the content key, map-side partial
  *     min — identical to the reference's `dropDuplicates`-style plans;
  *   - MinHash signatures are a pure per-row projection (array fold over
  *     the distinct shingles) — zero shuffle, scan-dominated;
  *   - LSH banding turns all-pairs O(n²) comparison into an equi-join on
  *     (band, bucket) — the only quadratic blow-up left is within a
  *     bucket, which salting/AQE handles if a bucket is hot;
  *   - Jaccard verification joins only the LSH candidate pairs to their
  *     two distinct-shingle ARRAYS and scores with `array_intersect` —
  *     O(|A|+|B|) per pair in one codegen'd projection, no shingle
  *     explode, no per-pair groupBy.
  *
  * Each rule's DuckDB twin sits beside its operator (`…Sql`: shingles,
  * the minhash family, the simhash bits); an oracle composes those twins
  * and never re-types a rule.
  */
object DedupOps {
  import TextOps.{tokens, wordHash}

  /** Exact dedup: keep the smallest id per identical content. Deterministic
    * (unlike dropDuplicates, whose survivor depends on partition order).
    */
  def exactDedup(docs: DataFrame, contentCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(contentCol))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .select(col(idCol), col("n_copies"))

  /** Word n-gram shingles of a document. Documents shorter than `n` words
    * produce an empty shingle set — guarded explicitly because
    * `sequence(1, 0)` infers a NEGATIVE step and would yield [1, 0]
    * (then element_at(w, 0) errors), not an empty array.
    *
    * The token array is bound to a LAMBDA VARIABLE (via a one-element
    * `transform`) before the per-position lambda references it: Catalyst
    * does no common-subexpression elimination across lambda boundaries,
    * so referencing `split(...)` directly inside the inner lambda
    * re-runs the split for every element_at — n re-splits of the whole
    * document per shingle position, ~8× slower measured at sf0.1.
    */
  def shingles(textCol: Column, n: Int = 3): Column =
    element_at(transform(array(tokens(textCol)), w =>
      when(size(w) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(w) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*)))), 1)

  /** SQL-oracle twin of [[shingles]] over a token-list expression `w`
    * (DuckDB), with the same short-document guard: fewer than `n` words
    * give an empty list.
    */
  def shinglesSql(w: String, n: Int = 3): String = {
    val gram = (0 until n).map(j => if (j == 0) s"$w[i]" else s"$w[i+$j]")
      .mkString(" || ' ' || ")
    s"""CASE WHEN len($w) < $n THEN CAST([] AS VARCHAR[])
       |  ELSE list_transform(generate_series(1, len($w) - ${n - 1}), i -> $gram) END""".stripMargin
  }

  /** Universal-hash family over the Mersenne prime 2^31-1: one md5 per
    * shingle, then h_i = (a_i * h + b_i) mod p in pure integer arithmetic
    * (a_i * h stays below 2^62 — no overflow in either engine). 8× cheaper
    * than hashing each shingle k times, and the SQL oracle mirrors it
    * exactly.
    */
  val HashP = 2147483647L
  def hashA(i: Int): Long = 1000003L * (i + 1) + 7919L
  def hashB(i: Int): Long = 104729L * (i + 1) + 12345L

  /** MinHash signature: k universal hash functions of one base word hash,
    * min over the document's shingles.
    *
    * A PURE PROJECTION — the signature is a per-document fold, so no
    * explode and no shuffle at all (the round-7 form shuffled one row
    * per doc through a groupBy): base-hash each distinct shingle once
    * (`array_distinct` first — min is duplicate-insensitive — keeps the
    * md5 count at one per distinct shingle), then take `array_min` of
    * each seed's affine family over the hashed array. Documents shorter
    * than the shingle width drop from the output, as the groupBy form
    * (and the SQL oracle's GROUP BY) did.
    */
  def minhash(docs: DataFrame, k: Int = 8, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashWith(docs, k, shingleN, textCol, idCol,
      sh => wordHash(sh) % HashP)

  private def minhashWith(docs: DataFrame, k: Int, shingleN: Int,
      textCol: String, idCol: String, baseHash: Column => Column): DataFrame =
    docs
      .select(col(idCol),
        transform(array_distinct(shingles(col(textCol), shingleN)),
          sh => baseHash(sh)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col(idCol) +: (0 until k).map(i =>
        array_min(transform(col("hs"),
          h => (h * hashA(i) + hashB(i)) % HashP)).as(s"mh$i")): _*)

  /** SQL-oracle twin of the minhash aggregate for seed `i` over a base-hash
    * column `h` (DuckDB syntax).
    */
  def minhashSql(i: Int, h: String): String =
    s"MIN(($h * ${hashA(i)} + ${hashB(i)}) % $HashP)"

  /** Fast minhash (bench-only path): xxhash64 (native codegen'd Spark
    * hash) instead of the md5-derived parity hash. NOTE: candidate
    * generation IS hash-family-dependent — a genuine near-dup with
    * 0.8 <= J < 1 collides in some band only probabilistically
    * (miss prob ~(1-J^r)^bands per family), so an oracle-checked query
    * must use [[minhash]] (the md5 family the oracle mirrors); use this
    * variant only where no cross-engine compare happens.
    */
  def minhashFast(docs: DataFrame, k: Int = 8, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    minhashWith(docs, k, shingleN, textCol, idCol,
      sh => pmod(xxhash64(sh), lit(HashP)))

  /** LSH banding over a minhash signature: `bands` bands of `rowsPerBand`
    * consecutive minhashes, each hashed to a bucket id. Output: one row per
    * (doc, band) — candidates are docs sharing (band, bucket).
    */
  def lshBuckets(sig: DataFrame, bands: Int = 4, rowsPerBand: Int = 2,
      idCol: String = "doc_id"): DataFrame = {
    val bandRows = (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      sig.select(
        col(idCol), lit(b).as("band"),
        // bucket id only needs equality semantics — xxhash64 is codegen'd
        // and avoids the md5 + string-concat cost
        xxhash64(cols: _*).cast(org.apache.spark.sql.types.StringType).as("bucket"))
    }
    bandRows.reduce(_ unionAll _)
  }

  /** Candidate near-dup pairs: equi-join on (band, bucket), id_a < id_b. */
  def candidatePairs(buckets: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val a = buckets.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val b = buckets.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact n-gram Jaccard for given pairs: |A ∩ B| / |A ∪ B| over distinct
    * shingles. Join-based — only the candidate pairs are scored.
    *
    * Each candidate doc's distinct shingles stay packed in ONE array
    * column; the pair joins carry that array once per side and the score
    * is `size(array_intersect(a, b))` — a hash-set probe, O(|A|+|B|) per
    * pair inside whole-stage codegen. The previous explode-based form
    * shuffled every candidate doc's shingle STREAM twice and ran a
    * per-pair groupBy; this shuffles the same bytes minus the per-row
    * overhead and drops both the explode and the count aggregation.
    * Docs with an empty shingle set (shorter than the shingle width)
    * are filtered out, so pairs involving them DROP from the output —
    * Jaccard is undefined for an empty set. (Minhash-sourced pairs never
    * contain such docs, but pair sources that don't shingle — e.g. the
    * simhash screens — can.)
    *
    * The candidate pairs (reused by three consumers) and the
    * candidate-restricted shingle sets are cached for the consuming
    * action ([[CacheOnce]] releases them when it completes): without the
    * cache the whole upstream minhash pipeline re-executes once per
    * consumer, and the shingling runs over the full corpus instead
    * of only the candidate docs — the difference between O(candidates)
    * and O(corpus) verification cost at scale.
    */
  def jaccardVerify(docs: DataFrame, pairs0: DataFrame, shingleN: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val pairs = pairs0
    val candIds = pairs.select(col("id_a").as("jid"))
      .unionAll(pairs.select(col("id_b").as("jid"))).distinct()
    // Semi-join the corpus down to candidate docs BEFORE shingling:
    // filtering first is the difference between O(candidates) and
    // O(corpus) shingle cost.
    val candDocs = docs.join(candIds, col(idCol) === col("jid"), "left_semi")
    val shSets = candDocs.select(col(idCol).as("jid"),
        array_distinct(shingles(col(textCol), shingleN)).as("shs"))
      .filter(size(col("shs")) > 0)
    CacheOnce.untilConsumed(pairs, shSets)
    pairs
      .join(shSets.select(col("jid").as("id_a"), col("shs").as("shs_a")), "id_a")
      .join(shSets.select(col("jid").as("id_b"), col("shs").as("shs_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast(LongType).as("n_inter"),
        size(col("shs_a")).cast(LongType).as("n_a"),
        size(col("shs_b")).cast(LongType).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("n_inter")).cast(DoubleType))
          .as("jaccard"))
  }

  /** SimHash near-dup candidate pairs via banded equi-join — the scale
    * form of the hamming screen: the `bits`-bit signature splits into
    * `bands` equal chunks, and by pigeonhole any pair within hamming
    * `bands - 1` agrees EXACTLY on at least one chunk. Candidates come
    * from an equi-join on (band, chunk) — one explode + one shuffle —
    * never an all-pairs product, and the result is exact (not
    * probabilistic) for `maxHamming <= bands - 1`. The only quadratic
    * residue is within a (band, chunk) bucket, the same hot-bucket story
    * as MinHash-LSH (salting/AQE at scale).
    */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 3, bits: Int = 16,
      bands: Int = 4, idCol: String = "doc_id", sigCol: String = "simhash",
      saltTarget: Int = 0): DataFrame = {
    require(maxHamming <= bands - 1,
      s"banded screen is exact only for maxHamming <= bands-1 (${bands - 1})")
    require(bits % bands == 0, "bits must divide evenly into bands")
    // Small signature spaces route to the hamming-ball join: its work is
    // bounded by |distinct sigs| * |ball|, independent of corpus size and
    // skew — strictly dominating the banded screen when the ball fits.
    // The AUTOMATIC route stops at 16-bit signatures (≤ 65k distinct
    // sigs × ball ≈ tens of millions of join rows, cheap anywhere);
    // at 24 bits the same product can reach tens of BILLIONS, so wider
    // spaces stay on the banded path unless the caller opts in by
    // calling hammingBallPairs directly. An explicit saltTarget is an
    // explicit request for the banded+salted shape, so it opts out too.
    val ballSize = (0 to maxHamming).map(k =>
      (0 until k).map(i => BigInt(bits - i)).product /
        (1 to k.max(1)).map(BigInt(_)).product).sum
    if (saltTarget == 0 && bits <= 16 && ballSize <= 4096)
      return hammingBallPairs(sig, maxHamming, bits, idCol, sigCol)
    // Natural-text simhash chunks are heavily skewed — at sf0.1 the
    // hottest of the 64 (band, chunk) buckets holds ~37% of the corpus
    // (1844 of 5000 docs; median bucket 122), so one shuffle partition
    // does ~bucket² ≈ 3.4M of the ~19M total pair comparisons: a
    // straggler, and the source of run-to-run bench variance (which
    // partition the hot bucket lands on). `saltTarget` > 0 enables
    // size-aware salting: each bucket splits into ceil(|bucket|/target)
    // salt groups — build side keyed by hash(id) % nsalt, probe side
    // replicated per group — bounding per-join-key build rows at ~target
    // regardless of the skew ratio (what AQE's skew-join split does at
    // partition level, done here at key level so it also works where
    // AQE is off or the join is a broadcast-immune self-join).
    val banded = bandedChunks(sig, bits, bands, idCol, sigCol)
    val a = banded.select(col(idCol).as("id_a"), col(sigCol).as("sig_a"),
      col("band"), col("chunk"))
    val b = banded.select(col(idCol).as("id_b"), col(sigCol).as("sig_b"),
      col("band"), col("chunk"))
    val joined =
      if (saltTarget > 0) {
        // banded feeds the size agg AND both join sides — cache it so the
        // md5-heavy simhash upstream runs once; released on consumption
        CacheOnce.untilConsumed(banded)
        val (bSalted, aSalted) = SkewOps.saltedSides(b, a,
          Seq("band", "chunk"), "id_a", saltTarget)
        aSalted.join(bSalted, Seq("band", "chunk", "__salt"))
      } else a.join(b, Seq("band", "chunk"))
    // hamming is computed and filtered BEFORE the pair dedup: bit_count
    // is a map-side O(1) op, so qualifying pairs — a tiny fraction of
    // the bucket-join output — are all the distinct() has to shuffle.
    // (distinct-then-filter would shuffle every bucket-co-resident pair.)
    joined
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair may share several chunks
  }

  /** Exact hamming-≤-`maxHamming` pairs via a ball join over DISTINCT
    * signature values — the scale path for small signature spaces:
    *
    *   1. take the DISTINCT signature values → at most 2^bits rows,
    *      REGARDLESS of corpus size;
    *   2. explode each distinct signature by every XOR mask of popcount
    *      ≤ maxHamming (the "ball", C(bits,0..maxHamming) masks — 697
    *      for 16/3) → probe key sig XOR mask;
    *   3. equi-join probe keys against the distinct signatures — the
    *      sig-level join is bounded by |ball| · 2^bits rows at ANY data
    *      scale; per-key groups are single distinct-sig rows, so there
    *      is no hot-bucket skew by construction;
    *   4. join the qualifying (sig_a, sig_b) pairs back to the per-doc
    *      relation on each side — ordinary shuffled equi-joins, never a
    *      packed id array (a collect_list of a mega-duplicate cluster
    *      would be a single-row memory bomb). Each unordered doc pair
    *      survives the `id_a < id_b` filter in exactly ONE join
    *      direction (and the sig-level pair meets via exactly one mask
    *      = the XOR), so the result needs NO distinct().
    *
    * Work scales with |distinct sigs| · |ball| + |output pairs|, not
    * with corpus² within buckets like the banded screen — and a corpus
    * 100× larger still joins at most 2^bits · |ball| sig-level rows;
    * only the (output-sized) id expansion grows. (A cluster of n
    * identical signatures still inherently yields n² output pairs —
    * run [[exactDedup]] first, as the pipeline queries do, so exact
    * duplicates never reach the near-dup screen.) The banded screen in
    * [[simhashPairs]] remains the general path for wide signatures
    * where the ball explodes combinatorially.
    *
    * Signatures outside [0, 2^bits) would be SILENTLY unreachable by the
    * low-bit masks (the banded screen would still have paired them), so
    * they fail loudly instead.
    */
  def hammingBallPairs(sig: DataFrame, maxHamming: Int = 3, bits: Int = 16,
      idCol: String = "doc_id", sigCol: String = "simhash"): DataFrame = {
    require(bits >= 1 && bits <= 30,
      s"hamming-ball enumeration needs 1 <= bits <= 30 (got $bits); " +
        "use the banded screen (simhashPairs saltTarget > 0) for wide signatures")
    // enumerate the C(bits, 0..maxHamming) masks directly (choosing bit
    // positions), not by scanning all 2^bits values — at bits = 30 the
    // scan would walk ~1B ints on the driver to keep a few thousand
    def combos(k: Int, from: Int): Seq[Long] =
      if (k == 0) Seq(0L)
      else (from until bits).flatMap(b => combos(k - 1, b + 1).map(_ | (1L << b)))
    val masks: Seq[Long] = (0 to maxHamming).flatMap(k => combos(k, 0))
    val bound = 1L << bits
    val docs = sig.select(col(idCol),
      when(col(sigCol) < 0 || col(sigCol) >= bound,
        raise_error(concat(
          lit(s"hammingBallPairs: signature outside [0, 2^$bits): "),
          col(sigCol).cast(StringType))).cast(LongType))
        .otherwise(col(sigCol)).as(sigCol))
    CacheOnce.untilConsumed(docs)
    val ds = docs.select(col(sigCol).as("sig_a")).distinct()
    val sigPairs = ds
      .select(col("sig_a"), explode(array(masks.map(lit): _*)).as("__m"))
      .select(col("sig_a"), col("sig_a").bitwiseXOR(col("__m")).as("sig_b"))
      .join(ds.select(col("sig_a").as("sig_b")), "sig_b")
    sigPairs
      .join(docs.select(col(idCol).as("id_b"), col(sigCol).as("sig_b")), "sig_b")
      .join(docs.select(col(idCol).as("id_a"), col(sigCol).as("sig_a")), "sig_a")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType)
          .as("hamming"))
  }

  /** One row per (doc, band) with the signature's chunk value — the
    * banding key space of [[simhashPairs]].
    */
  private[graft] def bandedChunks(sig: DataFrame, bits: Int, bands: Int,
      idCol: String, sigCol: String): DataFrame = {
    val chunkBits = bits / bands
    val mask = (1L << chunkBits) - 1
    sig.select(col(idCol), col(sigCol),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col(sigCol), b * chunkBits).bitwiseAND(mask).as("chunk"))): _*))
          .as("bc"))
      .select(col(idCol), col(sigCol),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
  }

  /** SimHash signature (16-bit): per bit b, sum over words of
    * (((wordHash >> b) & 1) * 2 - 1); bit set iff the sum is >= 0.
    * Pure expression tree (16 static bit positions), no shuffle.
    */
  def simhash(docs: DataFrame, bits: Int = 16,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // hash each word once, then fold the precomputed array per bit —
    // subexpression elimination keeps the md5 count at one per word.
    val hashed = docs.select(col(idCol),
      transform(tokens(col(textCol)), x => wordHash(x)).as("hs"))
    val sig = (0 until bits).map { b =>
      val bitSum = aggregate(col("hs"), lit(0L),
        (acc, h) => acc + (shiftright(h, b) % 2L) * 2L - 1L)
      when(bitSum >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.select(col(idCol), sig.as("simhash"))
  }

  /** SQL-oracle twin of [[simhash]] over a token-list expression `w`
    * (DuckDB): the BIGINT signature.
    */
  def simhashSql(w: String, bits: Int = 16): String = {
    val bitTerms = (0 until bits).map { b =>
      s"""CASE WHEN list_sum(list_transform($w,
         |  x -> ((${TextOps.wordHashSql("x")} >> $b) % 2) * 2 - 1)) >= 0
         |  THEN ${1L << b} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"CAST($bitTerms AS BIGINT)"
  }

  /** Connected-component resolution over a near-dup pair graph — the
    * last stage of a dedup pipeline: every document in a component gets
    * the component's MINIMUM id as its `cluster_id` (the survivor), so
    * `filter($"doc_id" =!= $"cluster_id")` is the delete set.
    *
    * Algorithm: alternating Large-Star / Small-Star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC 2014).
    * Each round is a bounded number of hash shuffles (a per-node min and
    * a join back, per star step) and the edge set converges to
    * per-component stars in O(log n) rounds on ANY topology — plain
    * min-label propagation needs O(diameter) rounds, which a chained
    * near-dup corpus (doc A ~ B ~ C ~ …) turns into thousands of jobs.
    * Each round materializes once (localCheckpoint) and pays one extra
    * aggregation job for the convergence signature; the loop is driver
    * CONTROL ONLY — edges never leave the executors.
    *
    * Only nodes present in `pairs` appear in the output; isolated
    * documents are their own cluster by definition and need no shuffle —
    * union them in with `cluster_id = doc_id` if a total mapping is
    * needed.
    */
  def dupClusters(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxRounds: Int = 40): DataFrame = {
    // canonical directed edges hi → lo (dedup'd, self-loops dropped)
    val canon = pairs
      .select(greatest(col(idA), col(idB)).cast(LongType).as("hi"),
        least(col(idA), col(idB)).cast(LongType).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()

    // Large-Star: per node u, every LARGER neighbor re-points at
    // m(u) = min(N(u) ∪ {u}); keeps components intact, halves long paths.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .union(e.select(col("lo").as("u"), col("hi").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(m, "u").filter(col("v") > col("u")) // m ≤ u < v: hi→lo safe
        .select(col("v").as("hi"), col("m").as("lo")).distinct()
    }

    // Small-Star: per node u, all smaller neighbors (plus u itself)
    // re-point at the smallest of them — components collapse toward
    // their minimum.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("hi").agg(min(col("lo")).as("m"))
      e.join(m, "hi").filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(m.select(col("hi"), col("m").as("lo")))
        .distinct()
    }

    // Every round MUST cut lineage, not just cache: each star step
    // references its input several times (symmetrize union, min join),
    // so the logical plan would grow exponentially with rounds and OOM
    // the driver around round ~6. localCheckpoint materializes to
    // executor block storage (MEMORY_AND_DISK) and truncates the plan.
    // Superseded rounds release EXPLICITLY — at corpus scale each
    // checkpoint is the full edge set, and waiting for the
    // ContextCleaner would hold O(rounds) copies; live storage here is
    // never more than three edge sets. The final round's checkpoint
    // backs the returned DataFrame and is reaped when the caller drops
    // it.
    def releaseCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))

    // Fixpoint test on a round's OWN output — no compare-to-previous, so
    // no extra detection round and no exact-set except() job. Every edge
    // the star steps emit points bigger→smaller, so the edge set is the
    // final star forest (root = component min) exactly when (a) each hi
    // has a single outgoing edge and (b) no node is both a hi and a lo:
    // then each component is one star whose root, being smaller than
    // every leaf, is the component minimum, and one more round is the
    // identity. One shuffle job, linear in |edges|.
    def isStarForest(e: DataFrame): Boolean =
      e.select(col("hi").as("n"), lit(1).as("h"), lit(0).as("l"))
        .union(e.select(col("lo").as("n"), lit(0).as("h"), lit(1).as("l")))
        .groupBy("n")
        .agg(sum(col("h")).as("outDeg"), max(col("h")).as("isHi"),
          max(col("l")).as("isLo"))
        .filter(col("outDeg") > 1 || (col("isHi") === 1 && col("isLo") === 1))
        .isEmpty

    var edges = canon.localCheckpoint(true)
    var round = 0
    var converged = isStarForest(edges)
    while (!converged && round < maxRounds) {
      // both star steps in ONE plan / one materialization: edges is a
      // checkpointed leaf, and ReuseExchange shares the repeated scans
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      converged = isStarForest(next)
      releaseCheckpoint(edges)
      edges = next
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge in $maxRounds rounds")
    // fixpoint = per-component stars: every hi points at its component
    // min, and the lo side is exactly the root set
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .union(edges.select(col("lo").as("doc_id"), col("lo").as("cluster_id"))
        .distinct())
  }
}
