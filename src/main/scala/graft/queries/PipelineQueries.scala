package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{CacheOnce, CurationOps, DedupOps, MultimodalOps, SimilarityOps, TextOps}
import Q._

/** Training-data pipeline operators (beyond the reference's own surface):
  * text analysis, dedup (exact / MinHash+LSH / SimHash / n-gram Jaccard),
  * similarity search over embeddings, and multimodal chunk plumbing —
  * each wired to a DuckDB oracle computing the identical result. An
  * oracle composes its operator's `…Sql` twin (TextOps, DedupOps,
  * SimilarityOps) and never re-types a rule.
  *
  * The synthetic corpus has no exact duplicates, so dedup queries inject
  * deterministic copies (docs with doc_id % 10 == 0, re-added at
  * doc_id + 1000000) on BOTH sides before deduplicating.
  */
object PipelineQueries {

  private val dupOffset = 1000000L

  /** `df` with its deterministic exact copies injected: rows whose
    * `idCol` % 10 == 0, re-added at id + `offset`.
    */
  private def withDups(df: DataFrame, idCol: String,
      offset: Long = dupOffset): DataFrame =
    df.unionAll(df.filter(col(idCol) % 10 === 0)
      .withColumn(idCol, col(idCol) + offset))

  /** SQL-oracle twin of [[withDups]] over `table`'s `idCol` and `cols`. */
  private def withDupsSql(table: String, idCol: String, cols: String): String =
    s"""SELECT $idCol, $cols FROM $table
       |UNION ALL
       |SELECT $idCol + $dupOffset, $cols FROM $table WHERE $idCol % 10 = 0""".stripMargin

  /** The MinHash-LSH tail: `sig` cached for the consuming action, banded
    * into candidate pairs, each verified by exact Jaccard over `docs`.
    */
  private def lshVerified(docs: DataFrame, sig: DataFrame): DataFrame = {
    CacheOnce.untilConsumed(sig)
    DedupOps.jaccardVerify(docs,
      DedupOps.candidatePairs(DedupOps.lshBuckets(sig)))
  }

  /** The near-dup pair graph q_dedup_cluster resolves, over document ids
    * `d`: decade 4-chains, century stars and doubling cross-links.
    */
  private def clusterEdges(d: DataFrame): DataFrame = {
    val chain = d.filter(col("doc_id") % 10 < 3)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
    val star = d.filter(col("doc_id") % 100 >= 95)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") - col("doc_id") % 100).as("id_b"))
    val cross = d.filter(col("doc_id") < 50 && col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") * 2).as("id_b"))
    chain.union(star).union(cross)
  }

  // [[CurationOps.piiPatterns]] regexes, shared by every PII oracle
  // (RE2-compatible, identical text both engines)
  private val eRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val iRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private val pRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  /** Oracle twin of the ordered [[CurationOps.piiScrub]] redaction. */
  private def piiRedactSql(e: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($e,
       |    '$eRe', '<EMAIL>', 'g'), '$iRe', '<IP>', 'g'), '$pRe', '<PHONE>', 'g')""".stripMargin

  /** Bench-only queries (b_ prefix) — run by Bench, never by Verify.
    * No oracle exists BY DESIGN: LSH candidate sets are
    * hash-family-dependent, so swapping the hash family cannot be
    * DuckDB-compared; the entry exists to measure, not to check.
    */
  val benchOnly: Map[String, QFn] = Map(
    // The PRODUCTION minhash family (xxhash64, codegen'd — no md5, no
    // string hex round-trip) through the identical LSH pipeline as
    // q_dedup_lsh. The per-query delta to q_dedup_lsh in bench_out.json
    // quantifies the md5 oracle tax a real deployment does not pay.
    "b_dedup_lsh_fast" -> ((s, dir) => {
      val docs = withDups(t(s, dir, "documents"), "doc_id")
      lshVerified(docs, DedupOps.minhashFast(docs, k = 8))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Scale-law probe for the banded dedup pipeline: the SAME
    // minhash→band→verify plan at 1× and at 8× corpus size (replicas
    // made non-near-dup by a per-replica token so the candidate set
    // grows linearly, not quadratically). The result row carries the
    // candidate-pair and surviving-dup counts; the bench wall-time
    // ratio between the two entries is the measured scaling exponent
    // recorded in SURVEY's scale notes — near-linear = the banded join
    // holds, quadratic = a bucket degenerated.
    "b_dedup_scale1" -> ((s, dir) => dedupScale(s, dir, 1)),
    "b_dedup_scale8" -> ((s, dir) => dedupScale(s, dir, 8)),
    // Third octave: does the 1×→8× law survive another ×8, or was 8×
    // hiding in constant factors? Same linear-candidate replica corpus
    // (per-replica token in every shingle — candidate cliques cannot
    // form across replicas), same banded plan. SUPPOSED to take ~1 min.
    "b_dedup_scale64" -> ((s, dir) => dedupScale(s, dir, 64)),

    // Scale-law probe for near-dup CLUSTERING (Large-Star/Small-Star
    // over Iterate — the one LLM-pipeline stage whose 100 TB risk is
    // ROUND COUNT × shuffle width, not candidate blowup): the SAME
    // q_dedup_cluster mixed topology (decade 4-chains, century stars,
    // doubling cross-links) replicated into DISJOINT id spaces, so
    // component sizes and graph diameter stay FIXED as the edge count
    // grows — components must never merge across replicas, or the probe
    // would measure a deeper graph, not a bigger one. Expected law:
    // wall near-linear in edges with an IDENTICAL round count per
    // factor (fixed diameter ⇒ fixed star rounds).
    "b_cluster_scale1" -> ((s, dir) => clusterScale(s, dir, 1)),
    "b_cluster_scale8" -> ((s, dir) => clusterScale(s, dir, 8)),

    // ANN scale-law probe: the SAME IVF assign→probe→score→rank plan
    // over a 1× and an 8× corpus (replicated vectors land in the same
    // cells, so probed-cell sizes — the per-query work — grow exactly
    // linearly; the centroid model stays O(nCells·dim) broadcast).
    // Near-linear wall ratio = the multi-probe scan holds at scale.
    "b_sim_scale1" -> ((s, dir) => simScale(s, dir, 1)),
    "b_sim_scale8" -> ((s, dir) => simScale(s, dir, 8)),
    // Third octave for the ANN law (recall at 64× is pinned separately
    // in SimilarityOpsSpec — this measures wall time only).
    "b_sim_scale64" -> ((s, dir) => simScale(s, dir, 64)))

  /** The q_dedup_cluster star-contraction run over a replicated edge
    * set: every replica gets an id offset far above any derived id, so
    * replica subgraphs are DISJOINT — fixed component sizes and fixed
    * graph DIAMETER (hence a fixed star-round count), linearly growing
    * component count. Both factors share a ×200 base densifier (the
    * sf0.1 documents table yields only ~1.7k edges — too few to measure
    * shuffle growth against the per-round fixed cost), so scale1 ≈
    * 350k edges and scale8 ≈ 2.8M. Reduced to node/cluster counts +
    * an id checksum.
    */
  private def clusterScale(s: org.apache.spark.sql.SparkSession,
      dir: String, factor: Int): org.apache.spark.sql.DataFrame = {
    val base = clusterEdges(t(s, dir, "documents").select(col("doc_id")))
    val edges = base.crossJoin(
        s.range(factor * 200L).toDF("rep").hint("broadcast"))
      .select((col("id_a") + col("rep") * 100000000L).as("id_a"),
        (col("id_b") + col("rep") * 100000000L).as("id_b"))
    DedupOps.dupClusters(edges)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("doc_id")).cast("long").as("id_sum"))
  }

  /** The q_sim_ann pipeline over a `factor`-times replicated corpus,
    * reduced to its result cardinality + rank checksum.
    */
  private def simScale(s: org.apache.spark.sql.SparkSession, dir: String,
      factor: Int): org.apache.spark.sql.DataFrame = {
    val emb = t(s, dir, "embeddings")
    val corpus =
      if (factor == 1) emb
      else emb.crossJoin(
          s.range(factor.toLong).toDF("rep").hint("broadcast"))
        .withColumn("vec_id", col("vec_id") * factor + col("rep"))
        .drop("rep")
    SimilarityOps.ivfTopK(emb.filter(col("vec_id") < 10), corpus,
        k = 5, nCells = 8, nProbe = 3)
      .agg(count(lit(1)).as("n"),
        sum(col("rank")).cast("long").as("rank_sum"))
  }

  /** The q_dedup_lsh pipeline over a `factor`-times replicated corpus
    * (distinct replica suffix per copy + the standard injected 10%
    * near-dups), reduced to its candidate/dup counts.
    */
  private def dedupScale(s: org.apache.spark.sql.SparkSession, dir: String,
      factor: Int): org.apache.spark.sql.DataFrame = {
    val docs0 = t(s, dir, "documents")
    // Replica disambiguation must actually break shingle similarity: a
    // single appended token changes ~1 of w trigrams (J ≈ (w−2)/w ≥
    // 0.8 → replicas of one base doc would form C(factor,2) candidate
    // CLIQUES and the probe would measure a quadratic-ground-truth
    // corpus). Suffixing the replica tag onto EVERY word IN PLACE puts
    // the tag in every shingle WITHOUT changing the token count (an
    // inter-word insertion would double per-doc work at factor>1 and
    // bias the measured exponent) — replica shingle sets are disjoint,
    // so candidates grow linearly (only the injected dupOffset
    // near-dups match, replica-locally).
    val docs =
      if (factor == 1) docs0
      else docs0.crossJoin(
          s.range(factor.toLong).toDF("rep").hint("broadcast"))
        .withColumn("doc_id", col("doc_id") * factor + col("rep"))
        .withColumn("text", regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1zq"), col("rep").cast("string"))))
        .drop("rep")
    val dups = withDups(docs, "doc_id", dupOffset * factor)
    lshVerified(dups, DedupOps.minhashFast(dups, k = 8))
      .agg(count(lit(1)).as("candidate_pairs"),
        sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("near_dups"))
  }

  val queries: Map[String, QFn] = Map(
    // Token/length stats per document (TextOps.tokenStats).
    "q_text_stats" -> ((s, dir) => {
      TextOps.tokenStats(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    // Quality scoring (TextOps.qualityScore).
    "q_text_quality" -> ((s, dir) => {
      TextOps.qualityScore(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    // Stopword-set language ID (TextOps.languageId).
    "q_text_langid" -> ((s, dir) => {
      TextOps.languageId(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    // Rolling-hash fingerprint (TextOps.fingerprint).
    "q_text_fingerprint" -> ((s, dir) => {
      TextOps.fingerprint(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    // BPE-ish token accounting (TextOps.bpeTokenStats).
    "q_text_bpe" -> ((s, dir) => {
      TextOps.bpeTokenStats(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),

    // Hashed-linear classifier inference (TextOps.classifierScore) —
    // the fastText-style quality-filter pass as a pure projection.
    "q_text_classify" -> ((s, dir) => {
      TextOps.classifierScore(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style intra-document repetition screen
    // (CurationOps.repetitionStats): duplicate word/2-gram/3-gram
    // fractions as a pure projection.
    "q_cur_repetition" -> ((s, dir) => {
      CurationOps.repetitionStats(t(s, dir, "documents"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark-contamination screen (CurationOps.contaminationScreen):
    // docs with doc_id % 97 == 0 stand in for the eval benchmark; every
    // other doc sharing a 3-gram with them is flagged with its overlap
    // count. Broadcast semi-probe — the corpus side never shuffles.
    "q_cur_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CurationOps.contaminationScreen(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), n = 3)
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered cross-corpus membership screen (CurationOps
    // .bloomScreen): keep documents NOT in the seen-set (doc_id % 7 ==
    // 0 stands in for an already-trained corpus). The Bloom image is
    // deliberately undersized so false positives occur and the exact
    // residual anti-join must remove them — the result is exact set
    // difference either way, which is what the oracle states.
    "q_cur_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CurationOps.bloomScreen(docs.select(col("doc_id"), col("n_chars")),
        docs.filter(col("doc_id") % 7 === 0), "doc_id", "doc_id",
        expectedItems = 64, fpp = 0.2, anti = true)
        .orderBy(col("doc_id"))
    }),

    // Tokenizer-aware sliding-window chunking (CurationOps
    // .chunkDocuments): 32-token windows, 8 tokens of carried overlap
    // (stride 24) — long docs split for a fixed training context window.
    "q_cur_chunk" -> ((s, dir) => {
      CurationOps.chunkDocuments(t(s, dir, "documents"),
        chunkTokens = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // HTML boilerplate strip (CurationOps.stripHtml — the crawl text
    // extractor): each document wraps in synthetic markup (style +
    // script subtrees with decoy text, a comment, entities), and the
    // extracted text must reduce to exactly the title plus the
    // whitespace-collapsed original — the oracle constructs that
    // expectation directly, so any leak of script/style content or a
    // swallowed entity breaks the hash.
    "q_cur_html" -> ((s, dir) => {
      // the text embeds ESCAPED (as a real generator would emit it), so
      // the gate holds even if future testdata carries markup characters
      val esc = regexp_replace(regexp_replace(regexp_replace(col("text"),
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<html><head><style>p{margin:0}</style></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><script>var hidden=\"BOILER\";</script><!-- c -->"),
        lit("<p>&quot;"), esc, lit("&quot;</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.CurationOps.stripHtml(html).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // URL-level dedup (CurationOps.canonicalUrl — the C4/CommonCrawl
    // canonical-URL pass): three messy variants per part (mixed-case
    // host + default port + trailing slash + tracking params + shuffled
    // param order + fragment) must all collapse to ONE canonical URL;
    // the oracle constructs the canonical form directly, so any
    // normalization miss leaves duplicate rows and breaks the count.
    "q_cur_urldedup" -> ((s, dir) => {
      val slug = lower(regexp_replace(col("p_type"), " ", "-"))
      val base = t(s, dir, "part").select(col("p_partkey"), slug.as("slug"))
      def v(u: org.apache.spark.sql.Column) =
        base.select(col("p_partkey"), u.as("url"))
      val variants =
        v(concat(lit("HTTPS://Shop.Example.COM:443/cat/"), col("slug"),
          lit("/?utm_source=x&id="), col("p_partkey")))
        .unionByName(v(concat(lit("https://shop.example.com/cat/"),
          col("slug"), lit("?id="), col("p_partkey"),
          lit("&utm_campaign=y#frag"))))
        .unionByName(v(concat(lit("https://shop.example.com/cat/"),
          col("slug"), lit("?id="), col("p_partkey"))))
      variants
        .select(col("p_partkey"),
          graft.operators.CurationOps.canonicalUrl(col("url")).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("p_partkey")).as("p_partkey"), count(lit(1)).as("n_variants"))
        .select(col("p_partkey"), col("canon_url"), col("n_variants"))
        .orderBy(col("p_partkey"))
    }),

    // Deterministic stratified sampling (CurationOps.sampleKPerGroup):
    // 7 docs per language by multiplicative-hash rank — the oracle
    // recomputes the same integer arithmetic, so any
    // engine-/partitioning-dependence in the selection breaks the hash.
    "q_cur_sample" -> ((s, dir) => {
      CurationOps.sampleKPerGroup(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", k = 7)
        .orderBy(col("doc_id"))
    }),

    // Deterministic hash split (CurationOps.hashSplit): 90/5/5
    // train/val/test off a multiplicative hash of doc_id — stable under
    // corpus growth, engine-reproducible integer arithmetic.
    "q_cur_split" -> ((s, dir) => {
      CurationOps.hashSplit(t(s, dir, "documents"),
        Seq(("train", 90), ("val", 95), ("test", 100)))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Weighted domain mixing (CurationOps.mixCorpus): per-language
    // up/down-sampling with fractional weights resolved by hash bucket
    // (en halved, fr doubled, de ×1.25, es dropped, zh tripled).
    "q_cur_mix" -> ((s, dir) => {
      val weights = t(s, dir, "documents").sparkSession
        .createDataFrame(Seq(("en", 0.5), ("fr", 2.0), ("de", 1.25),
          ("es", 0.0), ("zh", 3.0)))
        .toDF("lang", "weight")
      CurationOps.mixCorpus(t(s, dir, "documents"), weights, Seq("lang"))
        .select(col("doc_id"), col("lang"), col("copy_no"))
        .orderBy(col("doc_id"), col("copy_no"))
    }),

    // PII detection + redaction (CurationOps.piiScrub): docs with
    // doc_id % 7 == 0 get a deterministic email/IP/phone suffix appended
    // (the synthetic corpus carries none); the scrub must count each kind
    // and redact all three, leaving the other docs untouched.
    "q_cur_pii" -> ((s, dir) => {
      val id = col("doc_id").cast(StringType)
      val decorated = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" mail u"), id, lit("@ex"), (col("doc_id") % 5).cast(StringType),
          lit(".com ip 10."), (col("doc_id") % 200).cast(StringType),
          lit(".3."), (col("doc_id") % 250).cast(StringType),
          lit(" tel 415-555-"),
          lpad((col("doc_id") % 10000).cast(StringType), 4, "0")))
          .otherwise(col("text")))
      CurationOps.piiScrub(decorated)
        .orderBy(col("doc_id"))
    }),

    // Cross-corpus segment dedup (CurationOps.dedupSegments): docs with
    // doc_id % 3 == 0 get a shared 10-token boilerplate header; segmenting
    // into 10-token windows, the header window repeats across >= 2 docs and
    // is dropped corpus-wide while every other window survives.
    "q_cur_segdedup" -> ((s, dir) => {
      // exactly 10 tokens = exactly the first window, so dropping it
      // removes the full header and nothing else
      val boiler = "please accept all cookies to continue reading this site now"
      val decorated = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0, concat(lit(boiler + " "), col("text")))
          .otherwise(col("text")))
      CurationOps.dedupSegments(decorated,
        CurationOps.tokenWindows(col("text"), 10), minDocs = 2)
        .orderBy(col("doc_id"))
    }),

    // Unigram LM quality score (CurationOps.unigramScore): model built on
    // the 90% train docs, scoring the held-out 10% (each decorated with
    // one guaranteed-OOV token); topK=20 exercises both the broadcast hot
    // path and the shuffled tail join.
    "q_cur_lmscore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = CurationOps.unigramModel(docs.filter(col("doc_id") % 10 =!= 0))
      val held = docs.filter(col("doc_id") % 10 === 0).withColumn("text",
        concat(col("text"), lit(" zz"), col("doc_id").cast(StringType)))
      CurationOps.unigramScore(held, model, topK = 20)
        .orderBy(col("doc_id"))
    }),

    // The full curation pipeline COMPOSED end-to-end in one query —
    // inject duplicates, decorate a slice with PII, then
    // scrub → token-length gate → exact dedup → deterministic split →
    // keep train. Gates that the operators compose (each consumes the
    // previous one's output schema) and that the whole chain stays
    // engine-reproducible, not just each stage alone.
    "q_pipeline_e2e" -> ((s, dir) => {
      val decorated = withDups(t(s, dir, "documents"), "doc_id").withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"),
          lit(" mail x"), col("doc_id").cast(StringType), lit("@ex.com")))
          .otherwise(col("text")))
      val scrubbed = CurationOps.piiScrub(decorated)
        .select(col("doc_id"), col("redacted").as("text"))
      val sized = scrubbed
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast(LongType))
        .filter(col("n_tokens") >= 20)
      val survivors = DedupOps.exactDedup(sized)
      CurationOps.hashSplit(survivors,
        Seq(("train", 90), ("val", 95), ("test", 100)))
        .filter(col("split") === "train")
        .select(col("doc_id"), col("n_copies"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Greedy sequence packing (TextOps.packSequences): 256-token bins,
    // pack groups of 50 docs (the parallel unit); the oracle replays the
    // same sequential policy with a recursive CTE per group.
    "q_text_pack" -> ((s, dir) => {
      TextOps.packSequences(t(s, dir, "documents"), budget = 256L,
        groupExpr = expr("doc_id DIV 50"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup over a corpus with injected duplicates (DedupOps.exactDedup).
    "q_dedup_exact" -> ((s, dir) => {
      DedupOps.exactDedup(withDups(t(s, dir, "documents"), "doc_id"))
        .orderBy(col("doc_id"))
    }),

    // MinHash signatures (DedupOps.minhash, k=4 shown; full k=8 in LSH).
    "q_dedup_minhash" -> ((s, dir) => {
      DedupOps.minhash(t(s, dir, "documents"), k = 4)
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-dup pipeline end-to-end: signatures → bands →
    // candidate pairs → exact Jaccard verification (threshold 0.8).
    // Uses the md5-derived hash family the oracle mirrors exactly —
    // candidate sets are hash-family-dependent, so the bench-only
    // minhashFast variant is NOT oracle-safe here. sig is cached for the
    // consuming action (it feeds 4 band branches and a self-join — 8
    // consumers) and released by CacheOnce when that action completes.
    "q_dedup_lsh" -> ((s, dir) => {
      val docs = withDups(t(s, dir, "documents"), "doc_id")
      lshVerified(docs, DedupOps.minhash(docs, k = 8))
        .filter(col("jaccard") >= 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash 16-bit signatures (DedupOps.simhash).
    "q_dedup_simhash" -> ((s, dir) => {
      DedupOps.simhash(t(s, dir, "documents").filter(col("doc_id") < 100))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup candidates over the FULL corpus: pairs within
    // hamming distance 3 of the 16-bit signature via the banded
    // equi-join (4 chunks of 4 bits; pigeonhole makes the screen exact
    // for hamming <= 3) — no all-pairs product anywhere.
    "q_dedup_simhash_pairs" -> ((s, dir) => {
      import s.implicits._
      val sig = DedupOps.simhash(t(s, dir, "documents"))
      // routes to the hamming-ball join (16-bit space): sig-level work
      // bounded by |distinct sigs| * 697 masks at any corpus size, and
      // skew-free by construction — the banded+salted screen remains the
      // wide-signature path (DedupOps.simhashPairs saltTarget > 0)
      DedupOps.simhashPairs(sig, maxHamming = 3)
        .orderBy($"id_a", $"id_b")
    }),

    // Brute-force cosine top-5 for the first 10 query vectors
    // (SimilarityOps.bruteForceTopK).
    "q_sim_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy(col("q_id"), col("rank"))
    }),

    // IVF-style bucket-pruned top-5 (SimilarityOps.bucketedTopK).
    "q_sim_bucketed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.bucketedTopK(emb.filter(col("vec_id") < 10), emb, k = 5)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy(col("q_id"), col("rank"))
    }),

    // End-to-end IVF ANN over raw embeddings (SimilarityOps.ivfTopK):
    // deterministic seeded coarse centroids, projection-only corpus
    // assignment (no shuffle), query-side multi-probe (3 of 8 cells).
    // The oracle reproduces the identical quantizer, so this checks the
    // full assign→probe→score→rank pipeline cross-engine.
    "q_sim_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.ivfTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, nCells = 8, nProbe = 3)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy(col("q_id"), col("rank"))
    }),

    // Random-hyperplane LSH bucketing over embeddings
    // (SimilarityOps.rpLshBucket): 6 sign bits from deterministic
    // md5-derived hyperplanes — the bucket-join scale path for cosine
    // similarity (vectors sharing a bucket are close with high
    // probability). Output: bucket histogram.
    "q_sim_rplsh" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "embeddings")
        .select($"vec_id",
          graft.operators.SimilarityOps.rpLshBucket($"embedding", dim = 64, bits = 6)
            .as("bucket"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_vecs"), min($"vec_id").as("min_vec"))
        .orderBy($"bucket")
    }),

    // RP-LSH bucket-join top-5 with one-flip multi-probe
    // (SimilarityOps.rpLshTopK): queries probe their own bucket plus the
    // 6 one-bit-flip neighbors; candidates from the bucket equi-join.
    "q_sim_rplsh_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.rpLshTopK(emb.filter(col("vec_id") < 10), emb,
          k = 5, dim = 64, bits = 6, probeRadius = 1)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy(col("q_id"), col("rank"))
    }),

    // Embedding-cosine near-dup pairs (SimilarityOps.embedNearDupPairs):
    // RP-LSH bucket self-join (one-flip multi-probe) + exact cosine
    // verify. The synthetic corpus has no natural near-dups (max pair
    // cosine ~0.51), so exact copies are injected as in the text dedup
    // queries; threshold 0.4 also surfaces the strongest natural pairs.
    "q_dedup_embed" -> ((s, dir) => {
      SimilarityOps.embedNearDupPairs(
          withDups(t(s, dir, "embeddings"), "vec_id"), threshold = 0.4)
        .withColumn("cos", round(col("cos"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup semantic dedup (SimilarityOps.semanticDedup): k-means-cell
    // partition of the embedding space, then lower-id-neighbor cosine
    // screen inside each cell. Injected exact copies (cos ~1.0) are the
    // semantic dups; the natural background tops out at cos ~0.5, so
    // threshold 0.95 splits them with a wide margin on both engines.
    "q_dedup_semantic" -> ((s, dir) => {
      SimilarityOps.semanticDedup(withDups(t(s, dir, "embeddings"), "vec_id"),
          threshold = 0.95, nCells = 8)
        .orderBy(col("vec_id"))
    }),

    // Near-dup cluster resolution (DedupOps.dupClusters): connected
    // components over a pair graph via alternating Large-Star/Small-Star
    // (log-round convergence — safe for chained near-dups at corpus
    // scale). The edge list is a deterministic mixed topology off the
    // documents table — decade 4-chains, century stars, and doubling
    // cross-links — so multi-hop closure is actually exercised; the
    // oracle is a DuckDB recursive transitive-closure CTE.
    "q_dedup_cluster" -> ((s, dir) => {
      DedupOps.dupClusters(
          clusterEdges(t(s, dir, "documents").select(col("doc_id"))))
        .orderBy(col("doc_id"))
    }),

    // Multimodal chunk sampling plumbing (MultimodalOps.sampleChunks).
    "q_mm_chunks" -> ((s, dir) => {
      MultimodalOps.sampleChunks(t(s, dir, "documents"))
        .orderBy(col("media_id"), col("chunk_id"))
    }),

    // Multimodal decode/featurize (typed mapPartitions; deterministic
    // fake codec) — checksum and byte stats are oracle-checkable.
    "q_mm_features" -> ((s, dir) => {
      val feats = MultimodalOps.decodeFeatures(
        MultimodalOps.asMedia(t(s, dir, "documents")))
      feats.toDF()
        .select(col("media_id"), col("n_bytes"), col("head_byte"),
          col("checksum"),
          element_at(col("feature"), 2).as("mean_byte"))
        .orderBy(col("media_id"))
    }),

    // Multimodal resize/resample (MultimodalOps.resample): fixed-dim
    // nearest-neighbor downsample of the payload bytes. The 16-sample
    // array is exploded to one (media_id, sample_idx, sample_val) row per
    // position so the result carries only scalar columns.
    "q_mm_resize" -> ((s, dir) => {
      MultimodalOps.resample(MultimodalOps.asMedia(t(s, dir, "documents")))
        .toDF()
        .select(col("media_id"),
          posexplode(col("sample")).as(Seq("sample_idx", "sample_val")))
        .withColumn("sample_idx", col("sample_idx").cast(LongType))
        .orderBy(col("media_id"), col("sample_idx"))
    })
  )

  private val mh = (i: Int, h: String) => DedupOps.minhashSql(i, h)

  private val baseHashSql =
    s"(${TextOps.wordHashSql("sh")}) % ${DedupOps.HashP}"

  private val docsW =
    "SELECT doc_id, string_split(text, ' ') AS w FROM documents"

  private val docsWithDupsSql = withDupsSql("documents", "doc_id", "text")

  /** A SQL `IN` list of string literals. */
  private def inSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ",", ")")

  val oracles: Map[String, String] = Map(
    "q_text_stats" ->
      s"""SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_unique_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_token_chars
        |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      s"""SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(w, x -> x IN ${inSql(TextOps.stopwordsEn)})) AS DOUBLE)
        |       / CAST(len(w) AS DOUBLE) AS stopword_ratio,
        |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |       / CAST(len(w) AS DOUBLE) AS mean_token_len,
        |  (CAST(CASE WHEN len(w) < 20 THEN 0.2 ELSE 1.0 END AS DOUBLE)
        |   * CAST(CASE WHEN len(list_filter(w, x -> x IN ${inSql(TextOps.stopwordsEn)})) = 0
        |          THEN 0.5 ELSE 1.0 END AS DOUBLE)) AS quality
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_langid" -> {
      val langs = TextOps.langMarkers.map(_._1)
      val scores = langs.map(l => s"score_$l").mkString(", ")
      // argmax, ties to the earlier language as TextOps.languageId folds
      val argmax = langs.init.indices.map { i =>
        langs.drop(i + 1).map(o => s"score_${langs(i)} >= score_$o")
          .mkString("WHEN ", " AND ", s" THEN '${langs(i)}' ")
      }.mkString
      val scoreCols = TextOps.langMarkers.map { case (l, markers) =>
        s"CAST(len(list_filter(w, x -> x IN ${inSql(markers)})) AS BIGINT) AS score_$l"
      }
      s"""SELECT doc_id, $scores,
        |  CASE $argmax
        |    ELSE '${langs.last}' END AS lang_pred,
        |  GREATEST($scores) AS lang_score
        |FROM (
        |  SELECT doc_id, ${scoreCols.mkString(", ")}
        |  FROM ($docsW))
        |ORDER BY doc_id""".stripMargin
    },

    "q_text_fingerprint" ->
      s"""SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(w, x -> ${TextOps.wordHashSql("x")})),
        |    (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
        |FROM ($docsW) ORDER BY doc_id""".stripMargin,

    "q_text_pack" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, doc_id // 50 AS grp,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |ordered AS (
        |  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
        |  FROM base),
        |pack AS (
        |  SELECT grp, rn, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS bin, n_tokens AS used
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.grp, o.rn, o.doc_id, o.n_tokens,
        |    CASE WHEN p.used + o.n_tokens > 256 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.used + o.n_tokens > 256 THEN o.n_tokens
        |         ELSE p.used + o.n_tokens END
        |  FROM pack p JOIN ordered o ON o.grp = p.grp AND o.rn = p.rn + 1)
        |SELECT doc_id, CAST(grp AS BIGINT) AS grp, bin, n_tokens
        |FROM pack ORDER BY doc_id""".stripMargin,

    "q_text_bpe" ->
      s"""SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_bpe_tokens,
        |  CAST(coalesce(list_sum(list_transform(toks,
        |    x -> CAST(ceil(length(trim(x)) / 4.0) AS BIGINT))), 0) AS BIGINT)
        |    AS n_subword_est
        |FROM (SELECT doc_id,
        |  regexp_extract_all(text, '${TextOps.bpePattern.replace("'", "''")}') AS toks
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_text_classify" ->
      s"""SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_tokens,
        |  list_reduce(
        |    list_prepend(0::BIGINT, list_transform(w,
        |      x -> (${TextOps.wordHashSql("x")} % 1024) * 2654435761 % 1001 - 500)),
        |    (a, b) -> a + b) AS raw_milli,
        |  round(1.0 / (1.0 + exp(-(CAST(list_reduce(
        |    list_prepend(0::BIGINT, list_transform(w,
        |      x -> (${TextOps.wordHashSql("x")} % 1024) * 2654435761 % 1001 - 500)),
        |    (a, b) -> a + b) AS DOUBLE) / 1000.0 / len(w)))), 6) AS quality_prob
        |FROM ($docsW) ORDER BY doc_id""".stripMargin,

    "q_cur_repetition" ->
      s"""WITH base AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id, w,
        |  ${DedupOps.shinglesSql("w", 2)} AS g2,
        |  ${DedupOps.shinglesSql("w", 3)} AS g3
        |  FROM base)
        |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |  CASE WHEN len(w)=0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE) END AS dup_word_frac,
        |  CASE WHEN len(g2)=0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)/CAST(len(g2) AS DOUBLE) END AS dup_2gram_frac,
        |  CASE WHEN len(g3)=0 THEN 0.0 ELSE 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)/CAST(len(g3) AS DOUBLE) END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_cur_bloom" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 7 <> 0 ORDER BY doc_id""".stripMargin,

    "q_cur_contamination" ->
      s"""WITH bench AS (
        |  SELECT DISTINCT gram FROM (
        |    SELECT unnest(${DedupOps.shinglesSql("w")}) AS gram
        |    FROM (SELECT string_split(text,' ') AS w FROM documents WHERE doc_id % 97 = 0))),
        |docg AS (
        |  SELECT doc_id, unnest(grams) AS gram, len(grams) AS n_grams FROM (
        |    SELECT doc_id, list_distinct(${DedupOps.shinglesSql("w")}) AS grams
        |    FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id % 97 <> 0)))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated,
        |  CAST(count(*) AS DOUBLE)/CAST(n_grams AS DOUBLE) AS contaminated_frac
        |FROM docg JOIN bench USING (gram)
        |GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin,

    "q_cur_chunk" ->
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |st AS (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 8, 1) + 1, 24)) AS s FROM base),
        |ch AS (SELECT doc_id, s, w[s : s + 31] AS toks FROM st)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY s) - 1 AS BIGINT) AS chunk_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  array_to_string(toks, ' ') AS chunk
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "q_cur_html" ->
      """SELECT doc_id,
        |  'Doc ' || doc_id || ' "' ||
        |    trim(regexp_replace(text, '\s+', ' ', 'g')) || '"' AS clean
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_cur_urldedup" ->
      """SELECT p_partkey,
        |  'https://shop.example.com/cat/' || lower(replace(p_type, ' ', '-'))
        |    || '?id=' || p_partkey AS canon_url,
        |  CAST(3 AS BIGINT) AS n_variants
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_cur_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 7 ORDER BY doc_id""".stripMargin,

    "q_cur_split" ->
      """SELECT doc_id,
        |  CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90 THEN 'train'
        |       WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_cur_mix" ->
      """WITH wts AS (SELECT * FROM (VALUES ('en', 500), ('fr', 2000), ('de', 1250),
        |    ('es', 0), ('zh', 3000)) AS t(lang, milli)),
        |c AS (SELECT doc_id, d.lang,
        |    milli // 1000 + CASE WHEN ((doc_id * 2654435761) % 4294967296) % 1000 < milli % 1000
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN wts USING (lang))
        |SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS INT) AS copy_no
        |FROM c WHERE copies >= 1 ORDER BY doc_id, copy_no""".stripMargin,

    "q_cur_pii" -> {
      s"""WITH base AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN text
        |      || ' mail u' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 5 AS VARCHAR)
        |      || '.com ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' || CAST(doc_id % 250 AS VARCHAR)
        |      || ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |    ELSE text END AS text FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$eRe')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '$iRe')) AS BIGINT) AS n_ipv4,
        |  CAST(len(regexp_extract_all(text, '$pRe')) AS BIGINT) AS n_phone,
        |  ${piiRedactSql("text")}
        |    AS redacted
        |FROM base ORDER BY doc_id""".stripMargin
    },

    "q_cur_segdedup" ->
      """WITH base AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN 'please accept all cookies to continue reading this site now ' || text
        |    ELSE text END AS text FROM documents),
        |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM base),
        |segs AS (SELECT doc_id, s, array_to_string(w[s : s + 9], ' ') AS seg
        |  FROM ws, UNNEST(range(1, greatest(len(w), 1) + 1, 10)) AS u(s)),
        |df AS (SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 2),
        |fl AS (SELECT s.doc_id, s.s, s.seg, d.seg IS NOT NULL AS dup
        |  FROM segs s LEFT JOIN df d USING (seg))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  coalesce(string_agg(CASE WHEN NOT dup THEN seg END, ' ' ORDER BY s), '')
        |    AS clean_text
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_cur_lmscore" ->
      """WITH model AS (SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents WHERE doc_id % 10 <> 0) GROUP BY word),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS vocab FROM model),
        |held AS (SELECT doc_id, text || ' zz' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM held),
        |j AS (SELECT doc_id, coalesce(cnt, 0) AS cnt
        |  FROM toks LEFT JOIN model USING (word))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(cnt + 1) AS DOUBLE) / CAST(count(*) * (total + vocab) AS DOUBLE)
        |    AS lm_score
        |FROM j CROSS JOIN tot GROUP BY doc_id, total, vocab
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM ($docsWithDupsSql) GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_pipeline_e2e" ->
      s"""WITH wd AS ($docsWithDupsSql),
        |dec AS (SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0
        |    THEN text || ' mail x' || CAST(doc_id AS VARCHAR) || '@ex.com'
        |    ELSE text END AS text FROM wd),
        |scr AS (SELECT doc_id, ${piiRedactSql("text")} AS text FROM dec),
        |siz AS (SELECT doc_id, text FROM scr
        |  WHERE len(string_split(text, ' ')) >= 20),
        |ded AS (SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |  FROM siz GROUP BY text),
        |spl AS (SELECT doc_id, n_copies,
        |  CASE WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 90 THEN 'train'
        |       WHEN ((doc_id * 2654435761) % 4294967296) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split FROM ded)
        |SELECT doc_id, n_copies, split FROM spl
        |WHERE split = 'train' ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""SELECT doc_id,
        |  ${mh(0, "h")} AS mh0, ${mh(1, "h")} AS mh1,
        |  ${mh(2, "h")} AS mh2, ${mh(3, "h")} AS mh3
        |FROM (SELECT doc_id, $baseHashSql AS h
        |      FROM (SELECT doc_id, unnest(${DedupOps.shinglesSql("w")}) AS sh FROM ($docsW)))
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_lsh" ->
      s"""WITH docs2 AS ($docsWithDupsSql),
        |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
        |sh AS (SELECT doc_id, unnest(${DedupOps.shinglesSql("w")}) AS sh FROM dw),
        |bh AS (SELECT doc_id, $baseHashSql AS h FROM sh),
        |sig AS (SELECT doc_id,
        |  ${mh(0, "h")} AS mh0, ${mh(1, "h")} AS mh1,
        |  ${mh(2, "h")} AS mh2, ${mh(3, "h")} AS mh3,
        |  ${mh(4, "h")} AS mh4, ${mh(5, "h")} AS mh5,
        |  ${mh(6, "h")} AS mh6, ${mh(7, "h")} AS mh7
        |  FROM bh GROUP BY doc_id),
        |buckets AS (
        |  SELECT doc_id, 0 AS band, md5(mh0 || '_' || mh1) AS bucket FROM sig UNION ALL
        |  SELECT doc_id, 1, md5(mh2 || '_' || mh3) FROM sig UNION ALL
        |  SELECT doc_id, 2, md5(mh4 || '_' || mh5) FROM sig UNION ALL
        |  SELECT doc_id, 3, md5(mh6 || '_' || mh7) FROM sig),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.doc_id < b.doc_id),
        |dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
        |inter AS (
        |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
        |  FROM pairs p
        |  JOIN dsh a ON a.doc_id = p.id_a
        |  JOIN dsh b ON b.doc_id = p.id_b AND a.sh = b.sh
        |  GROUP BY p.id_a, p.id_b)
        |SELECT p.id_a, p.id_b,
        |  CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
        |FROM pairs p
        |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        |JOIN sizes sa ON sa.doc_id = p.id_a
        |JOIN sizes sb ON sb.doc_id = p.id_b
        |WHERE CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |    / CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS DOUBLE) >= 0.8
        |ORDER BY p.id_a, p.id_b""".stripMargin,

    "q_dedup_simhash" ->
      s"""SELECT doc_id, ${DedupOps.simhashSql("w")} AS simhash
        |FROM ($docsW WHERE doc_id < 100) ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash_pairs" ->
      s"""WITH sig AS (
        |  SELECT doc_id, ${DedupOps.simhashSql("w")} AS simhash
        |  FROM ($docsW))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        |FROM sig a, sig b
        |WHERE a.doc_id < b.doc_id
        |  AND bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_sim_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS e FROM embeddings),
        |scored AS (
        |  SELECT q.q_id, c.c_id, ${SimilarityOps.cosineSql("q.e", "c.e")} AS cos
        |  FROM q, c WHERE q.q_id <> c.c_id),
        |${SimilarityOps.topKSql(5)}""".stripMargin,

    "q_sim_bucketed" ->
      s"""WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS e, label FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS c_id, embedding::DOUBLE[] AS e, label FROM embeddings),
        |scored AS (
        |  SELECT q.q_id, c.c_id, ${SimilarityOps.cosineSql("q.e", "c.e")} AS cos
        |  FROM q JOIN c ON q.label = c.label WHERE q.q_id <> c.c_id),
        |${SimilarityOps.topKSql(5)}""".stripMargin,

    "q_sim_ann" ->
      s"""WITH ${SimilarityOps.ivfCellsSql("embeddings", 8)},
        |q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
        |      FROM embeddings WHERE vec_id < 10),
        |qprobe AS (
        |  SELECT q_id, qe, cell FROM (
        |    SELECT q.q_id, q.qe, s.seed_id AS cell,
        |      row_number() OVER (PARTITION BY q.q_id
        |        ORDER BY ${SimilarityOps.cosineSql("q.qe", "s.se")} DESC, s.seed_id) AS rn
        |    FROM q, seeds s)
        |  WHERE rn <= 3),
        |scored AS (
        |  SELECT p.q_id, a.id AS c_id, ${SimilarityOps.cosineSql("p.qe", "a.e")} AS cos
        |  FROM qprobe p JOIN cass a ON p.cell = a.cell
        |  WHERE p.q_id <> a.id),
        |${SimilarityOps.topKSql(5)}""".stripMargin,

    "q_sim_rplsh" ->
      s"""SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec FROM (
        |  SELECT vec_id, ${SimilarityOps.rpLshBucketSql("e", 64, 6)} AS bucket
        |  FROM (SELECT vec_id, embedding AS e FROM embeddings))
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_sim_rplsh_topk" ->
      s"""WITH b AS (
        |  SELECT vec_id, e, ${SimilarityOps.rpLshBucketSql("e", 64, 6)} AS bucket
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)),
        |q AS (SELECT vec_id AS q_id, e AS qe, bucket AS qb FROM b WHERE vec_id < 10),
        |probe AS (
        |  SELECT q_id, qe, ${SimilarityOps.oneFlipProbesSql("qb", 6)} AS pb
        |  FROM q),
        |scored AS (
        |  SELECT p.q_id, c.vec_id AS c_id, ${SimilarityOps.cosineSql("p.qe", "c.e")} AS cos
        |  FROM probe p JOIN b c ON c.bucket = p.pb
        |  WHERE p.q_id <> c.vec_id),
        |${SimilarityOps.topKSql(5)}""".stripMargin,

    "q_dedup_cluster" ->
      """WITH RECURSIVE d AS (SELECT doc_id FROM documents),
        |edges AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM d WHERE doc_id % 10 < 3
        |  UNION ALL
        |  SELECT doc_id, doc_id - doc_id % 100 FROM d WHERE doc_id % 100 >= 95
        |  UNION ALL
        |  SELECT doc_id, doc_id * 2 FROM d WHERE doc_id < 50 AND doc_id % 7 = 0),
        |sym AS (
        |  SELECT a, b FROM edges WHERE a <> b
        |  UNION
        |  SELECT b, a FROM edges WHERE a <> b),
        |nodes AS (SELECT DISTINCT a AS n FROM sym),
        |walk(n, r) AS (
        |  SELECT n, n FROM nodes
        |  UNION
        |  SELECT w.n, s.b FROM walk w JOIN sym s ON w.r = s.a)
        |SELECT n AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
        |FROM walk GROUP BY n ORDER BY doc_id""".stripMargin,

    "q_dedup_semantic" ->
      s"""WITH src AS (${withDupsSql("embeddings", "vec_id", "embedding")}),
        |${SimilarityOps.ivfCellsSql("src", 8)},
        |dups AS (
        |  SELECT DISTINCT a.id FROM cass a JOIN cass b
        |    ON a.cell = b.cell AND b.id < a.id
        |  WHERE ${SimilarityOps.cosineSql("a.e", "b.e")} >= 0.95)
        |SELECT a.id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
        |  (d.id IS NOT NULL) AS is_dup
        |FROM cass a LEFT JOIN dups d USING (id) ORDER BY vec_id""".stripMargin,

    "q_dedup_embed" ->
      s"""WITH src AS (${withDupsSql("embeddings", "vec_id", "embedding")}),
        |b AS (
        |  SELECT vec_id, e, ${SimilarityOps.rpLshBucketSql("e", 64, 6)} AS bucket
        |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e FROM src)),
        |probe AS (
        |  SELECT vec_id AS id_a, e, ${SimilarityOps.oneFlipProbesSql("bucket", 6)} AS pb
        |  FROM b),
        |scored AS (
        |  SELECT p.id_a, c.vec_id AS id_b, ${SimilarityOps.cosineSql("p.e", "c.e")} AS cos
        |  FROM probe p JOIN b c ON c.bucket = p.pb
        |  WHERE p.id_a < c.vec_id)
        |SELECT id_a, id_b, round(cos, 6) AS cos FROM scored
        |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    "q_mm_chunks" ->
      """SELECT doc_id AS media_id, CAST(i - 1 AS BIGINT) AS chunk_id,
        |  CAST(length(substr(text, (i - 1) * 64 + 1, 64)) AS BIGINT) AS chunk_len,
        |  md5(substr(text, (i - 1) * 64 + 1, 64)) AS chunk_digest
        |FROM documents,
        |  UNNEST(generate_series(1, CAST(ceil(length(text) / 64.0) AS BIGINT))) AS u(i)
        |ORDER BY media_id, chunk_id""".stripMargin,

    "q_mm_features" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_byte,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(generate_series(1, length(text)), i -> ascii(substr(text, i, 1))::BIGINT)),
        |    (acc, v) -> (acc * 31 + v) % 2147483647) AS checksum,
        |  CAST(list_sum(list_transform(generate_series(1, length(text)),
        |    i -> ascii(substr(text, i, 1))::BIGINT)) AS DOUBLE)
        |    / CAST(octet_length(encode(text)) AS DOUBLE) AS mean_byte
        |FROM documents ORDER BY media_id""".stripMargin,

    // pure-ASCII corpus: byte i == character i+1, so the byte resample
    // mirrors as ascii(substr(...)) at floor(i*n/16); one row per sample
    // position keeps the result scalar-typed
    "q_mm_resize" ->
      """SELECT doc_id AS media_id, CAST(i AS BIGINT) AS sample_idx,
        |  CASE WHEN length(text) = 0 THEN CAST(-1 AS BIGINT)
        |  ELSE CAST(ascii(substr(text,
        |    1 + CAST(floor(i * length(text) / 16.0) AS INT), 1)) AS BIGINT)
        |  END AS sample_val
        |FROM documents, UNNEST(generate_series(0, 15)) AS u(i)
        |ORDER BY media_id, sample_idx""".stripMargin
  )
}
