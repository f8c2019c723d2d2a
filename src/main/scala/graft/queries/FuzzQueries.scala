package graft.queries

import graft.Tables
import Q._

/** Sixteen seeds from the differential fuzz generator ([[FuzzGen]])
  * promoted to permanent driver-gated oracle rows — at least one per
  * grammar shape (set-op, IN-subquery, row-level select, aggregating
  * join, window, EXISTS, scalar subquery), so the generator surface is
  * exercised by the driver's DuckDB compare every round, not only by
  * the dev-side 500-seed sweep (`graft.FuzzDump ... sql` + `dev/check.py`,
  * recorded in SURVEY §5). The SQL text is the seed's generated text,
  * dialect-shared by the generator's construction.
  */
object FuzzQueries {

  /** Shape coverage over the widened 13-arm grammar: 1=plain,
    * 2=setop(+IN-NULL pred), 5=aggJoin, 6=plain(+FULL JOIN),
    * 8=aggJoin ROLLUP, 10=aggJoin GROUPING SETS, 12=derivedJoin,
    * 18=aggJoin CUBE, 20=DISTINCT, 21=IN-subquery, 24=EXISTS,
    * 27=scalar subquery, 28=window, 30=window NTILE, 57=window ROWS
    * frame, 60=three-branch setop.
    */
  private val seeds = Seq(1L, 2L, 5L, 6L, 8L, 10L, 12L, 18L, 20L, 21L,
    24L, 27L, 28L, 30L, 57L, 60L)

  private val all: Map[String, String] =
    seeds.map(s => s"q_fuzz_$s" -> FuzzGen.sql(s)).toMap

  /** one single-PK and one composite-PK upsert shape ([[UpsertFuzzGen]]
    * — the ConnectorDdl PK-merge route under randomized key collisions).
    */
  private[queries] val upsertSeeds: Seq[Long] = Seq(
    FuzzFamilies.firstSeedOf("upsert", UpsertFuzzGen.gen)(!_.compositePk),
    FuzzFamilies.firstSeedOf("upsert", UpsertFuzzGen.gen)(_.compositePk))
    .distinct

  private val upsertCases = upsertSeeds.map(UpsertFuzzGen.gen)

  /** One CDC-dialect fuzz row per parser the fixed `q_fmt_debezium`
    * scenario leaves oracle-uncovered ([[CdcFuzzGen]]): canal on the
    * first multi-row-batching seed (its `data`-array/partial-old path),
    * maxwell on the first DEEP-chain seed distinct from it (small pkMod
    * — long insert→update*→delete→re-insert histories, so the
    * partial-old changed-fields merge is exercised many times per key),
    * ogg on the first deep-chain seed with the densest delete cadence
    * (delMod 2 — delete/re-insert alternation, the op-type path) — all
    * three decode a randomized PK-collision history and must fold to
    * the DuckDB last-image restatement.
    */
  private[queries] val cdcSeeds: Map[String, Long] = {
    val canal = FuzzFamilies.firstSeedOf("cdc", CdcFuzzGen.gen)(
      _.canalBatchMax >= 2)
    val maxwell = (1L to 256L).find(s =>
      s != canal && CdcFuzzGen.gen(s).pkMod <= 7).get
    val ogg = (1L to 256L).find { s =>
      val c = CdcFuzzGen.gen(s)
      s != canal && s != maxwell && c.pkMod <= 7 && c.delMod == 2
    }.get
    Map("canal" -> canal, "maxwell" -> maxwell, "ogg" -> ogg)
  }

  private val cdcCases: Map[String, CdcFuzzGen.Case] =
    cdcSeeds.map { case (d, seed) => d -> CdcFuzzGen.gen(seed) }

  /** one eviction-heavy (cacheSize 1) and one permanent-failure-bearing
    * lookup-join shape ([[LookupFuzzGen]] — LRU cache + retry ladder
    * over the deterministic fake store); the spec additionally runs
    * every seed through the ordered/unordered ASYNC routes and asserts
    * the three agree.
    */
  private[queries] val lookupSeeds: Seq[Long] = Seq(
    FuzzFamilies.firstSeedOf("lookup", LookupFuzzGen.gen)(
      _.cacheSize == 1),
    FuzzFamilies.firstSeedOf("lookup", LookupFuzzGen.gen)(c =>
      c.failMod > c.maxRetries + 1 && c.cacheSize > 1)).distinct

  private val lookupCases = lookupSeeds.map(LookupFuzzGen.gen)

  val queries: Map[String, QFn] = all.map { case (name, sql) =>
    name -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(sql)
    }): (String, QFn)
  } ++ upsertCases.map { c =>
    s"q_fuzz_upsert_${c.seed}" -> ((s, _: String) =>
      UpsertFuzzGen.replay(s, c)): (String, QFn)
  }.toMap ++ cdcCases.map { case (d, c) =>
    s"q_fmt_$d" -> ((s, dir: String) =>
      CdcFuzzGen.replay(s, dir, c, d)): (String, QFn)
  }.toMap ++ lookupCases.map { c =>
    s"q_fuzz_lookup_${c.seed}" -> ((s, dir: String) =>
      LookupFuzzGen.replay(s, dir, c)): (String, QFn)
  }.toMap

  // identical SQL text runs as the oracle (dialect-shared by design);
  // the upsert rows restate their VALUES list per-key last-writer-wins
  val oracles: Map[String, String] = all ++
    upsertCases.map(c => s"q_fuzz_upsert_${c.seed}" -> c.oracleSql).toMap ++
    cdcCases.map { case (d, c) => s"q_fmt_$d" -> c.oracleSql }.toMap ++
    lookupCases.map(c => s"q_fuzz_lookup_${c.seed}" -> c.oracleSql).toMap
}
