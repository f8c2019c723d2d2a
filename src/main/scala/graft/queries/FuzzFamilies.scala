package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import Q._

/** One replayable fuzz arm: the output/query name, the replay against a
  * session and data dir, and the case's DuckDB restatement. `skip`
  * names why a drawn case must not be trusted against its oracle on
  * the actual data (None = run it).
  */
final case class FuzzArm(name: String, run: QFn, oracleSql: String,
    skip: (SparkSession, String) => Option[String] = (_, _) => None)

/** How a restartable family's promoted recover row is picked and
  * restarted: the first promoted case matching `pick`, replayed with a
  * stop/restart at each of `restart(seed)`'s batch boundaries, keyed
  * `prefix<seed>` and checked against the SAME oracle as its
  * uninterrupted run.
  */
final case class Recover[C](prefix: String,
    pick: C => Boolean = (_: C) => true,
    restart: Long => Seq[Int] =
      (seed: Long) => Seq(FuzzFamilies.restartBoundary(seed)))

/** One seeded fuzz family: its `graft.FuzzDump` name, its key
  * prefix, its generator, the promotion predicates (each picks the
  * FIRST seed in 1..256 whose case matches — [[FuzzFamilies.firstSeedOf]]),
  * its replay (the last argument is the stop/restart batch boundaries,
  * Nil = uninterrupted) and its oracle. `reshape` is applied to every
  * drawn case (after promotion, so a predicate sees the raw draw);
  * `skip` gates a drawn case on the actual data (see [[FuzzArm]]).
  */
final case class FuzzFamily[C](
    name: String,
    prefix: String,
    gen: Long => C,
    promote: Seq[C => Boolean],
    replay: (SparkSession, String, C, Seq[Int]) => DataFrame,
    oracleSql: C => String,
    recover: Option[Recover[C]] = None,
    reshape: C => C = (c: C) => c,
    skip: (SparkSession, String, C) => Option[String] =
      (_: SparkSession, _: String, _: C) => None) {

  /** Promoted seeds, in predicate order, deduplicated. */
  val seeds: Seq[Long] =
    promote.map(FuzzFamilies.firstSeedOf(name, gen)).distinct

  private val cases: Seq[(Long, C)] = seeds.map(s => s -> reshape(gen(s)))

  private def armOf(key: String, c: C, restart: Seq[Int]): FuzzArm =
    FuzzArm(key, (s, dir) => replay(s, dir, c, restart), oracleSql(c),
      (s, dir) => skip(s, dir, c))

  /** The promoted SparkEntry rows. */
  val rows: Seq[FuzzArm] =
    cases.map { case (s, c) => armOf(s"$prefix$s", c, Nil) }

  /** The promoted recover row, if the family is restartable. */
  val recoverRows: Seq[FuzzArm] = recover.toSeq.map { r =>
    val (s, c) = cases.find(sc => r.pick(sc._2)).getOrElse(
      sys.error(s"no promoted $name case matches its recover pick"))
    armOf(s"${r.prefix}$s", c, r.restart(s))
  }

  /** The dump's arm for an arbitrary seed. */
  def arm(seed: Long): FuzzArm = armOf(s"$prefix$seed", reshape(gen(seed)), Nil)

  /** The dump's recover arm for an arbitrary seed. */
  def recoverArm(seed: Long): Option[FuzzArm] = recover.map(r =>
    armOf(s"${r.prefix}$seed", reshape(gen(seed)), r.restart(seed)))
}

/** The one registry of promoted STREAMING and lookup fuzz families
  * ([[StreamFuzzGen]], [[CepFuzzGen]], [[WindowFuzzGen]],
  * [[LookupFuzzGen]]): each family's promoted SparkEntry rows, their
  * oracles, the checkpoint stop/restart recover rows and every
  * `graft.FuzzDump` arm derive from the one [[all]] list.
  *
  * Promotion is deterministic — the FIRST seed exhibiting each shape —
  * so the choice is reproducible from the generator alone. Each row
  * replays the events table through a MemoryStream (or the batch NFA /
  * lookup harness) into the case's operator and is checked against the
  * case's own DuckDB restatement — the oracle-checked tie-in for the
  * engine-vs-engine sweeps in `StreamFuzzSpec` / `graft.FuzzDump`.
  *
  * Recover rows (the reference's exactly-once guarantee across failures
  * — CheckpointCoordinator barrier snapshots; Spark restated as WAL
  * offsets + state-store restore): the same promoted case replays with
  * a seed-determined mid-replay stop() + restart from the checkpoint,
  * and the resumed run's folded output must STILL equal the case's
  * restatement. One row per recovered-state shape.
  *
  * The batch SQL, upsert, plain lookup and CDC-dialect rows stay in
  * [[FuzzQueries]]: they have no dump arm or recover row to derive.
  */
object FuzzFamilies {

  /** First seed in 1..256 whose generated case matches the shape — the
    * deterministic promotion rule every family shares (reproducible
    * from the generator alone).
    */
  private[queries] def firstSeedOf[C](label: String, gen: Long => C)(
      p: C => Boolean): Long =
    (1L to 256L).find(s => p(gen(s)))
      .getOrElse(sys.error(s"no $label seed in 1..256 matches the shape"))

  /** Deterministic stop/restart boundary for a recovery-arm seed: a
    * batch index in 1..3 ([[StreamQueries.replay]] clamps into the
    * replay's actual batch range) — "random batch boundary", but a pure
    * function of the seed so every run stops at the same place.
    */
  def restartBoundary(seed: Long): Int =
    1 + math.floorMod(StreamFuzzGen.scramble(seed ^ 0x4ec04e4L), 3L).toInt

  val window = FuzzFamily[StreamFuzzGen.Case]("window", "q_fuzz_stream_",
    StreamFuzzGen.gen,
    Seq(
      c => !c.isHop && c.keys.length == 1, // tumbling, one key
      _.isHop, // hopping
      c => !c.isHop && c.keys.length == 2), // tumbling, composite key
    (s, dir, c, r) => StreamQueries.streamFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the built-in windowed aggregation's watermark + window state
    recover = Some(Recover("q_fuzz_recover_w")))

  val session = FuzzFamily[StreamFuzzGen.SessionCase]("session",
    "q_fuzz_stream_s", StreamFuzzGen.genSession,
    Seq(_.keys.length == 1, _.keys.length == 2), // single and composite key
    (s, dir, c, r) => StreamQueries.streamSessionFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // DOUBLE stop/restart — recovery from an already-recovered
    // checkpoint, session timers + watermark restoring twice
    recover = Some(Recover("q_fuzz_recover_s", restart = _ => Seq(1, 2))))

  val sessionDyn = FuzzFamily[StreamFuzzGen.SessionDynCase]("sessiondyn",
    "q_fuzz_stream_sd", StreamFuzzGen.genSessionDyn,
    // a gap expression that actually varies per row (a CASE arm —
    // constant-gap draws are the fixed session family's territory)
    Seq(c => c.gapSql.contains("CASE") && c.keySql != "event_type"),
    (s, dir, c, r) =>
      StreamQueries.streamSessionDynFuzzReplay(s, dir, c, r),
    _.oracleSql)

  val surgery = FuzzFamily[StreamFuzzGen.SurgeryCase]("surgery",
    "q_fuzz_surgery_", StreamFuzzGen.genSurgery,
    // composite CONCAT keys carry MIXED string lengths, so the
    // length-parity rewrite hits some keys and spares others — both
    // branches of the savepoint rewrite land
    Seq(c => c.keySql.contains("CONCAT") && c.rwMod == 2),
    (s, dir, c, r) =>
      StreamQueries.streamSurgeryFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the RESUME leg restarted mid-replay: the query bootstrapped from a
    // rewritten offline savepoint stops at a batch boundary and recovers
    // — the initial-state handoff must not re-apply on restart (a
    // re-applied bootstrap doubles the rewritten accumulators; a dropped
    // one loses them)
    recover = Some(Recover("q_fuzz_recover_sb")))

  val retract = FuzzFamily[StreamFuzzGen.RetractCase]("retract",
    "q_fuzz_stream_r", StreamFuzzGen.genRetract,
    Seq(_.op == "sum", _.op != "sum"), // one SUM and one MIN/MAX shape
    (s, dir, c, r) =>
      StreamQueries.streamRetractFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the retract-agg accumulators
    recover = Some(Recover("q_fuzz_recover_r")))

  /** The natural SUM retract seed re-run through the MINI-BATCH emission
    * protocol (one -U/+U step per key per micro-batch instead of per
    * record — MiniBatchGroupAggFunction semantics): the same case, the
    * same oracle, a pure emission-protocol differential against
    * `q_fuzz_stream_r` + the batch restatement. Sweep draws are forced
    * to the SUM arm.
    */
  val miniBatch = FuzzFamily[StreamFuzzGen.RetractCase]("minibatch",
    "q_fuzz_stream_mb", StreamFuzzGen.genRetract,
    Seq(_.op == "sum"),
    (s, dir, c, r) => StreamQueries.streamRetractFuzzReplay(s, dir, c,
      r, miniBatch = true),
    _.oracleSql,
    reshape = _.copy(op = "sum"))

  val distinct = FuzzFamily[StreamFuzzGen.DistinctCase]("distinct",
    "q_fuzz_stream_cd", StreamFuzzGen.genDistinct,
    Seq(
      // coarse values (duplicated — the retract-one-copy multiplicity bite)
      c => c.valueSql.contains("%") && c.groupSql != "event_type",
      // full cardinality (maximum shard breadth across value % buckets)
      _.valueSql == "user_id"),
    (s, dir, c, r) =>
      StreamQueries.streamDistinctFuzzReplay(s, dir, c, r),
    _.oracleSql)

  val topN = FuzzFamily[StreamFuzzGen.TopNCase]("topn", "q_fuzz_stream_t",
    StreamFuzzGen.genTopN,
    Seq(_.sortSql == "event_id", // unique sort
      _.sortSql.contains("DECIMAL")), // tie-bearing cents sort
    (s, dir, c, r) => StreamQueries.streamTopNFuzzReplay(s, dir, c, r),
    _.oracleSql,
    recover = Some(Recover("q_fuzz_recover_t")))

  /** Batch-NFA CEP; a restart replays the case through the STREAMING
    * CEP operator (CEP.CepProcessor) instead (the batch NFA has no
    * checkpoint to resume).
    */
  val cep = FuzzFamily[CepFuzzGen.Case]("cep", "q_fuzz_cep_", CepFuzzGen.gen,
    Seq(c => c.steps.length == 2 && c.withinMinutes.isDefined, // 2-step windowed
      _.steps.length == 3), // 3-step
    (s, dir, c, r) =>
      if (r.isEmpty) CepQueries.cepFuzzReplay(s, dir, c)
      else CepQueries.cepStreamFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // NFA partial-match recovery on the windowed 2-step case: the
    // CEP.CepProcessor's buffer ListState, emitted-hash MapState and
    // match counter restore mid-replay (the reference checkpoints the
    // SharedBuffer in CepOperator.java:82)
    recover = Some(Recover("q_fuzz_recover_c")))

  val dedup = FuzzFamily[StreamFuzzGen.DedupCase]("dedup", "q_fuzz_stream_d",
    StreamFuzzGen.genDedup,
    // keep-last and event-time-TTL (keep-first is the TTL mode's
    // degenerate island and stays sweep-covered)
    Seq(_.mode == "last", _.mode == "first_ttl"),
    (s, dir, c, _) => StreamQueries.streamDedupFuzzReplay(s, dir, c),
    _.oracleSql)

  val join = FuzzFamily[StreamFuzzGen.JoinCase]("join", "q_fuzz_stream_j",
    StreamFuzzGen.genJoin,
    // full outer (the widest retraction protocol), semi, anti — a seed
    // determines its joinType, so the scans land on distinct seeds
    Seq(_.joinType == "full", _.joinType == "semi", _.joinType == "anti"),
    (s, dir, c, r) => StreamQueries.streamJoinFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the full-outer join's retract-pad MapStates
    recover = Some(Recover("q_fuzz_recover_j", pick = _.joinType == "full")))

  val temporal = FuzzFamily[StreamFuzzGen.TemporalCase]("temporal",
    "q_fuzz_stream_tj", StreamFuzzGen.genTemporal,
    // merged history (mod-keyed): several users' version chains
    // interleave through one MapState
    Seq(_.keySql.contains("%")),
    (s, dir, c, r) =>
      StreamQueries.streamTemporalFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the version MapState + watermark
    recover = Some(Recover("q_fuzz_recover_tj")))

  val cepQuant = FuzzFamily[CepFuzzGen.QuantCase]("cepq", "q_fuzz_cepq_",
    CepFuzzGen.genQuant,
    // fixed times, optional (the greedy backtrack-to-absent branch) and
    // unbounded oneOrMore — a seed determines its arm, so the scans land
    // on distinct seeds
    Seq(_.arm == "times", _.arm == "optional", _.arm == "oneormore"),
    (s, dir, c, _) => CepQueries.cepQuantFuzzReplay(s, dir, c),
    _.oracleSql)

  val cepRelaxed = FuzzFamily[CepFuzzGen.RelaxedCase]("cepr", "q_fuzz_cepr_",
    CepFuzzGen.genRelaxed,
    Seq(_.neg.exists(_._2), _.neg.exists(!_._2)), // notNext, notFollowedBy
    (s, dir, c, _) => CepQueries.cepRelaxedFuzzReplay(s, dir, c),
    _.oracleSql)

  val interval = FuzzFamily[StreamFuzzGen.IntervalCase]("interval",
    "q_fuzz_stream_iv", StreamFuzzGen.genInterval,
    // zero-spanning (lo < 0 < hi): rows join both backward and forward —
    // the bidirectional-buffer case
    Seq(c => c.loMinutes < 0 && c.hiMinutes > 0),
    (s, dir, c, _) => StreamQueries.streamIntervalFuzzReplay(s, dir, c),
    _.oracleSql)

  val winJoin = FuzzFamily[StreamFuzzGen.WinJoinCase]("winjoin",
    "q_fuzz_stream_wj", StreamFuzzGen.genWinJoin,
    // composite key (user#type): sparse per-window slices, the
    // null-heavy side of the join space
    Seq(_.keySql.contains("CONCAT")),
    (s, dir, c, _) => StreamQueries.streamWinJoinFuzzReplay(s, dir, c),
    _.oracleSql)

  val over = FuzzFamily[StreamFuzzGen.OverCase]("over", "q_fuzz_stream_ov",
    StreamFuzzGen.genOver,
    // RANGE mode: peer groups accumulate before emitting — the arm the
    // hand-written q_stream_over ROWS row leaves uncovered
    Seq(_.rangeMode),
    (s, dir, c, _) => StreamQueries.streamOverFuzzReplay(s, dir, c),
    _.oracleSql)

  val boundedOver = FuzzFamily[StreamFuzzGen.BoundedOverCase]("boundedover",
    "q_fuzz_stream_ovb", StreamFuzzGen.genBoundedOver,
    // ROWS and RANGE bounded-preceding frames — the retract-path arms
    // the unbounded q_fuzz_stream_ov* rows never reach (their
    // accumulator only grows)
    Seq(!_.rangeMode, _.rangeMode),
    (s, dir, c, r) =>
      StreamQueries.streamBoundedOverFuzzReplay(s, dir, c, r),
    _.oracleSql)

  val ptJoin = FuzzFamily[StreamFuzzGen.PtJoinCase]("ptjoin",
    "q_fuzz_stream_ptj", StreamFuzzGen.genPtJoin,
    // merged history (mod-keyed): several users' version chains through
    // one ValueState, clears interleaving with upserts
    Seq(_.keySql.contains("%")),
    (s, dir, c, _) => StreamQueries.streamPtJoinFuzzReplay(s, dir, c),
    _.oracleSql)

  val cumulate = FuzzFamily[WindowFuzzGen.CumulateCase]("cumulate",
    "q_fuzz_stream_cu", WindowFuzzGen.genCumulate,
    // composite key: slice expansion × key product, the widest plan
    Seq(_.keys.length == 2),
    (s, dir, c, _) => WindowFuzzGen.replayCumulate(s, dir, c),
    _.oracleSql)

  val countWin = FuzzFamily[WindowFuzzGen.CountWinCase]("countwin",
    "q_fuzz_stream_cw", WindowFuzzGen.genCountWin,
    Seq(!_.sliding, c => c.sliding && c.slide < c.size), // tumbling, sliding
    (s, dir, c, _) => StreamQueries.streamCountWinFuzzReplay(s, dir, c),
    _.oracleSql)

  val winRank = FuzzFamily[WindowFuzzGen.WinRankCase]("winrank",
    "q_fuzz_stream_wr", WindowFuzzGen.genWinRank,
    Seq(_.mode == "topn", // window top-n
      c => c.mode == "dedup" && c.last), // window dedup keep-last
    (s, dir, c, _) => WindowFuzzGen.replayWinRank(s, dir, c),
    _.oracleSql)

  val lateness = FuzzFamily[StreamFuzzGen.LatenessCase]("lateness",
    "q_fuzz_stream_lw", StreamFuzzGen.genLateness,
    // wide refire band (lateness ≥ 2 windows): several fired windows
    // stay re-fireable at once
    Seq(_.latenessMult >= 2),
    (s, dir, c, r) =>
      StreamQueries.streamLatenessFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // alive windows, fired-pane images and the persisted watermark
    // restore — a lost pane image re-fires wrong -U rows, a lost
    // watermark re-admits dropped late rows
    recover = Some(Recover("q_fuzz_recover_lw")))

  val coGroup = FuzzFamily[StreamFuzzGen.CoGroupCase]("cogroup",
    "q_fuzz_stream_cg", StreamFuzzGen.genCoGroup,
    // sliding: each record buffered in size/slide window instances — the
    // multi-assignment arm the hand rows cover only at fixed shapes
    Seq(_.isSliding),
    (s, dir, c, _) => StreamQueries.streamCoGroupFuzzReplay(s, dir, c),
    _.oracleSql)

  /** DefaultLookupCache staleness-window semantics vs the chain/islands
    * restatements ([[LookupFuzzGen.TtlCase]]).
    */
  val lookupTtl = FuzzFamily[LookupFuzzGen.TtlCase]("lookupttl",
    "q_fuzz_lookup_ttl", LookupFuzzGen.genTtl,
    Seq(
      // write mode, stale-heavy: the ttl spans version periods, so
      // served-stale hits are frequent
      c => !c.accessMode && c.ttl > c.versionPeriod,
      _.accessMode), // access mode
    (s, dir, c, _) => LookupFuzzGen.replayTtl(s, dir, c),
    _.oracleSql)

  /** LookupFullCache periodic-reload semantics ([[LookupFuzzGen.FullCase]]). */
  val lookupFull = FuzzFamily[LookupFuzzGen.FullCase]("lookupfull",
    "q_fuzz_lookup_full", LookupFuzzGen.genFull,
    // the reload period spans store versions — the snapshot is served
    // deeply stale between reloads
    Seq(c => c.reloadEvery > c.versionPeriod),
    (s, dir, c, _) => LookupFuzzGen.replayFull(s, dir, c),
    _.oracleSql)

  /** followedByAny match multiplicity under NO SKIP: only the 2-step arm
    * is SQL-restatable (every candidate branch per anchor), so sweep
    * draws re-shape to any2 with the seed's own predicates; the any3/
    * comb arms are enumerator-gated in CepFuzzSpec by design.
    */
  val cepAny = FuzzFamily[CepFuzzGen.AnyCase]("cepany", "q_fuzz_cepany_",
    CepFuzzGen.genAny,
    Seq(_.arm == "any2"),
    (s, dir, c, _) => CepQueries.cepAnyFuzzReplay(s, dir, c),
    _.oracleSql,
    reshape = _.copy(arm = "any2"))

  val cepTimeout = FuzzFamily[CepFuzzGen.TimeoutCase]("cepto", "q_fuzz_cepto_",
    CepFuzzGen.genTimeout,
    // 3-step: the longest partial-match chains — anchors can get two
    // steps in and still time out
    Seq(_.types.length == 3),
    (s, dir, c, _) => CepQueries.cepTimeoutFuzzReplay(s, dir, c),
    _.oracleSql)

  val wmAlign = FuzzFamily[StreamFuzzGen.WmAlignCase]("wmalign",
    "q_fuzz_stream_wa", StreamFuzzGen.genWmAlign,
    // tight drift (span/20 — pausing dominates the pacing). The COARSEST
    // round split (roundsDiv = 4, mod = 3) is required too: alignment
    // cost is (protocol rounds × the ~2 s micro-batch floor), and a fine
    // split priced the one row at 17–23 s without widening the drift-cap
    // bite — fast advances span/4 per round against a span/20 cap, so
    // pausing still fires from round one (the spec asserts it on the
    // promoted seed, which rides the pacing-guard loop)
    Seq(c => c.driftDiv == 20 && c.roundsDiv == 4 && c.mod == 3),
    (s, dir, c, _) => StreamQueries.streamWmAlignFuzzReplay(s, dir, c),
    _.oracleSql)

  val broadcast = FuzzFamily[StreamFuzzGen.BcCase]("broadcast",
    "q_fuzz_stream_bc", StreamFuzzGen.genBroadcast,
    // mod-keyed: many users behind one rule key — data crossing rule
    // boundaries, the order-sensitive surface the hand row under-covers
    Seq(c => c.keySql.contains("%") && c.nRules >= 3),
    (s, dir, c, r) =>
      StreamQueries.streamBroadcastFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // the rules MAP restored mid-replay: a lost PUT/REMOVE makes every
    // later data row read a stale rules image
    recover = Some(Recover("q_fuzz_recover_bc")))

  val tsort = FuzzFamily[StreamFuzzGen.TsortCase]("tsort", "q_fuzz_stream_ts",
    StreamFuzzGen.genTsort,
    // coarse quantization over a mod key (≥5-minute tie buckets): the
    // widest per-timestamp buffer lists, where arrival-order emission is
    // most load-bearing
    Seq(c => c.quantMinutes >= 5 && c.keySql.contains("%")),
    (s, dir, c, r) => StreamQueries.streamTsortFuzzReplay(s, dir, c, r),
    _.oracleSql,
    // buffered-rows MapState + COALESCED timer (ptimer ValueState +
    // registered event-time timer) restored mid-replay: a lost buffer
    // drops rows, a lost timer never drains them, a re-armed-too-high
    // timer emits out of order
    recover = Some(Recover("q_fuzz_recover_ts")))

  val t1 = FuzzFamily[StreamFuzzGen.T1Case]("t1", "q_fuzz_stream_top",
    StreamFuzzGen.genT1,
    Seq(
      // tie-bearing (cents-sort) Fast Top-1
      c => c.arm == "top1" && c.sortSql.contains("DECIMAL"),
      _.arm == "firstn"), // append First-N (counter-only state)
    (s, dir, c, r) => StreamQueries.streamT1FuzzReplay(s, dir, c, r),
    _.oracleSql,
    // Fast Top-1's SINGLE-RECORD champion ValueState — a distinct
    // recovery shape from the top-n operator's sorted-map state: a lost
    // champion re-emits +I without -U and the fold breaks
    recover = Some(Recover("q_fuzz_recover_top", pick = _.arm == "top1")))

  /** Watermark idleness over the WatermarkMux combined clock. The
    * sent-rows restatement is only exact when the seed's occupancy/
    * silent-rounds preconditions hold on the actual data (the same
    * IdleCase.invalidReason gate the spec asserts) — an invalid sweep
    * seed would surface as a FALSE engine-vs-oracle divergence, so it
    * is skipped with a note instead.
    */
  val wmIdle = FuzzFamily[StreamFuzzGen.IdleCase]("wmidle", "q_fuzz_stream_wi",
    StreamFuzzGen.genIdle,
    // delayed (delay > 0): the partial-watermark arithmetic and the idle
    // release both in play
    Seq(c => c.delayMinutes > 0 && c.idleTimeoutRounds == 2),
    (s, dir, c, _) => StreamQueries.streamIdleFuzzReplay(s, dir, c),
    _.oracleSql,
    skip = (s, dir, c) => c.invalidReason(StreamQueries.userMicros(s, dir)))

  /** Every family, in `graft.FuzzDump all` order. */
  val all: Seq[FuzzFamily[_]] = Seq(window, session, sessionDyn, surgery,
    retract, miniBatch, distinct, topN, cep, dedup, join, temporal, cepQuant,
    cepRelaxed, interval, winJoin, over, boundedOver, ptJoin, cumulate,
    countWin, winRank, lateness, coGroup, lookupTtl, lookupFull, cepAny,
    cepTimeout, wmAlign, broadcast, tsort, t1, wmIdle)

  private val promoted: Seq[FuzzArm] = all.flatMap(f => f.rows ++ f.recoverRows)

  val queries: Map[String, QFn] = promoted.map(a => a.name -> a.run).toMap

  val oracles: Map[String, String] =
    promoted.map(a => a.name -> a.oracleSql).toMap
}
