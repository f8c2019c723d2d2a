package graft.queries

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Tables

/** Seeded random generator for STREAMING differential cases — the
  * streaming-side sibling of [[FuzzGen]] (which fuzzes the batch SQL
  * surface). It holds 22 case types, one per streaming operator under
  * test (window and session aggregation, retraction, distinct, dedup,
  * Top-N and Top-1, the stream joins, OVER, temporal, coGroup, lateness,
  * idleness, watermark alignment, broadcast state, temporal sort), each
  * with a `gen*` that is a pure function of the seed over the `events`
  * table. [[FuzzFamilies]] registers them. The first four:
  *   - [[gen]]: windowed event-time aggregations (tumble/hop, keys,
  *     exact aggregates) — Spark's built-in incremental window path;
  *   - [[genSession]]: SESSION-window annotation through
  *     [[graft.streaming.SessionWindows]] (custom transformWithState);
  *   - [[genRetract]]: retract group aggregation through
  *     [[graft.streaming.StatefulOps]] (SUM / MIN / MAX arms);
  *   - [[genTopN]]: retractable Top-N diffs through
  *     [[graft.streaming.StreamingRank.topN]].
  *
  * Every case drives three executions:
  *   - STREAMING: MemoryStream replay through the incremental,
  *     state-store-backed operator;
  *   - BATCH: the identical semantics on the batch frame (window() /
  *     gaps-and-islands / GROUP BY survivors / ROW_NUMBER);
  *   - ORACLE: a DuckDB restatement for promoted permanent rows.
  *
  * Divergence between the first two catches incremental-execution bugs
  * (watermark handling, state eviction, window assignment, retraction
  * arithmetic, rank cascades) that no batch-only fuzz can reach; the
  * third ties promoted seeds into the driver's cross-engine gate.
  * Determinism conventions follow the hand-written stream gates: replay
  * is (event-time, id)-sorted so no row is late, money flows as exact
  * DECIMAL(12,2)/cents-BIGINT, and doubles appear only as a final cast
  * of an exact decimal sum.
  *
  * Reference bar: the semantics under test are the reference's
  * group-window / session-window-TVF / GroupAggFunction / retracting
  * top-n operators (flink-table-runtime; SURVEY §2.4–2.7).
  */
object StreamFuzzGen {

  /** One generated case. All SQL fragments are dialect-shared: Spark
    * `expr()` accepts them and the oracle embeds the same text.
    */
  case class Case(
      seed: Long,
      filterSql: String,
      keys: Seq[(String, String)], // (shared SQL expr, output alias)
      winMinutes: Int,
      slideMinutes: Int, // == winMinutes for tumbling
      aggs: Seq[(String, String)]) { // (shared SQL agg expr, alias)

    def isHop: Boolean = slideMinutes != winMinutes

    /** The shared transform: filter → event-time window → aggregates.
      * Works on batch and streaming frames alike; the streaming caller
      * adds the watermark BEFORE applying (watermarks survive filters).
      * Output: window_start, keys..., aggs...
      */
    def apply(ev: DataFrame): DataFrame = {
      val win =
        if (isHop) window(col("ts"), s"$winMinutes minutes", s"$slideMinutes minutes")
        else window(col("ts"), s"$winMinutes minutes")
      val keyCols: Seq[Column] = keys.map { case (e, a) => expr(e).as(a) }
      val aggCols: Seq[Column] = aggs.map { case (e, a) => expr(e).as(a) }
      ev.filter(expr(filterSql))
        .groupBy(win.as("__w") +: keyCols: _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .select(col("__w.start").as("window_start") +:
          (keys.map(k => col(k._2)) ++ aggs.map(a => col(a._2))): _*)
    }

    /** DuckDB restatement for promoted permanent rows. Window starts
      * restate as time_bucket (tumble) or an UNNEST over the covering
      * starts (hop — size/slide covering instances per row).
      */
    def oracleSql: String = {
      val keySel = keys.map { case (e, a) => s"$e AS $a" }
      val aggSel = aggs.map { case (e, a) => s"$e AS $a" }
      val groupN = 1 + keys.length
      val groupBy = (1 to groupN).mkString(", ")
      if (!isHop) {
        s"""WITH e AS ${Tables.duckEvents}, f AS (SELECT * FROM e WHERE $filterSql)
           |SELECT time_bucket(INTERVAL $winMinutes MINUTE, ts) AS window_start,
           |  ${(keySel ++ aggSel).mkString(",\n  ")}
           |FROM f GROUP BY $groupBy""".stripMargin
      } else {
        val n = winMinutes / slideMinutes
        val starts = (0 until n).map(k =>
          s"time_bucket(INTERVAL $slideMinutes MINUTE, ts) - INTERVAL ${k * slideMinutes} MINUTE")
        s"""WITH e AS ${Tables.duckEvents}, f AS (SELECT * FROM e WHERE $filterSql)
           |SELECT ws AS window_start,
           |  ${(keySel ++ aggSel).mkString(",\n  ")}
           |FROM f, UNNEST([${starts.mkString(",\n  ")}]) AS u(ws)
           |GROUP BY $groupBy""".stripMargin
      }
    }
  }

  /** A session-window case — exercises [[graft.streaming.SessionWindows]]
    * (the transformWithState MergingWindowSet operator, not a Spark
    * built-in): filtered events annotate per-row with their session's
    * bounds under the generated partition keys and gap. Differential
    * targets: the identical gaps-and-islands restatement on the batch
    * frame (Spark window functions) and a DuckDB islands oracle.
    */
  case class SessionCase(
      seed: Long,
      filterSql: String,
      keys: Seq[(String, String)], // (shared SQL expr, alias)
      gapMinutes: Int) {

    /** DuckDB gaps-and-islands restatement: a session break is a row
      * whose gap from its predecessor (per key, (ts, event_id) order)
      * exceeds the gap; running-sum of breaks numbers the islands; the
      * island's MIN/MAX ts give the TVF bounds (end = max + gap).
      */
    def oracleSql: String = {
      val kAlias = keys.map(_._2)
      val kSel = keys.map { case (e, a) => s"$e AS $a" }.mkString(", ")
      val part = kAlias.mkString(", ")
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT $kSel, event_id, ts FROM e WHERE $filterSql),
         |m AS (SELECT $part, event_id, ts,
         |  CASE WHEN ts - lag(ts) OVER (PARTITION BY $part ORDER BY ts, event_id)
         |         <= INTERVAL $gapMinutes MINUTE
         |    THEN 0 ELSE 1 END AS new_s FROM f),
         |s AS (SELECT $part, event_id, ts,
         |  SUM(new_s) OVER (PARTITION BY $part ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT $part, event_id,
         |  MIN(ts) OVER (PARTITION BY $part, sid) AS window_start,
         |  MAX(ts) OVER (PARTITION BY $part, sid) + INTERVAL $gapMinutes MINUTE AS window_end
         |FROM s""".stripMargin
    }
  }

  /** A DYNAMIC-GAP session case — the reference's
    * SessionWindowTimeGapExtractor / SESSION TVF with a per-row gap
    * expression (flink-table-runtime SessionWindowAssigner
    * withDynamicGap): each row opens a candidate window
    * [ts, ts + gap(row)) and overlapping candidates merge (strict-less
    * boundary: a row starting exactly at the running end opens a NEW
    * session). Runs Spark's built-in `session_window(ts, gapExpr)` —
    * streaming aggregate shape under a watermark — against a
    * gaps-and-islands restatement whose island break is a running MAX
    * of per-row ends.
    */
  case class SessionDynCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      gapSql: String) { // INT minutes per row, shared dialect

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT CAST($keySql AS STRING) AS k, event_id, ts,
         |    CAST($gapSql AS BIGINT) AS gapm
         |  FROM e WHERE $filterSql),
         |w AS (SELECT k, event_id, ts,
         |    ts + gapm * INTERVAL 1 MINUTE AS w_end FROM f),
         |m AS (SELECT k, event_id, ts, w_end,
         |  CASE WHEN ts < MAX(w_end) OVER (PARTITION BY k ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |    THEN 0 ELSE 1 END AS brk FROM w),
         |s AS (SELECT k, event_id, ts, w_end,
         |  SUM(brk) OVER (PARTITION BY k ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM m)
         |SELECT k, MIN(ts) AS window_start, MAX(w_end) AS window_end,
         |  COUNT(*) AS n, CAST(SUM(event_id) AS BIGINT) AS sum_id
         |FROM s GROUP BY k, sid""".stripMargin
  }

  /** The dynamic-gap session case for a seed — a pure function of the
    * seed. The sentinel contract matches [[genSession]]: `OR user_id =
    * -1` keeps the flush row through every filter, and gap draws guard
    * against NULL/zero gaps (CASE arms and modulo bases are total).
    */
  def genSessionDyn(seed: Long): SessionDynCase = {
    val r = new Random(scramble(seed ^ 0xd16a9e55L))
    val filterSql = s"(${basePredOf(r)}) OR user_id = -1"
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val gapSql = r.nextInt(3) match {
      case 0 =>
        val n = 1 + r.nextInt(3)
        val types = r.shuffle(eventTypes).take(n).sorted
        val short = Seq(10, 15, 20)(r.nextInt(3))
        val long = Seq(45, 60, 90)(r.nextInt(3))
        s"CASE WHEN event_type IN (${types.map(t => s"'$t'").mkString(", ")}) " +
          s"THEN $short ELSE $long END"
      case 1 =>
        s"${10 + r.nextInt(20)} + (user_id % ${2 + r.nextInt(3)}) * ${15 + r.nextInt(30)}"
      case 2 =>
        val thr = 25 + r.nextInt(200)
        s"CASE WHEN CAST(value AS DECIMAL(12,2)) >= $thr.00 " +
          s"THEN ${60 + r.nextInt(60)} ELSE ${10 + r.nextInt(20)} END"
    }
    SessionDynCase(seed, filterSql, keySql, gapSql)
  }

  /** A retract group-aggregation case — exercises
    * [[graft.streaming.StatefulOps.RetractSumProcessor]] /
    * [[graft.streaming.StatefulOps.RetractMinMaxProcessor]]: every
    * filtered event INSERTs (key, value), then the rows matching the
    * delete predicate RETRACT in a final batch; the emitted -U/+U/-D
    * changelog folds to the aggregate over surviving rows only. A key
    * whose rows all delete must vanish (RecordCounter -D), and a delete
    * hitting the current MIN/MAX forces the recompute-from-counts path —
    * both land randomly across seeds.
    */
  case class RetractCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      valueSql: String, // BIGINT-valued shared expr
      deleteMod: Int,
      deleteRes: Int,
      op: String) { // sum | min | max

    def aggSql: String = op match {
      case "sum" => "CAST(SUM(v) AS BIGINT)" // DuckDB SUM(BIGINT)=HUGEINT
      case "min" => "MIN(v)"
      case "max" => "MAX(v)"
    }

    /** DuckDB restatement: the fold's fixed point IS a batch GROUP BY
      * over inserts minus deletes.
      */
    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT CAST($keySql AS STRING) AS k,
         |    CAST($valueSql AS BIGINT) AS v, event_id
         |  FROM e WHERE $filterSql),
         |s AS (SELECT k, v FROM f WHERE NOT (event_id % $deleteMod = $deleteRes))
         |SELECT k, $aggSql AS agg, COUNT(*) AS n FROM s GROUP BY k""".stripMargin
  }

  /** A split-COUNT(DISTINCT) case — exercises
    * [[graft.streaming.StatefulOps.SplitDistinctProcessor]], the
    * reference's SplitAggregateRule partial/final rewrite
    * (flink-table-planner FlinkStreamRuleSets.scala:352): filtered
    * events insert (group, value) pairs sharded over
    * (group, value % buckets) composite keys, a delete batch retracts
    * the delete-predicate rows, and the signed fold of the partial
    * operator's shard-count changelog per group must equal the batch
    * COUNT(DISTINCT) over survivors. `valueSql` draws include coarse
    * moduli so duplicated values are guaranteed — retracting ONE copy
    * of a duplicated value must NOT shrink the distinct set (the value
    * multiplicity bite).
    */
  case class DistinctCase(
      seed: Long,
      filterSql: String,
      groupSql: String, // STRING-valued shared expr
      valueSql: String, // BIGINT-valued shared expr
      buckets: Int,
      deleteMod: Int,
      deleteRes: Int) {

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT CAST($groupSql AS STRING) AS g,
         |    CAST($valueSql AS BIGINT) AS v, event_id
         |  FROM e WHERE $filterSql),
         |s AS (SELECT g, v FROM f WHERE NOT (event_id % $deleteMod = $deleteRes))
         |SELECT g, COUNT(DISTINCT v) AS n_distinct FROM s GROUP BY g""".stripMargin
  }

  /** The split-distinct case for a seed — a pure function of the seed. */
  def genDistinct(seed: Long): DistinctCase = {
    val r = new Random(scramble(seed ^ 0xd157c7L))
    val filterSql = basePredOf(r)
    val groupSql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    // coarse moduli guarantee duplicated values (multiplicity bite);
    // the user_id arm keeps full cardinality for the sharding bite
    val valueSql = r.nextInt(3) match {
      case 0 => "user_id"
      case 1 => s"user_id % ${Seq(7, 13, 29)(r.nextInt(3))}"
      case 2 => s"event_id % ${50 + r.nextInt(200)}"
    }
    val buckets = Seq(4, 8, 16)(r.nextInt(3))
    val deleteMod = 2 + r.nextInt(5)
    val deleteRes = r.nextInt(deleteMod)
    DistinctCase(seed, filterSql, groupSql, valueSql, buckets, deleteMod,
      deleteRes)
  }

  /** A state-SURGERY case — the offline savepoint read→rewrite→resume
    * loop of the reference's State Processor API
    * (flink-state-processing-api SavepointReader.java:59 /
    * SavepointWriter, OperatorTransformation.bootstrapWith), seeded:
    * phase 1 streams the pre-cutoff slice of filtered events through
    * the keyed running aggregate and STOPS with a retained checkpoint;
    * the checkpoint's "acc" state reads back offline (plus a welded
    * POINT-read of one key that must agree), a seeded per-key REWRITE
    * mutates the cents of matching keys, and phase 2 — a fresh query
    * bootstrapped from the rewritten frame — continues over the
    * post-cutoff slice. Final running totals must equal batch totals
    * over ALL events (+ the rewrite delta exactly for pre-cutoff-active
    * matching keys) for every key active after the cutoff: lost,
    * doubled, stale, or un-rewritten bootstrap state each diverge.
    */
  case class SurgeryCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      cutNum: Int, cutDen: Int, // cutoff = min + (max-min)*num/den (µs)
      rwMod: Int, rwRes: Int, // rewrite keys with length(k) % mod = res
      rwDelta: Long) { // cents added to rewritten keys

    /** The rewrite predicate over a key column — shared dialect. */
    def rewritePred(colName: String): String =
      s"length($colName) % $rwMod = $rwRes"

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT CAST($keySql AS STRING) AS k,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    epoch_us(ts) AS us
         |  FROM e WHERE $filterSql),
         |c AS (SELECT MIN(us) + ((MAX(us) - MIN(us)) * $cutNum) // $cutDen
         |    AS cut FROM f),
         |tot AS (SELECT k, COUNT(*) AS n, SUM(cents) AS cents
         |  FROM f GROUP BY k),
         |prek AS (SELECT DISTINCT k FROM f, c WHERE us < cut),
         |postk AS (SELECT DISTINCT k FROM f, c WHERE us >= cut)
         |SELECT t.k, t.n, CAST(t.cents +
         |    CASE WHEN p.k IS NOT NULL AND ${rewritePred("t.k")}
         |      THEN $rwDelta ELSE 0 END AS BIGINT) AS sum_cents
         |FROM tot t
         |JOIN postk q ON t.k = q.k
         |LEFT JOIN prek p ON t.k = p.k""".stripMargin
  }

  /** The surgery case for a seed — a pure function of the seed. */
  def genSurgery(seed: Long): SurgeryCase = {
    val r = new Random(scramble(seed ^ 0x5a9e47L))
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val (num, den) = Seq((1, 3), (1, 2), (2, 3))(r.nextInt(3))
    val rwMod = 2 + r.nextInt(2)
    val rwRes = r.nextInt(rwMod)
    val rwDelta = (1 + r.nextInt(9)) * 1000L
    SurgeryCase(seed, filterSql, keySql, num, den, rwMod, rwRes, rwDelta)
  }

  /** A streaming-dedup case — exercises the
    * [[graft.streaming.StatefulOps]] dedup processors: keep-FIRST
    * (insert-only firsts), keep-LAST (ChangelogNormalize retractions,
    * folded to the final row per key), or keep-first under an
    * EVENT-TIME TTL (per-key gaps-and-islands firsts). Replay arrives
    * (ts, event_id)-sorted, so "first"/"last" restate as ROW_NUMBER
    * over that order and the TTL mode as a LAG-gap island test.
    */
  case class DedupCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      mode: String, // first | last | first_ttl
      ttlMinutes: Int) { // used by first_ttl only

    def oracleSql: String = {
      val f =
        s"""WITH e AS ${Tables.duckEvents},
           |f AS (SELECT CAST($keySql AS STRING) AS k, ts, event_id AS id
           |  FROM e WHERE $filterSql)""".stripMargin
      mode match {
        case "first" =>
          s"""$f
             |SELECT k, id FROM (SELECT k, id,
             |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts, id) AS rn
             |  FROM f) WHERE rn = 1""".stripMargin
        case "last" =>
          s"""$f
             |SELECT k, id FROM (SELECT k, id,
             |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts DESC, id DESC) AS rn
             |  FROM f) WHERE rn = 1""".stripMargin
        case "first_ttl" =>
          s"""$f
             |SELECT k, id FROM (SELECT k, id, ts,
             |  lag(ts) OVER (PARTITION BY k ORDER BY ts, id) AS prev
             |  FROM f)
             |WHERE prev IS NULL OR ts - prev > INTERVAL $ttlMinutes MINUTE""".stripMargin
      }
    }
  }

  /** A retractable Top-N case — exercises
    * [[graft.streaming.StreamingRank.topN]] (the analogue of the
    * reference's updatable / retracting top-n functions): filtered
    * events INSERT
    * (id, sort) per key, a random subset UPSERTs with a shifted sort
    * (rank movement in/out of the visible top-n), a random subset
    * DELETEs; the emitted top-n diff changelog folds to the final
    * visible top-n — which must equal a batch ROW_NUMBER restatement
    * with the operator's (sort ASC, id ASC) tie order.
    */
  case class TopNCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      sortSql: String, // BIGINT-valued shared expr
      n: Int,
      updMod: Int,
      updRes: Int,
      updDelta: Long,
      delMod: Int,
      delRes: Int) {

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT CAST($keySql AS STRING) AS k, event_id AS id,
         |    CAST($sortSql AS BIGINT) AS v
         |  FROM e WHERE $filterSql),
         |s AS (SELECT k, id,
         |    CASE WHEN id % $updMod = $updRes THEN v - $updDelta ELSE v END AS v
         |  FROM f WHERE NOT (id % $delMod = $delRes))
         |SELECT k, id, v AS sort FROM (
         |  SELECT k, id, v,
         |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY v, id) AS rn FROM s)
         |WHERE rn <= $n""".stripMargin
  }

  /** A stream–stream join case — exercises
    * [[graft.streaming.OuterJoin.OuterJoinProcessor]] (inner/left/right/
    * full arms; the reference's StreamingJoinOperator null-pad /
    * retract-pad-on-first-match / re-pad-on-last-retraction protocol) and
    * [[graft.streaming.SemiAntiJoin.SemiAntiProcessor]] (semi/anti arms;
    * right-count zero-boundary crossings). Events split by event_id
    * parity into the two sides, each side filtered by its own arm; after
    * the insert replay, the delete-predicate rows RETRACT (right side
    * first, then left — semi/anti retract the right side only, as the
    * operator's left input is append-only). The folded changelog must
    * equal the batch join over surviving rows.
    */
  case class JoinCase(
      seed: Long,
      joinType: String, // inner | left | right | full | semi | anti
      keySql: String, // STRING-valued shared expr (both sides)
      leftFilterSql: String, // on top of event_id % 2 = 0
      rightFilterSql: String, // on top of event_id % 2 = 1
      lDelMod: Int,
      lDelRes: Int,
      rDelMod: Int,
      rDelRes: Int) {

    def isSemiAnti: Boolean = joinType == "semi" || joinType == "anti"

    /** DuckDB restatement: the fold's fixed point IS the batch join over
      * surviving rows. Semi/anti keep every left row (the operator's
      * left input is append-only) and EXISTS/NOT-EXISTS over surviving
      * right rows.
      */
    def oracleSql: String = {
      val e = s"WITH e AS ${Tables.duckEvents},"
      val lDel =
        if (isSemiAnti) ""
        else s" AND NOT (event_id % $lDelMod = $lDelRes)"
      val l = s"""l AS (SELECT CAST($keySql AS STRING) AS k, event_id AS l_id,
        |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS l_cents
        |  FROM e WHERE event_id % 2 = 0 AND ($leftFilterSql)$lDel),""".stripMargin
      val r = s"""r AS (SELECT CAST($keySql AS STRING) AS k, event_id AS r_id
        |  FROM e WHERE event_id % 2 = 1 AND ($rightFilterSql)
        |    AND NOT (event_id % $rDelMod = $rDelRes))""".stripMargin
      val body = joinType match {
        case "inner" =>
          "SELECT l.k AS k, l_id, l_cents, r_id FROM l JOIN r ON l.k = r.k"
        case "left" =>
          "SELECT l.k AS k, l_id, l_cents, r_id FROM l LEFT JOIN r ON l.k = r.k"
        case "right" =>
          "SELECT r.k AS k, l_id, l_cents, r_id FROM l RIGHT JOIN r ON l.k = r.k"
        case "full" =>
          "SELECT COALESCE(l.k, r.k) AS k, l_id, l_cents, r_id\nFROM l FULL JOIN r ON l.k = r.k"
        case "semi" =>
          "SELECT k, l_id FROM l WHERE EXISTS (SELECT 1 FROM r WHERE r.k = l.k)"
        case "anti" =>
          "SELECT k, l_id FROM l WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.k = l.k)"
      }
      s"$e\n$l\n$r\n$body"
    }
  }

  /** An event-time INTERVAL-join case — exercises the stream–stream
    * time-range join (the reference's IntervalJoinOperator,
    * flink-streaming-java/.../co/IntervalJoinOperator.java; Spark's
    * watermarked stream–stream inner join with a time-range condition):
    * right rows join left rows with the same key whose timestamp lies in
    * [l.ts + lo, l.ts + hi]. Bounds may be negative (backward-looking),
    * span zero, or sit strictly forward — the generator draws all three.
    */
  case class IntervalCase(
      seed: Long,
      keySql: String,
      leftFilterSql: String, // on top of event_id % 2 = 0
      rightFilterSql: String, // on top of event_id % 2 = 1
      loMinutes: Int,
      hiMinutes: Int) {

    /** DuckDB restatement: the same range join in exact micros. */
    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |l AS (SELECT CAST($keySql AS STRING) AS k, event_id AS l_id,
         |    epoch_us(ts) AS us
         |  FROM e WHERE event_id % 2 = 0 AND ($leftFilterSql)),
         |r AS (SELECT CAST($keySql AS STRING) AS k, event_id AS r_id,
         |    epoch_us(ts) AS us
         |  FROM e WHERE event_id % 2 = 1 AND ($rightFilterSql))
         |SELECT l.k AS k, l_id, r_id
         |FROM l JOIN r ON l.k = r.k
         |  AND r.us >= l.us + ${loMinutes * 60000000L}
         |  AND r.us <= l.us + ${hiMinutes * 60000000L}""".stripMargin
  }

  /** A WINDOW-join case — exercises the windowed stream–stream equi-join
    * (the reference's window join, WindowJoinOperator /
    * StreamExecWindowJoin: both sides assigned to tumbling windows, rows
    * join only within the same (window, key) slice). Restatement is the
    * time_bucket equi-join — window() aligns minute windows to the epoch
    * exactly as time_bucket does.
    */
  case class WinJoinCase(
      seed: Long,
      keySql: String,
      leftFilterSql: String, // on top of event_id % 2 = 0
      rightFilterSql: String, // on top of event_id % 2 = 1
      winMinutes: Int) {

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |l AS (SELECT time_bucket(INTERVAL $winMinutes MINUTE, ts) AS ws,
         |    CAST($keySql AS STRING) AS k, event_id AS l_id
         |  FROM e WHERE event_id % 2 = 0 AND ($leftFilterSql)),
         |r AS (SELECT time_bucket(INTERVAL $winMinutes MINUTE, ts) AS ws,
         |    CAST($keySql AS STRING) AS k, event_id AS r_id
         |  FROM e WHERE event_id % 2 = 1 AND ($rightFilterSql))
         |SELECT l.ws AS window_start, l.k AS k, l_id, r_id
         |FROM l JOIN r ON l.ws = r.ws AND l.k = r.k""".stripMargin
  }

  /** A streaming OVER-aggregation case — exercises
    * [[graft.streaming.ProcessOps.UnboundedPrecedingOverProcessor]] (the
    * reference's RowTimeRowsUnboundedPrecedingFunction /
    * RowTimeRangeUnboundedPrecedingFunction split): filtered rows emit
    * watermark-driven in event-time order, each carrying the running
    * SUM/COUNT from the start of its key. `rangeMode` draws the RANGE
    * arm, where all rows sharing one (millisecond) timestamp accumulate
    * FIRST and then emit the same aggregate — peers in the SQL RANGE
    * frame sense, which is exactly how the restatement states it.
    */
  case class OverCase(
      seed: Long,
      keySql: String, // STRING-valued shared expr
      filterSql: String,
      valueSql: String, // BIGINT-valued shared expr
      rangeMode: Boolean) {

    def oracleSql: String = {
      val base =
        s"""WITH e AS ${Tables.duckEvents},
           |f AS (SELECT CAST($keySql AS STRING) AS k, ts, event_id,
           |    CAST($valueSql AS BIGINT) AS v
           |  FROM e WHERE $filterSql)""".stripMargin
      // CAST the windowed SUM: DuckDB's SUM(BIGINT) is HUGEINT, which
      // reaches the compare as a float
      if (rangeMode)
        // RANGE peers = equal millisecond timestamp (the operator's
        // buffer key); the default RANGE frame includes peers
        s"""$base
           |SELECT k, epoch_ms(ts) AS ts_ms, v,
           |  CAST(SUM(v) OVER (PARTITION BY k ORDER BY epoch_ms(ts))
           |    AS BIGINT) AS moving_sum,
           |  COUNT(*) OVER (PARTITION BY k ORDER BY epoch_ms(ts)) AS n
           |FROM f""".stripMargin
      else
        s"""$base
           |SELECT k, epoch_ms(ts) AS ts_ms, v,
           |  CAST(SUM(v) OVER (PARTITION BY k ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS moving_sum,
           |  ROW_NUMBER() OVER (PARTITION BY k ORDER BY ts, event_id) AS n
           |FROM f""".stripMargin
    }
  }

  /** A BOUNDED-preceding streaming OVER-aggregation case — exercises
    * [[graft.streaming.ProcessOps.RowsBoundedOverProcessor]] /
    * [[graft.streaming.ProcessOps.RangeBoundedOverProcessor]] (the
    * reference's RowTimeRowsBoundedPrecedingFunction /
    * RowTimeRangeBoundedPrecedingFunction — accumulator + retract-row
    * state, NOT a re-sum per row): filtered rows emit watermark-driven
    * in event-time order, each carrying the trailing-frame SUM/COUNT.
    * The restatements are the exact SQL frames, dialect-shared:
    * `ROWS BETWEEN n-1 PRECEDING AND CURRENT ROW` over (ts, event_id)
    * order for the ROWS arm; `RANGE BETWEEN x PRECEDING AND CURRENT
    * ROW` over the millisecond timestamp (the operator's buffer key —
    * peers = equal ms, horizon inclusive) for the RANGE arm. A wrong
    * retraction (a row never leaving the frame, or leaving twice)
    * diverges from the frame restatement immediately.
    */
  case class BoundedOverCase(
      seed: Long,
      keySql: String, // STRING-valued shared expr
      filterSql: String,
      valueSql: String, // BIGINT-valued shared expr
      rangeMode: Boolean,
      nRows: Int, // ROWS arm frame size (n-1 PRECEDING .. CURRENT ROW)
      rangeMs: Long) { // RANGE arm trailing horizon, ms, inclusive

    def oracleSql: String = {
      val base =
        s"""WITH e AS ${Tables.duckEvents},
           |f AS (SELECT CAST($keySql AS STRING) AS k, ts, event_id,
           |    CAST($valueSql AS BIGINT) AS v
           |  FROM e WHERE $filterSql)""".stripMargin
      // CAST the windowed SUM: DuckDB's SUM(BIGINT) is HUGEINT, which
      // reaches the compare as a float
      if (rangeMode)
        s"""$base
           |SELECT k, epoch_ms(ts) AS ts_ms, v,
           |  CAST(SUM(v) OVER (PARTITION BY k ORDER BY epoch_ms(ts)
           |    RANGE BETWEEN $rangeMs PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS moving_sum,
           |  COUNT(*) OVER (PARTITION BY k ORDER BY epoch_ms(ts)
           |    RANGE BETWEEN $rangeMs PRECEDING AND CURRENT ROW) AS n
           |FROM f""".stripMargin
      else
        s"""$base
           |SELECT k, epoch_ms(ts) AS ts_ms, v,
           |  CAST(SUM(v) OVER (PARTITION BY k ORDER BY ts, event_id
           |    ROWS BETWEEN ${nRows - 1} PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS moving_sum,
           |  COUNT(*) OVER (PARTITION BY k ORDER BY ts, event_id
           |    ROWS BETWEEN ${nRows - 1} PRECEDING AND CURRENT ROW) AS n
           |FROM f""".stripMargin
    }
  }

  /** An event-time temporal/as-of join case — exercises
    * [[graft.streaming.TemporalJoin.TemporalJoinProcessor]] through its
    * stream-stream front door, [[graft.streaming.TemporalJoin.asOfStream]]
    * (the reference's TemporalRowTimeJoinOperator versioned-map-state
    * semantics): version-filter rows build per-key (ts → cents) version
    * histories, probe-filter rows resolve watermark-driven against the
    * version current at their timestamp. The operator keys versions at
    * MILLISECOND granularity and last-write-wins on a (key, ms)
    * collision, so the restatement dedupes versions to the latest
    * (micro-ts, event_id) arrival per (key, ms) before the as-of match.
    */
  case class TemporalCase(
      seed: Long,
      keySql: String, // STRING-valued shared expr (both sides)
      probeFilterSql: String,
      versionFilterSql: String) {

    /** DuckDB restatement via native ASOF LEFT JOIN over the deduped
      * ms-granularity version table; unmatched probes carry the
      * operator's (-1, -1) sentinel.
      */
    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |p AS (SELECT CAST($keySql AS STRING) AS k, epoch_ms(ts) AS pms,
         |    event_id AS probe_id
         |  FROM e WHERE $probeFilterSql),
         |v0 AS (SELECT CAST($keySql AS STRING) AS k, epoch_ms(ts) AS vms,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    ts, event_id
         |  FROM e WHERE $versionFilterSql),
         |v AS (SELECT k, vms, cents FROM (
         |    SELECT k, vms, cents, ROW_NUMBER() OVER (
         |      PARTITION BY k, vms ORDER BY ts DESC, event_id DESC) AS rn
         |    FROM v0) WHERE rn = 1)
         |SELECT p.k AS k, probe_id, COALESCE(v.vms, -1) AS v_ts,
         |  COALESCE(v.cents, -1) AS v_cents
         |FROM p ASOF LEFT JOIN v ON p.k = v.k AND p.pms >= v.vms""".stripMargin
  }

  /** A PROCESSING-TIME temporal-join case — exercises
    * [[graft.streaming.ProcTimeJoin.joinTagged]] (the reference's
    * TemporalProcessTimeJoinOperator: one ValueState version per key,
    * probes join the version current AT ARRIVAL, no watermark). The
    * fuzz replays ONE interleaved tagged stream in (micro-ts, event_id,
    * version-before-probe) order, which pins the operator's
    * element-order contract — so "processing time" restates EXACTLY as
    * arrival index, no virtual clock needed: each probe must see the
    * last version op strictly before it per key, a miss (or a
    * delete-marked version op, which CLEARS the state) null-padding.
    */
  case class PtJoinCase(
      seed: Long,
      keySql: String, // STRING-valued shared expr (both arms)
      probeFilterSql: String,
      versionFilterSql: String,
      delMod: Int,
      delRes: Int) {

    /** DuckDB restatement: tag version rows 0 and probe rows 1, order
      * per key by (ts, event_id, tag) — the replay's exact feed order —
      * and give each probe the latest preceding version op via
      * LAST_VALUE ... IGNORE NULLS over the 1-PRECEDING frame. All
      * three version attributes come from the same row (set together on
      * every version op), so the three separate LAST_VALUEs agree; a
      * delete-marked op clears to the (-1, -1) miss sentinel.
      */
    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |tagged AS (
         |  SELECT CAST($keySql AS STRING) AS k, ts, event_id, 0 AS tag,
         |    FALSE AS is_probe,
         |    (event_id % $delMod = $delRes) AS vdel, event_id AS vid,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS vcents
         |  FROM e WHERE $versionFilterSql
         |  UNION ALL
         |  SELECT CAST($keySql AS STRING) AS k, ts, event_id, 1 AS tag,
         |    TRUE, NULL, NULL, NULL
         |  FROM e WHERE $probeFilterSql),
         |w AS (SELECT k, event_id, is_probe,
         |    LAST_VALUE(CASE WHEN NOT is_probe THEN vdel END IGNORE NULLS)
         |      OVER pw AS p_vdel,
         |    LAST_VALUE(CASE WHEN NOT is_probe THEN vid END IGNORE NULLS)
         |      OVER pw AS p_vid,
         |    LAST_VALUE(CASE WHEN NOT is_probe THEN vcents END IGNORE NULLS)
         |      OVER pw AS p_vcents
         |  FROM tagged
         |  WINDOW pw AS (PARTITION BY k ORDER BY ts, event_id, tag
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT k, event_id AS probe_id,
         |  COALESCE(CASE WHEN p_vdel THEN NULL ELSE p_vid END, -1) AS v_id,
         |  COALESCE(CASE WHEN p_vdel THEN NULL ELSE p_vcents END, -1)
         |    AS v_cents
         |FROM w WHERE is_probe""".stripMargin
  }

  /** A windowed coGroup case — exercises [[graft.streaming.CoGroup]]
    * (the reference's CoGroupedStreams TaggedUnion → one keyed shuffle →
    * per-(key, window) buffers fired together by an event-time timer):
    * the parity split's filtered sides coGroup under a tumbling or
    * sliding window, the callback emitting ONE row per (key, window)
    * fire with both sides' aggregates — including one-sided keys, the
    * semantic that distinguishes coGroup from a join. Restatement: each
    * side aggregates per (window, key), FULL-joined.
    */
  case class CoGroupCase(
      seed: Long,
      keySql: String, // STRING-valued shared expr (both sides)
      leftFilterSql: String, // on top of event_id % 2 = 0
      rightFilterSql: String, // on top of event_id % 2 = 1
      winMinutes: Int,
      slideMinutes: Int) { // == winMinutes for tumbling

    def isSliding: Boolean = slideMinutes != winMinutes

    def oracleSql: String = {
      val e = s"WITH e AS ${Tables.duckEvents},"
      def side(name: String, parity: Int, f: String) =
        s"""$name AS (SELECT CAST($keySql AS STRING) AS k, ts,
           |    event_id AS id,
           |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           |  FROM e WHERE event_id % 2 = $parity AND ($f)),""".stripMargin
      def agg(name: String, src: String, aggSel: String) =
        if (!isSliding)
          s"""$name AS (SELECT time_bucket(INTERVAL $winMinutes MINUTE, ts)
             |    AS ws, k, COUNT(*) AS n, $aggSel
             |  FROM $src GROUP BY 1, 2)""".stripMargin
        else {
          val nCover = winMinutes / slideMinutes
          val starts = (0 until nCover).map(j =>
            s"time_bucket(INTERVAL $slideMinutes MINUTE, ts) - INTERVAL ${j * slideMinutes} MINUTE")
          s"""$name AS (SELECT ws, k, COUNT(*) AS n, $aggSel
             |  FROM $src, UNNEST([${starts.mkString(",\n    ")}]) AS u(ws)
             |  GROUP BY 1, 2)""".stripMargin
        }
      s"""$e
         |${side("l", 0, leftFilterSql)}
         |${side("r", 1, rightFilterSql)}
         |${agg("lw", "l", "CAST(SUM(cents) AS BIGINT) AS c")},
         |${agg("rw", "r", "MAX(id) AS m")}
         |SELECT COALESCE(lw.ws, rw.ws) AS window_start,
         |  COALESCE(lw.k, rw.k) AS k,
         |  CAST(COALESCE(lw.n, 0) AS BIGINT) AS l_n,
         |  CAST(COALESCE(rw.n, 0) AS BIGINT) AS r_n,
         |  CAST(COALESCE(lw.c, 0) AS BIGINT) AS l_cents,
         |  CAST(COALESCE(rw.m, -1) AS BIGINT) AS r_max_id
         |FROM lw FULL JOIN rw ON lw.ws = rw.ws AND lw.k = rw.k""".stripMargin
    }
  }

  /** The coGroup case for a seed — a pure function of the seed. Window
    * widths divide a day; slides divide the width (bucket alignment).
    */
  def genCoGroup(seed: Long): CoGroupCase = {
    val r = new Random(scramble(seed ^ 0xc0640bL))
    val keySql = r.nextInt(3) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => s"CAST(user_id % ${Seq(7, 11)(r.nextInt(2))} AS STRING)"
      case 2 => "CONCAT(CAST(user_id AS STRING), '#', event_type)"
    }
    val leftFilterSql = basePredOf(r)
    val rightFilterSql = basePredOf(r)
    val (win, slide) =
      if (r.nextInt(2) == 0) { // sliding
        val w = Seq(60, 120)(r.nextInt(2))
        (w, Seq(w / 2, w / 3)(r.nextInt(2)))
      } else {
        val w = Seq(30, 60, 120)(r.nextInt(3))
        (w, w)
      }
    require(1440 % win == 0 && win % slide == 0,
      s"coGroup win=$win/slide=$slide must align buckets")
    CoGroupCase(seed, keySql, leftFilterSql, rightFilterSql, win, slide)
  }

  /** An allowed-lateness window case — exercises
    * [[graft.streaming.AllowedLateness.LatenessWindowProcessor]] (the
    * reference's WindowedStream.allowedLateness + sideOutputLateData:
    * fired windows stay alive for `lateness`, re-fire per allowed-late
    * element, and route later elements to a side output): the filtered
    * base replays ascending, then the resend-predicate rows REPLAY with
    * fresh ids in one batch — each classifying, by exact ms arithmetic
    * shared with the oracle, as allowed-late (window count +1 via
    * -U/+U re-fire) or too-late (side-output row). The watermark delay
    * D = window + lateness + slack inflates the engine watermark so the
    * whole too-late band stays processor-visible; resent rows within 1 s
    * of the engine-filter boundary are excluded on BOTH sides (the
    * ms-truncated engine boundary is the one comparison the two engines
    * can't share exactly).
    */
  case class LatenessCase(
      seed: Long,
      filterSql: String,
      winMinutes: Int,
      latenessMult: Int, // lateness = latenessMult * window
      slackMult: Int, // slack = slackMult * window
      reMod: Int,
      reRes: Int) {

    def windowMs: Long = winMinutes * 60000L
    def latenessMs: Long = latenessMult * windowMs
    def delayMs: Long = windowMs + latenessMs + slackMult * windowMs
    def idOff: Long = 9000000L

    def oracleSql: String = {
      val w = windowMs
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT event_id, event_type, ts, epoch_ms(ts) AS tms,
         |    epoch_ms(time_bucket(INTERVAL $winMinutes MINUTE, ts)) AS ws
         |  FROM e WHERE $filterSql),
         |mx AS (SELECT epoch_ms(MAX(ts)) AS m FROM f),
         |re AS (SELECT f.*, (ws <= m - ${w + latenessMs}) AS too_late
         |  FROM f, mx
         |  WHERE event_id % $reMod = $reRes AND tms >= m - $delayMs + 1000),
         |counted AS (SELECT event_type, ws FROM f
         |  UNION ALL SELECT event_type, ws FROM re WHERE NOT too_late)
         |SELECT FALSE AS late, event_type, CAST(ws AS BIGINT) AS ws_ms,
         |  COUNT(*) AS n, CAST(-1 AS BIGINT) AS id
         |FROM counted GROUP BY 2, 3
         |UNION ALL
         |SELECT TRUE, event_type, CAST(ws AS BIGINT), CAST(-1 AS BIGINT),
         |  event_id + $idOff
         |FROM re WHERE too_late""".stripMargin
    }
  }

  /** The lateness case for a seed — a pure function of the seed. Window
    * widths divide a day (epoch-aligned buckets on both engines).
    */
  def genLateness(seed: Long): LatenessCase = {
    val r = new Random(scramble(seed ^ 0x1a7e4e55L))
    val filterSql = basePredOf(r)
    val win = Seq(30, 60, 120)(r.nextInt(3))
    val latenessMult = 1 + r.nextInt(3)
    val slackMult = 1 + r.nextInt(2)
    val reMod = 2 + r.nextInt(4)
    val reRes = r.nextInt(reMod)
    LatenessCase(seed, filterSql, win, latenessMult, slackMult, reMod, reRes)
  }

  /** A watermark-IDLENESS case — exercises [[graft.streaming.WatermarkMux]]
    * (the reference's WatermarkStrategy.withIdleness:147 over
    * WatermarkOutputMultiplexer): users split into `nSources` source
    * partitions by `user_id % nSources`; each STALLED source stops
    * sending at its cutoff (a sixteenth of the event-time span), the
    * rest run to the end. Rounds are equal TIME SLICES of the span, so
    * an active source appears in every round until its data ends (never
    * spuriously idle) and a stalled source is silent from its cutoff
    * slice on — marked idle after `idleTimeoutRounds` rounds and
    * released from the combined-watermark min. The sentinel that closes
    * the tail windows goes ONLY to unstalled sources: if idle marking
    * were broken, the stalled source's last timestamp would pin the
    * clock forever and every window past the cutoff would be MISSING
    * from the output — the restatement (tumble counts over exactly the
    * sent rows) is the bite.
    *
    * Validity (asserted per seed in the spec, not assumed): every
    * active source occupies every slice up to its data end, and every
    * stalled source is silent for ≥ idleTimeoutRounds rounds before the
    * sentinel — together these guarantee no row is ever late under the
    * combined clock, which is what makes the sent-rows restatement
    * exact. Window widths divide a day; the cutoff compare is
    * multiplication-only integer arithmetic (shared exactly by both
    * engines).
    */
  case class IdleCase(
      seed: Long,
      nSources: Int,
      cutoffs: Vector[Option[Int]], // per source, in sixteenths of span
      delayMinutes: Int, // bounded out-of-orderness of the partial wms
      idleTimeoutRounds: Int,
      winMinutes: Int,
      rounds: Int) {

    def windowUs: Long = winMinutes * 60000000L

    /** Sent-rows predicate over (user_id, us, mn, mx) — dialect-shared. */
    def sentPredSql: String = cutoffs.zipWithIndex.map {
      case (Some(c), j) =>
        s"(user_id % $nSources = $j AND us * 16 < mn * 16 + (mx - mn) * $c)"
      case (None, j) => s"(user_id % $nSources = $j)"
    }.mkString("(", " OR ", ")")

    /** Restatement over a caller-supplied normalized CTE producing
      * (user_id, us, event_type); the text below the prefix is
      * dialect-shared (no division, no time_bucket — window starts are
      * epoch-micros BIGINTs).
      */
    def restatement(cev: String): String =
      s"""WITH e AS ($cev),
         |c AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e)
         |SELECT us - (us % $windowUs) AS ws_us, event_type, COUNT(*) AS n
         |FROM e, c
         |WHERE $sentPredSql
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin

    def oracleSql: String = restatement(
      s"SELECT user_id, epoch_us(ts) AS us, event_type FROM ${Tables.duckEvents}")

    /** Data-dependent validity check — Some(reason) when this case's
      * occupancy/silent-rounds preconditions fail on the actual rows
      * ((user_id, us epoch-micros) pairs), None when the restatement is
      * exact. The generator's bounds make validity LIKELY, not certain
      * (a sparse source can still leave a mid-stream slice empty), so
      * every consumer that trusts the oracle — the spec's seeds, the
      * promoted row, and FuzzDump's arbitrary sweep ranges — must
      * run this first: an invalid seed diverges from its oracle by
      * construction, not because the engine is wrong.
      */
    def invalidReason(rows: Iterable[(Long, Long)]): Option[String] = {
      if (rows.isEmpty) return Some("no rows")
      var mn = Long.MaxValue
      var mx = Long.MinValue
      rows.foreach { case (_, us) =>
        if (us < mn) mn = us
        if (us > mx) mx = us
      }
      val span = mx - mn + 1
      val occupancy = Array.fill(nSources, rounds)(false)
      rows.foreach { case (u, us) =>
        val j = Math.floorMod(u, nSources.toLong).toInt
        val sent = cutoffs(j) match {
          case Some(cut) => us * 16 < mn * 16 + (mx - mn) * cut
          case None => true
        }
        if (sent) {
          val slice = math.min(rounds - 1, ((us - mn) * rounds / span).toInt)
          occupancy(j)(slice) = true
        }
      }
      (0 until nSources).iterator.map { j =>
        val last = occupancy(j).lastIndexOf(true)
        if (last < 0) Some(s"source $j sent nothing")
        else if (!(0 to last).forall(occupancy(j)))
          Some(s"source $j has an empty mid-stream slice — " +
            "spuriously idle, restatement invalid")
        else if (cutoffs(j).isDefined && rounds - 1 - last < idleTimeoutRounds)
          Some(s"stalled source $j has only ${rounds - 1 - last} silent " +
            s"rounds before the sentinel (< $idleTimeoutRounds) — " +
            "idleness would never trip")
        else None
      }.collectFirst { case Some(r) => r }
    }
  }

  /** The idleness case for a seed — a pure function of the seed. The
    * bounds keep the validity guarantees structural: cutoffs ≤ 10/16
    * with rounds ≥ 6 leave every stalled source ≥ 2 silent rounds
    * before the sentinel, so idleTimeoutRounds ≤ 2 always trips.
    */
  def genIdle(seed: Long): IdleCase = {
    val r = new Random(scramble(seed ^ 0x1d7e5a3L))
    val nSources = 2 + r.nextInt(2)
    // at least one stalled and one unstalled source
    val stalledIdx = r.nextInt(nSources)
    val cutoffs = Vector.tabulate(nSources) { j =>
      if (j == stalledIdx || r.nextInt(3) == 0) Some(4 + r.nextInt(7))
      else None
    }
    val fixed =
      if (cutoffs.forall(_.isDefined))
        cutoffs.updated((stalledIdx + 1) % nSources, None)
      else cutoffs
    val delay = Seq(0, 10, 30)(r.nextInt(3))
    val k = 1 + r.nextInt(2)
    val win = Seq(30, 60, 90, 120, 240)(r.nextInt(5))
    val rounds = 6 + r.nextInt(3)
    IdleCase(seed, nSources, fixed, delay, k, win, rounds)
  }

  /** A watermark-ALIGNMENT case — exercises
    * [[graft.streaming.WatermarkMux.alignRounds]] (the reference's
    * WatermarkStrategy.withWatermarkAlignment:168 — the source
    * coordinator pauses splits that run more than maxDrift ahead of the
    * group minimum): an UNBALANCED split (the fast source carries 1/mod
    * of the users, so its event-time advances ~mod× faster per released
    * row) drains under a randomized drift cap and round size, then
    * replays through the stamped-clock tumble operator. Alignment must
    * change PACING only: a lost, duplicated, or clock-outrun row
    * diverges the counts from the full-tumble restatement.
    */
  case class WmAlignCase(
      seed: Long,
      mod: Int, // fast source = user_id % mod == 0
      driftDiv: Int, // maxDrift = span / driftDiv
      roundsDiv: Int, // rowsPerRound = max(1, slowRows / roundsDiv)
      winMinutes: Int) {

    def windowUs: Long = winMinutes * 60000000L

    def restatement(cev: String): String =
      s"""WITH e AS ($cev)
         |SELECT us - (us % $windowUs) AS ws_us, event_type, COUNT(*) AS n
         |FROM e
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin

    def oracleSql: String = restatement(
      s"SELECT user_id, epoch_us(ts) AS us, event_type FROM ${Tables.duckEvents}")
  }

  /** The alignment case for a seed — a pure function of the seed. */
  def genWmAlign(seed: Long): WmAlignCase = {
    val r = new Random(scramble(seed ^ 0xa119a4e7L))
    val mod = 3 + r.nextInt(3)
    val driftDiv = Seq(6, 10, 20)(r.nextInt(3))
    val roundsDiv = 4 + r.nextInt(5)
    val win = Seq(30, 60, 90, 120, 240)(r.nextInt(5))
    WmAlignCase(seed, mod, driftDiv, roundsDiv, win)
  }

  /** A BROADCAST-STATE case — exercises
    * [[graft.streaming.ConnectedStreams.BroadcastRulesProcessor]] (the
    * reference's KeyedBroadcastProcessFunction rules pattern — a
    * control stream PUTs/REMOVEs named rules in broadcast MapState;
    * data rows are evaluated against every live rule): events matching
    * `ctrlFilterSql` become control ops (rule name = event_id mod
    * `nRules`, REMOVE when event_id mod `delMod` hits `delRes`, else
    * PUT with version = event_id and a value-colliding threshold);
    * events matching `dataFilterSql` are data rows. Both replay as ONE
    * interleaved tagged stream in (ts, event_id, control-before-data)
    * order, so the order-sensitive surface the hand row under-covers —
    * rule updates interleaving with data rows — is exactly what each
    * seed randomizes, and "processing time" restates as arrival index
    * (the genPtJoin discipline). The coarse key expressions put MANY
    * users behind one rule key: data crosses rule boundaries.
    */
  case class BcCase(
      seed: Long,
      keySql: String, // coarse STRING-valued rule-key expr (both arms)
      ctrlFilterSql: String,
      dataFilterSql: String,
      nRules: Int,
      delMod: Int,
      delRes: Int) {

    /** Rule-name SQL list for the restatement's probe cross join. */
    private def namesSql: String =
      (0 until nRules).map(i => s"SELECT 'r$i' AS rule")
        .mkString(" UNION ALL ")

    /** Restatement over a caller-supplied normalized CTE producing
      * (event_id, user_id, ts TIMESTAMP, event_type, value); the text
      * below the prefix is dialect-shared. Each data row × rule name
      * takes the LAST preceding control op for that rule on the (ts,
      * event_id, control-before-data) arrival timeline; it passes when
      * that op is a live PUT and the row's cents exceed the threshold;
      * a row passing nothing emits the `__none` sentinel.
      */
    def restatement(cev: String): String =
      s"""WITH e AS ($cev),
         |ctrl AS (SELECT CAST($keySql AS STRING) AS k, ts, event_id,
         |    CONCAT('r', CAST(event_id % $nRules AS STRING)) AS rule,
         |    (event_id % $delMod = $delRes) AS is_del,
         |    event_id AS version,
         |    CAST((1 + event_id % 9) * 2500 AS BIGINT) AS thr
         |  FROM e WHERE $ctrlFilterSql),
         |names AS ($namesSql),
         |dat AS (SELECT CAST($keySql AS STRING) AS k, ts, event_id,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
         |  FROM e WHERE $dataFilterSql),
         |timeline AS (
         |  SELECT k, rule, ts, event_id, 0 AS tag, FALSE AS is_probe,
         |    is_del, version, thr, CAST(NULL AS BIGINT) AS cents,
         |    CAST(NULL AS BIGINT) AS data_id
         |  FROM ctrl
         |  UNION ALL
         |  SELECT dat.k, names.rule, ts, event_id, 1, TRUE,
         |    CAST(NULL AS BOOLEAN), CAST(NULL AS BIGINT),
         |    CAST(NULL AS BIGINT), cents, event_id
         |  FROM dat CROSS JOIN names),
         |tpos AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k, rule
         |    ORDER BY ts, event_id, tag) AS opos
         |  FROM timeline),
         |lastop AS (SELECT k, rule, is_probe, cents, data_id,
         |    MAX(CASE WHEN NOT is_probe THEN opos END) OVER (
         |      PARTITION BY k, rule ORDER BY opos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lp
         |  FROM tpos),
         |p AS (SELECT l.k, l.data_id, l.rule, c.version AS p_ver,
         |    c.thr AS p_thr,
         |    (COALESCE(c.is_del, TRUE) = FALSE AND l.cents > c.thr) AS pass
         |  FROM lastop l LEFT JOIN tpos c
         |    ON c.k = l.k AND c.rule = l.rule AND c.opos = l.lp
         |  WHERE l.is_probe)
         |SELECT k, data_id, rule AS rule_name, p_ver AS version,
         |  p_thr AS thr_cents
         |FROM p WHERE pass
         |UNION ALL
         |SELECT k, data_id, '__none' AS rule_name,
         |  CAST(-1 AS BIGINT) AS version, CAST(-1 AS BIGINT) AS thr_cents
         |FROM p GROUP BY k, data_id
         |HAVING MAX(CASE WHEN pass THEN 1 ELSE 0 END) = 0
         |ORDER BY k, data_id, rule_name""".stripMargin

    def oracleSql: String =
      restatement(s"SELECT * FROM ${Tables.duckEvents}")
  }

  /** A TEMPORAL-SORT case — exercises
    * [[graft.streaming.TemporalSort]] (the reference's
    * StreamExecTemporalSort / RowTimeSortOperator: watermark-ordered
    * re-emission, arrival order within equal timestamps) chained into
    * a per-key emission-sequence stamper, so emission ORDER becomes a
    * checkable VALUE. Event times are QUANTIZED to `quantMinutes`
    * buckets — many rows share one buffered timestamp, the
    * per-timestamp list-append path — and each of the 3 contiguous
    * replay chunks is SCRAMBLED by the shared (id·131) mod 997 hash,
    * bounded disorder the sort must undo. The expected sequence is
    * ROW_NUMBER over (quantized ts, chunk, hash, id): a dropped,
    * duplicated, or out-of-order emission shifts every later seq.
    */
  case class TsortCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      quantMinutes: Int,
      delayMinutes: Int) {

    def quantUs: Long = quantMinutes * 60000000L

    /** Restatement over a caller-supplied normalized CTE producing
      * (event_id, user_id, us epoch-micros, event_type, value); the
      * text below the prefix is dialect-shared. Chunk boundaries mirror
      * the replay's chunks(rows, 3) = ceil(n/3)-sized groups; FLOOR of
      * double division is exact at these magnitudes in both engines.
      */
    def restatement(cev: String): String =
      s"""WITH e AS ($cev),
         |f AS (SELECT CAST($keySql AS STRING) AS k, event_id, us
         |  FROM e WHERE $filterSql),
         |q AS (SELECT k, event_id, us - us % $quantUs AS qus,
         |    ROW_NUMBER() OVER (ORDER BY us, event_id) AS rn
         |  FROM f),
         |n AS (SELECT GREATEST(CAST(CEIL(COUNT(*) / 3.0) AS BIGINT), 1)
         |    AS csz FROM f),
         |c AS (SELECT k, event_id, qus,
         |    CAST(FLOOR((rn - 1) / csz) AS BIGINT) AS chunk
         |  FROM q, n)
         |SELECT k, event_id AS id, CAST(ROW_NUMBER() OVER (PARTITION BY k
         |    ORDER BY qus, chunk, (event_id * 131) % 997, event_id)
         |  AS BIGINT) AS seq
         |FROM c
         |ORDER BY k, id""".stripMargin

    def oracleSql: String = restatement(
      s"""SELECT event_id, user_id, epoch_us(ts) AS us,
         |    event_type, value
         |  FROM ${Tables.duckEvents}""".stripMargin)
  }

  /** The temporal-sort case for a seed — a pure function of the seed. */
  def genTsort(seed: Long): TsortCase = {
    val r = new Random(scramble(seed ^ 0x50b27a7eL))
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => s"CAST(user_id % ${Seq(7, 11)(r.nextInt(2))} AS STRING)"
      case 2 => "CONCAT(CAST(user_id % 5 AS STRING), '#', event_type)"
    }
    val quant = Seq(1, 5, 15)(r.nextInt(3))
    val delay = Seq(30, 60, 120)(r.nextInt(3))
    TsortCase(seed, filterSql, keySql, quant, delay)
  }

  /** A FAST TOP-1 / APPEND FIRST-N case — exercises
    * [[graft.streaming.StatefulOps.FastTop1Processor]] (the
    * reference's FastTop1Function: ONE (sort, id) champion per key,
    * -U/+U dethronings) and
    * [[graft.streaming.StatefulOps.AppendOnlyFirstNProcessor]]
    * (AppendOnlyFirstNFunction: the first n arrivals per key, counter
    * state only) under random keys, filters, sorts (incl. tie-bearing
    * cents), and n. Folded changelog restates as ROW_NUMBER() = 1 over
    * (sort, id), or ≤ n over arrival (us, id).
    */
  case class T1Case(
      seed: Long,
      arm: String, // "top1" | "firstn"
      filterSql: String,
      keySql: String,
      sortSql: String, // top1 arm only
      n: Int) { // firstn arm only

    /** Restatement over a caller-supplied normalized CTE producing
      * (event_id, user_id, us epoch-micros, event_type, value).
      */
    def restatement(cev: String): String =
      if (arm == "top1")
        s"""WITH e AS ($cev),
           |f AS (SELECT CAST($keySql AS STRING) AS k, event_id,
           |    CAST($sortSql AS BIGINT) AS srt
           |  FROM e WHERE $filterSql)
           |SELECT k, event_id AS id, srt
           |FROM (SELECT k, event_id, srt, ROW_NUMBER() OVER (
           |    PARTITION BY k ORDER BY srt, event_id) AS rn FROM f)
           |WHERE rn = 1
           |ORDER BY k, id""".stripMargin
      else
        s"""WITH e AS ($cev),
           |f AS (SELECT CAST($keySql AS STRING) AS k, event_id, us
           |  FROM e WHERE $filterSql)
           |SELECT k, event_id AS id, us AS srt
           |FROM (SELECT k, event_id, us, ROW_NUMBER() OVER (
           |    PARTITION BY k ORDER BY us, event_id) AS rn FROM f)
           |WHERE rn <= $n
           |ORDER BY k, id""".stripMargin

    def oracleSql: String = restatement(
      s"""SELECT event_id, user_id, epoch_us(ts) AS us,
         |    event_type, value
         |  FROM ${Tables.duckEvents}""".stripMargin)
  }

  /** The Top-1/First-N case for a seed — a pure function of the seed. */
  def genT1(seed: Long): T1Case = {
    val r = new Random(scramble(seed ^ 0x7a51f00dL))
    val arm = if (r.nextInt(2) == 0) "top1" else "firstn"
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    // cents and mod-bucket sorts collide across rows — deliberate
    // (sort, id) tiebreak coverage for the champion compare (the mod
    // arm guarantees dense ties, incl. at the minimum); event_id sorts
    // are unique
    val sortSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      case 2 => "(event_id % 50) * 100"
    }
    val n = 1 + r.nextInt(5)
    T1Case(seed, arm, filterSql, keySql, sortSql, n)
  }

  /** The broadcast-state case for a seed — a pure function of the seed.
    * Keys are deliberately COARSE (mod buckets or event_type) so one
    * rule key aggregates many users' data rows; thresholds collide
    * with the cents distribution so pass/fail flips per rule.
    */
  def genBroadcast(seed: Long): BcCase = {
    val r = new Random(scramble(seed ^ 0xb40adca5L))
    val keySql = r.nextInt(3) match {
      case 0 => s"CAST(user_id % ${Seq(5, 7, 11)(r.nextInt(3))} AS STRING)"
      case 1 => "event_type"
      case 2 => s"CONCAT(event_type, '#', CAST(user_id % 3 AS STRING))"
    }
    val ctrlFilterSql = basePredOf(r)
    val dataFilterSql = basePredOf(r)
    val nRules = 2 + r.nextInt(3)
    val delMod = 3 + r.nextInt(4)
    val delRes = r.nextInt(delMod)
    BcCase(seed, keySql, ctrlFilterSql, dataFilterSql, nRules, delMod, delRes)
  }

  private val eventTypes =
    Seq("click", "purchase", "view", "signup", "error")

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  /** SplitMix64 finalizer: java.util.Random's seed scrambling is one
    * LCG step, so ADJACENT raw seeds produce correlated first draws —
    * with a power-of-two bound (which reads the high bits) seeds 1..30
    * all drew the same filter arm before this mix. Shared by every
    * seeded fuzz generator and spec (here, [[CepFuzzGen]], the wire-codec
    * fuzz) so the seed contract can't silently diverge between families —
    * public, not duplicated.
    */
  def scramble(s: Long): Long = {
    var z = s + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Shared filter-arm pool (draw order is part of each family's seed
    * contract — do not reorder arms). Package-visible: the CDC-dialect
    * family ([[CdcFuzzGen]]) shares the pool.
    */
  private[queries] def basePredOf(r: Random): String = r.nextInt(4) match {
    case 0 =>
      val n = 1 + r.nextInt(3)
      val types = r.shuffle(eventTypes).take(n).sorted
      s"event_type IN (${types.map(t => s"'$t'").mkString(", ")})"
    case 1 =>
      val m = 2 + r.nextInt(5)
      s"(user_id % $m) = ${r.nextInt(m)}"
    case 2 =>
      // events.value spans ~0–330 at every SF (same generator
      // distribution); thresholds stay inside it so the arm keeps rows
      s"CAST(value AS DECIMAL(12,2)) >= ${25 + r.nextInt(200)}.00"
    case 3 =>
      val m = 2 + r.nextInt(4)
      s"((user_id % $m) = ${r.nextInt(m)} OR event_type = '${pick(r, eventTypes)}')"
  }

  /** The case for a seed — a pure function of the seed. */
  def gen(seed: Long): Case = {
    val r = new Random(scramble(seed))

    // filter: always ends with OR user_id = -1 so the replay's
    // watermark-flush sentinel (user_id = -1, far-future ts) survives
    // any predicate; the batch/oracle sides have no such rows, so the
    // clause is semantically inert there. The sentinel's own window
    // never fires (nothing later advances the watermark past it), so it
    // never reaches output on the streaming side either.
    val basePred = basePredOf(r)
    val filterSql = s"($basePred) OR user_id = -1"

    val keyPool = Seq(
      ("event_type", "k_type"),
      (s"(user_id % ${Seq(3, 5, 7, 11)(r.nextInt(4))})", "k_user"))
    val keys = r.nextInt(3) match {
      case 0 => Seq(keyPool.head)
      case 1 => Seq(keyPool(1))
      case 2 => keyPool
    }

    val (winMin, slideMin) =
      if (r.nextInt(3) == 0) { // hopping, slide = size/2
        val w = Seq(30, 60, 120)(r.nextInt(3))
        (w, w / 2)
      } else {
        val w = Seq(10, 30, 60, 120)(r.nextInt(4))
        (w, w)
      }

    // exact-arithmetic aggregate pool (cents as BIGINT; the one DOUBLE
    // is a final cast of an exact decimal sum)
    val aggPool = Seq(
      ("COUNT(*)", "n"),
      ("CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)", "sum_value"),
      ("CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)", "sum_cents"),
      ("MIN(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))", "min_cents"),
      ("MAX(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))", "max_cents"),
      ("CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)", "n_purchase"))
    val nAggs = 1 + r.nextInt(3)
    val aggs = r.shuffle(aggPool).take(nAggs).sortBy(_._2)

    Case(seed, filterSql, keys, winMin, slideMin, aggs)
  }

  /** The session case for a seed — a pure function of the seed. The
    * family constant decorrelates it from `gen`'s draws at equal seeds.
    */
  def genSession(seed: Long): SessionCase = {
    val r = new Random(scramble(seed ^ 0x5e5510aL))
    // same sentinel contract as gen: OR user_id = -1 keeps the flush
    // row alive through any filter; its session key is negative /
    // "flush", disjoint from every real key, and the replay drops
    // event_id < 0 from the output
    val filterSql = s"(${basePredOf(r)}) OR user_id = -1"
    val keys = r.nextInt(3) match {
      case 0 => Seq(("user_id", "k_u"))
      case 1 => Seq((s"(user_id % ${Seq(3, 5, 7)(r.nextInt(3))})", "k_m"))
      case 2 => Seq(("user_id", "k_u"), ("event_type", "k_t"))
    }
    val gap = Seq(20, 45, 90)(r.nextInt(3))
    SessionCase(seed, filterSql, keys, gap)
  }

  /** The retract case for a seed — a pure function of the seed. No
    * sentinel clause: the retract replay is TimeMode.None (no
    * watermark), so the filter is the bare arm.
    */
  def genRetract(seed: Long): RetractCase = {
    val r = new Random(scramble(seed ^ 0x4e74ac7L))
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val valueSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)" // cents
      case 2 => "event_id - 100000" // negative-heavy sums/extremes
    }
    val deleteMod = 2 + r.nextInt(5)
    val deleteRes = r.nextInt(deleteMod)
    val op = Seq("sum", "min", "max")(r.nextInt(3))
    RetractCase(seed, filterSql, keySql, valueSql, deleteMod, deleteRes, op)
  }

  /** The dedup case for a seed — a pure function of the seed. */
  def genDedup(seed: Long): DedupCase = {
    val r = new Random(scramble(seed ^ 0xded0b15L))
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(5, 11, 17)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val mode = Seq("first", "last", "first_ttl")(r.nextInt(3))
    // short gaps make islands plentiful at every SF
    val ttl = Seq(10, 30, 90)(r.nextInt(3))
    DedupCase(seed, filterSql, keySql, mode, ttl)
  }

  /** The join case for a seed — a pure function of the seed. Keys stay
    * per-user (optionally refined by event_type) so per-key join fan-out
    * is bounded by one user's events — the shape a keyed production join
    * takes — rather than a modulus merging hundreds of users into one
    * hot key.
    */
  def genJoin(seed: Long): JoinCase = {
    val r = new Random(scramble(seed ^ 0x1015e7L))
    val joinType =
      Seq("inner", "left", "right", "full", "semi", "anti")(r.nextInt(6))
    val keySql = r.nextInt(2) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => "CONCAT(CAST(user_id AS STRING), '#', event_type)"
    }
    val leftFilterSql = basePredOf(r)
    val rightFilterSql = basePredOf(r)
    val lDelMod = 2 + r.nextInt(5)
    val lDelRes = r.nextInt(lDelMod)
    val rDelMod = 2 + r.nextInt(5)
    val rDelRes = r.nextInt(rDelMod)
    JoinCase(seed, joinType, keySql, leftFilterSql, rightFilterSql,
      lDelMod, lDelRes, rDelMod, rDelRes)
  }

  /** The interval case for a seed — a pure function of the seed. */
  def genInterval(seed: Long): IntervalCase = {
    val r = new Random(scramble(seed ^ 0x17e4a1L))
    val keySql = r.nextInt(2) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => "CONCAT(CAST(user_id AS STRING), '#', event_type)"
    }
    val leftFilterSql = basePredOf(r)
    val rightFilterSql = basePredOf(r)
    val lo = Seq(-120, -60, -30, 0, 15)(r.nextInt(5))
    val hi = lo + Seq(15, 30, 60, 120)(r.nextInt(4))
    IntervalCase(seed, keySql, leftFilterSql, rightFilterSql, lo, hi)
  }

  /** The streaming-OVER case for a seed — a pure function of the seed. */
  def genOver(seed: Long): OverCase = {
    val r = new Random(scramble(seed ^ 0x0e30a9L))
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val filterSql = basePredOf(r)
    val valueSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      case 2 => "event_id - 100000" // negative-heavy running sums
    }
    OverCase(seed, keySql, filterSql, valueSql, rangeMode = r.nextInt(2) == 0)
  }

  /** The BOUNDED-preceding streaming-over case for a seed — a pure
    * function of the seed. Frame sizes are drawn small enough that
    * retraction happens constantly (nRows ≤ 6; range horizons well
    * under the events table's time span), so the accumulator's
    * retract path is the hot path, not a corner.
    */
  def genBoundedOver(seed: Long): BoundedOverCase = {
    val r = new Random(scramble(seed ^ 0xb0de40eL))
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    val filterSql = basePredOf(r)
    val valueSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      case 2 => "event_id - 100000" // negative-heavy running sums
    }
    val rangeMode = r.nextInt(2) == 0
    val nRows = 2 + r.nextInt(5)
    val rangeMs = Seq(30000L, 120000L, 600000L, 3600000L)(r.nextInt(4))
    BoundedOverCase(seed, keySql, filterSql, valueSql, rangeMode, nRows,
      rangeMs)
  }

  /** The window-join case for a seed — a pure function of the seed. */
  def genWinJoin(seed: Long): WinJoinCase = {
    val r = new Random(scramble(seed ^ 0x31d01aL))
    val keySql = r.nextInt(2) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => "CONCAT(CAST(user_id AS STRING), '#', event_type)"
    }
    val leftFilterSql = basePredOf(r)
    val rightFilterSql = basePredOf(r)
    val win = Seq(30, 60, 120)(r.nextInt(3))
    // the oracle equates DuckDB time_bucket (origin 2000-01-03, a Monday
    // midnight) with Spark window() (epoch-aligned); the two agree only
    // for widths dividing a whole day — a 7- or 25-minute width would
    // silently misalign the restatement
    require(1440 % win == 0,
      s"window-join width $win must divide 1440 minutes (oracle alignment)")
    WinJoinCase(seed, keySql, leftFilterSql, rightFilterSql, win)
  }

  /** The temporal case for a seed — a pure function of the seed. The
    * mod-keyed arms merge several users' version histories into one key,
    * interleaving independent version chains through one MapState.
    */
  def genTemporal(seed: Long): TemporalCase = {
    val r = new Random(scramble(seed ^ 0x7e390a1L))
    val keySql = r.nextInt(3) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => s"CAST(user_id % ${Seq(7, 11)(r.nextInt(2))} AS STRING)"
      case 2 => "CONCAT(CAST(user_id % 5 AS STRING), '#', event_type)"
    }
    val probeFilterSql = basePredOf(r)
    val versionFilterSql = basePredOf(r)
    TemporalCase(seed, keySql, probeFilterSql, versionFilterSql)
  }

  /** The proc-time join case for a seed — a pure function of the seed.
    * Mod-keyed arms interleave several users' version chains through
    * one ValueState; the delete arm lands clears between upserts.
    */
  def genPtJoin(seed: Long): PtJoinCase = {
    val r = new Random(scramble(seed ^ 0x97901eL))
    val keySql = r.nextInt(3) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => s"CAST(user_id % ${Seq(7, 11)(r.nextInt(2))} AS STRING)"
      case 2 => "CONCAT(CAST(user_id % 5 AS STRING), '#', event_type)"
    }
    val probeFilterSql = basePredOf(r)
    val versionFilterSql = basePredOf(r)
    val delMod = 3 + r.nextInt(5)
    val delRes = r.nextInt(delMod)
    PtJoinCase(seed, keySql, probeFilterSql, versionFilterSql, delMod, delRes)
  }

  /** The Top-N case for a seed — a pure function of the seed. */
  def genTopN(seed: Long): TopNCase = {
    val r = new Random(scramble(seed ^ 0x70b9e31L))
    val filterSql = basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5, 7)(r.nextInt(3))} AS STRING)"
      case 2 =>
        s"CONCAT(event_type, '#', CAST(user_id % ${2 + r.nextInt(3)} AS STRING))"
    }
    // cents sorts collide across rows — deliberate tie coverage for the
    // operator's (sort, id) order; event_id sorts are unique
    val sortSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      case 2 => "event_id - 100000"
    }
    val n = 1 + r.nextInt(5)
    val updMod = 2 + r.nextInt(4)
    val updRes = r.nextInt(updMod)
    val updDelta = 100L + r.nextInt(5000)
    val delMod = 2 + r.nextInt(5)
    val delRes = r.nextInt(delMod)
    TopNCase(seed, filterSql, keySql, sortSql, n,
      updMod, updRes, updDelta, delMod, delRes)
  }
}
