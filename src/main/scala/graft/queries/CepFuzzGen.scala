package graft.queries

import scala.util.Random

import graft.Tables

/** Seeded random generator for CEP differential cases — fuzzes the NFA
  * ([[graft.cep.NFA]] / [[graft.cep.CEP.batch]], the reference's
  * CepOperator analogue) with random strict-contiguity patterns the
  * hand-written `q_cep_*` rows can't enumerate: 2–3 steps, each a
  * random predicate over event_type / exact cents / event_id residues,
  * with or without a `within` window.
  *
  * Strict `next` steps under `AfterMatchSkip.SkipToNext` (greedy branch
  * per anchor, every start position tried) make the match set exactly
  * restatable with LEAD window functions — including when adjacent
  * predicates OVERLAP (e.g. step 0 `cents >= 2500` and step 1
  * `cents >= 7500` both true of one row), the case the default
  * skip-past-last-row strategy would consume rows across and no
  * windowed restatement could express. The restatement runs on DuckDB
  * (promoted rows / dump sweeps) and as a Spark window plan
  * (`CepFuzzSpec`), so the NFA is checked engine-vs-engine AND
  * cross-engine per seed.
  */
object CepFuzzGen {

  /** Event shape fed to the NFA: ts epoch-micros, money as exact cents
    * (doubles never enter a predicate).
    */
  case class CE(user_id: Long, ts: Long, event_type: String,
      event_id: Long, cents: Long)

  /** One step predicate — a data value, so cases compare/replay
    * deterministically; `sql(suffix)` renders the SHARED restatement
    * text for the step's LEAD offset (`sql("")`, the current row, is
    * also the MATCH_RECOGNIZE DEFINE text of the front-door dual-run),
    * and `fn` the NFA-side closure.
    */
  sealed trait StepPred {
    def sql(suffix: String): String
    def fn: CE => Boolean
  }
  final case class TypeIs(t: String) extends StepPred {
    def sql(suffix: String): String = s"event_type$suffix = '$t'"
    def fn: CE => Boolean = _.event_type == t
  }
  final case class TypeIn(ts: Seq[String]) extends StepPred {
    def sql(suffix: String): String =
      s"event_type$suffix IN (${ts.map(t => s"'$t'").mkString(", ")})"
    def fn: CE => Boolean = e => ts.contains(e.event_type)
  }
  final case class CentsGe(c: Long) extends StepPred {
    def sql(suffix: String): String = s"cents$suffix >= $c"
    def fn: CE => Boolean = _.cents >= c
  }
  final case class IdMod(m: Long, r: Long) extends StepPred {
    def sql(suffix: String): String = s"(event_id$suffix % $m) = $r"
    def fn: CE => Boolean = e => e.event_id % m == r
  }

  case class Case(
      seed: Long,
      steps: Seq[StepPred], // 2 or 3, strict next contiguity
      withinMinutes: Option[Int]) {

    /** DuckDB restatement: per-user (ts, event_id) order, step i reads
      * the LEAD-i columns; a NULL lead (stream tail) nulls its
      * predicate and WHERE drops the row — exactly the NFA's
      * can't-complete behavior.
      */
    def oracleSql: String = {
      val k = steps.length
      val leadCols = (1 until k).flatMap { i =>
        Seq(
          s"lead(event_type, $i) OVER w AS event_type_$i",
          s"lead(event_id, $i) OVER w AS event_id_$i",
          s"lead(cents, $i) OVER w AS cents_$i",
          s"lead(us, $i) OVER w AS us_$i")
      }
      val preds = steps.zipWithIndex.map { case (p, i) =>
        p.sql(if (i == 0) "" else s"_$i")
      }
      val withinPred = withinMinutes.map(m =>
        s"us_${k - 1} <= us + ${m * 60000000L}").toSeq
      s"""WITH o AS (
         |  SELECT user_id, event_id,
         |    epoch_us(ts) AS us,
         |    event_type,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    ${leadCols.mkString(",\n    ")}
         |  FROM ${Tables.duckEvents}
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |SELECT user_id, event_id AS a_id, event_id_${k - 1} AS z_id
         |FROM o
         |WHERE ${(preds ++ withinPred).mkString("\n  AND ")}""".stripMargin
    }
  }

  /** MATCH_RECOGNIZE rendering of a strict-contiguity [[Case]] — the SQL
    * front door's text for the SAME pattern (PATTERN concatenation is
    * strict row adjacency, exactly the Case's `next` chain), used by the
    * per-seed API-vs-SQL dual-run in CepFuzzSpec. SKIP TO NEXT ROW
    * mirrors the replay's AfterMatchSkip.SkipToNext.
    */
  def mrClause(c: Case): String = {
    val vars = c.steps.indices.map(i => s"S$i")
    val within = c.withinMinutes
      .map(m => s"\nWITHIN INTERVAL '$m' MINUTE").getOrElse("")
    val defines = c.steps.zip(vars)
      .map { case (p, v) => s"$v AS ${p.sql("")}" }
    s"""PARTITION BY user_id
       |ORDER BY ts, event_id
       |MEASURES FIRST(${vars.head}.event_id) AS a_id,
       |         LAST(${vars.last}.event_id) AS z_id
       |ONE ROW PER MATCH
       |AFTER MATCH SKIP TO NEXT ROW
       |PATTERN (${vars.mkString(" ")})$within
       |DEFINE ${defines.mkString(",\n       ")}""".stripMargin
  }

  /** The DuckDB-side normalized event CTE every restatement shares:
    * micro-precision ts as BIGINT `us`, money as exact cents. The Spark
    * spec passes its own prefix over the SAME body (dialect-shared by
    * construction).
    */
  val duckCev: String =
    s"""SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
       |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
       |  FROM ${Tables.duckEvents}""".stripMargin

  /** A quantifier case — fuzzes the NFA's repetition machinery
    * (Pattern.java times:482 / optional:397 / oneOrMore:415 with
    * consecutive:520 internal contiguity) beyond the strict 2–3-step
    * [[Case]] family:
    *   - `times`: A{n} B — n consecutive A-repetitions then B, LEAD-
    *     restatable at fixed offsets;
    *   - `optional`: A B? C — the greedy present-preferred branch with
    *     backtracking to the absent branch when C fails AFTER a matching
    *     B (the case a naive "B present iff B matches" restatement gets
    *     wrong);
    *   - `oneormore`: A+ B — greedy longest-run-first backtracking; the
    *     emitted end is the LARGEST m ≤ runlen(anchor) with B at
    *     anchor+m, restated as an islands + range-join computation
    *     (no `within` on this arm so run length is window-free).
    * All contiguity is strict, skip = SkipToNext (one greedy branch per
    * anchor), so every arm stays exactly SQL-restatable — and the same
    * pattern text runs through MATCH_RECOGNIZE (strict adjacency,
    * consecutive quantifiers) for the front-door dual-run.
    */
  case class QuantCase(
      seed: Long,
      arm: String, // times | optional | oneormore
      predA: StepPred,
      predB: StepPred,
      predC: StepPred, // optional arm only (the stage after B?)
      n: Int, // times arm only
      withinMinutes: Option[Int]) { // None on the oneormore arm

    /** Restatement over a caller-supplied normalized CTE body (see
      * [[duckCev]]); the text below the prefix is dialect-shared.
      */
    def restatement(cev: String): String = {
      val winSql = "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)"
      arm match {
        case "times" =>
          val leads = (1 to n).flatMap { i =>
            Seq(s"lead(event_type, $i) OVER w AS event_type_$i",
              s"lead(event_id, $i) OVER w AS event_id_$i",
              s"lead(cents, $i) OVER w AS cents_$i",
              s"lead(us, $i) OVER w AS us_$i")
          }
          val preds = predA.sql("") +:
            (1 until n).map(i => predA.sql(s"_$i")) :+ predB.sql(s"_$n")
          val withinPred = withinMinutes.map(m =>
            s"us_$n <= us + ${m * 60000000L}").toSeq
          s"""WITH cev AS ($cev),
             |o AS (SELECT user_id, event_id, us, event_type, cents,
             |    ${leads.mkString(",\n    ")}
             |  FROM cev
             |  $winSql)
             |SELECT user_id, event_id AS a_id, event_id_$n AS z_id
             |FROM o
             |WHERE ${(preds ++ withinPred).map(p => s"($p)").mkString("\n  AND ")}""".stripMargin
        case "optional" =>
          val leads = (1 to 2).flatMap { i =>
            Seq(s"lead(event_type, $i) OVER w AS event_type_$i",
              s"lead(event_id, $i) OVER w AS event_id_$i",
              s"lead(cents, $i) OVER w AS cents_$i",
              s"lead(us, $i) OVER w AS us_$i")
          }
          def inWin(i: Int) = withinMinutes
            .map(m => s" AND us_$i <= us + ${m * 60000000L}").getOrElse("")
          s"""WITH cev AS ($cev),
             |o AS (SELECT user_id, event_id, us, event_type, cents,
             |    ${leads.mkString(",\n    ")}
             |  FROM cev
             |  $winSql)
             |SELECT user_id, a_id, z_id FROM (
             |  SELECT user_id, event_id AS a_id,
             |    CASE WHEN (${predB.sql("_1")}) AND (${predC.sql("_2")})${inWin(2)}
             |           THEN event_id_2
             |         WHEN (${predC.sql("_1")})${inWin(1)} THEN event_id_1
             |    END AS z_id
             |  FROM o WHERE (${predA.sql("")}))
             |WHERE z_id IS NOT NULL""".stripMargin
        case "oneormore" =>
          s"""WITH cev AS ($cev),
             |o AS (SELECT user_id, event_id,
             |    (${predA.sql("")}) AS is_a, (${predB.sql("")}) AS is_b,
             |    ROW_NUMBER() OVER w AS rn
             |  FROM cev
             |  $winSql),
             |x AS (SELECT user_id, event_id, is_a, is_b, rn,
             |    MIN(CASE WHEN NOT is_a THEN rn END) OVER (
             |      PARTITION BY user_id ORDER BY rn
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_nona,
             |    MAX(rn) OVER (PARTITION BY user_id) AS max_rn
             |  FROM o),
             |anch AS (SELECT user_id, rn, event_id,
             |    COALESCE(next_nona - 1, max_rn) AS run_end
             |  FROM x WHERE is_a),
             |m AS (SELECT anch.user_id AS user_id, anch.rn AS arn,
             |    anch.event_id AS a_id, MAX(b.rn) AS z_rn
             |  FROM anch JOIN x b ON b.user_id = anch.user_id AND b.is_b
             |    AND b.rn > anch.rn AND b.rn <= anch.run_end + 1
             |  GROUP BY anch.user_id, anch.rn, anch.event_id)
             |SELECT m.user_id AS user_id, a_id, z.event_id AS z_id
             |FROM m JOIN x z ON z.user_id = m.user_id AND z.rn = m.z_rn""".stripMargin
      }
    }

    def oracleSql: String = restatement(duckCev)

    /** MATCH_RECOGNIZE text for the same pattern (front-door dual-run). */
    def mrClause: String = {
      val (patText, defs) = arm match {
        case "times" =>
          (s"A{$n} B", Seq("A" -> predA, "B" -> predB))
        case "optional" =>
          ("A B? C", Seq("A" -> predA, "B" -> predB, "C" -> predC))
        case "oneormore" =>
          ("A+ B", Seq("A" -> predA, "B" -> predB))
      }
      val within = withinMinutes
        .map(m => s"\nWITHIN INTERVAL '$m' MINUTE").getOrElse("")
      val defines = defs.map { case (v, p) => s"$v AS ${p.sql("")}" }
      val lastVar = if (arm == "optional") "C" else "B"
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES FIRST(A.event_id) AS a_id,
         |         LAST($lastVar.event_id) AS z_id
         |ONE ROW PER MATCH
         |AFTER MATCH SKIP TO NEXT ROW
         |PATTERN ($patText)$within
         |DEFINE ${defines.mkString(",\n       ")}""".stripMargin
    }
  }

  /** A windowed-quantifier case — the `within` × quantifier interaction
    * (`A+ B`, `A{m,n} B`, `A{n} B`, each under WITHIN) that the
    * [[QuantCase]] islands restatement cannot express: the window caps
    * the greedy run length as a function of the ANCHOR's timestamp, so
    * the consumed-count vector depends on the anchor and no fixed-offset
    * or islands SQL is valid (the reason genQuant's oneormore arm is
    * windowless). The oracle is the spec's brute-force descending-count
    * DFS enumerator — independent ground truth already cross-validated
    * against the NFA on synthetic runs — applied per user to the real
    * events table; the MATCH_RECOGNIZE front door dual-runs the same
    * pattern text. CI-only by design: there is no SQL restatement to
    * hand DuckDB (recorded in SURVEY §5).
    */
  case class WinQuantCase(
      seed: Long,
      predA: StepPred,
      predB: StepPred,
      minA: Int,
      maxA: Int, // Int.MaxValue = unbounded (A+)
      withinMinutes: Int,
      // greedy = longest-count-first (SQL default); reluctant (A+? —
      // NFA.scala orders closed before extended branches) = shortest
      greedy: Boolean = true) {

    /** MATCH_RECOGNIZE text (front-door dual-run). */
    def mrClause: String = {
      val q0 =
        if (maxA == Int.MaxValue) "+"
        else if (minA == maxA) s"{$minA}"
        else s"{$minA,$maxA}"
      val q = if (greedy) q0 else s"$q0?"
      s"""PARTITION BY user_id
         |ORDER BY ts, event_id
         |MEASURES FIRST(A.event_id) AS a_id,
         |         LAST(B.event_id) AS z_id
         |ONE ROW PER MATCH
         |AFTER MATCH SKIP TO NEXT ROW
         |PATTERN (A$q B)
         |WITHIN INTERVAL '$withinMinutes' MINUTE
         |DEFINE A AS ${predA.sql("")},
         |       B AS ${predB.sql("")}""".stripMargin
    }
  }

  /** A match-MULTIPLICITY case — the NFA's non-deterministic branching
    * modes under AFTER MATCH SKIP: NO SKIP, the one semantic axis the
    * other CEP families never reach (they all run deterministic
    * contiguity under SkipToNext, where every anchor yields exactly one
    * branch). Here the match SET itself multiplies:
    *   - `any2`: `A followedByAny B` (Pattern.java followedByAny:387 —
    *     non-deterministic relaxed contiguity): EVERY in-window B after
    *     an anchor is its own match, so the match set is exactly the
    *     (anchor, later-B) join — the restatable shape, promoted to a
    *     driver oracle row;
    *   - `any3`: `A followedByAny B followedBy C` — the Any fan-out
    *     propagating through a deterministic closing stage (each B
    *     branch takes the FIRST in-window C after it that completes);
    *   - `comb`: `A followedBy B{m,n}.allowCombinations followedBy C`
    *     (Pattern.java allowCombinations:632): repetitions after the
    *     first branch over every order-preserving combination, and
    *     allowCombinations implies RELUCTANT counting, so the count
    *     range [m,n] branches too — the reluctant × combinations
    *     interaction.
    * `within` is mandatory: it bounds the branch fan-out (and the
    * streaming buffer). any3/comb have no SQL restatement — their
    * oracle is the spec's all-branches enumerator (CI-only, like the
    * windowed-quantifier arm).
    */
  case class AnyCase(
      seed: Long,
      arm: String, // any2 | any3 | comb
      predA: StepPred,
      predB: StepPred,
      predC: StepPred, // any3 / comb closing stage
      minB: Int,
      maxB: Int, // comb arm's loop count range
      withinMinutes: Int) {

    /** any2 restatement — dialect-shared (plain join, runs on DuckDB
      * and Spark unchanged): NO SKIP emits every candidate branch per
      * anchor, so the match set is every (A-row, later in-window B-row)
      * pair per user; "later" is the NFA's (ts, event_id) scan order.
      */
    def restatement(cev: String): String = {
      require(arm == "any2", s"only any2 is SQL-restatable, got $arm")
      s"""WITH cev AS ($cev),
         |av AS (SELECT * FROM cev WHERE ${predA.sql("")}),
         |bv AS (SELECT * FROM cev WHERE ${predB.sql("")})
         |SELECT av.user_id AS user_id, av.event_id AS a_id, bv.event_id AS z_id
         |FROM av JOIN bv ON bv.user_id = av.user_id
         |  AND (bv.us > av.us OR (bv.us = av.us AND bv.event_id > av.event_id))
         |  AND bv.us <= av.us + ${withinMinutes * 60000000L}""".stripMargin
    }

    def oracleSql: String = restatement(duckCev)
  }

  /** The multiplicity case for a seed — a pure function of the seed.
    * Windows draw from the same set the winquant family tuned to the
    * testdata's inter-event gaps (p10/50/90 ≈ 66/460/1425 minutes):
    * wide enough that anchors often see SEVERAL candidates (the whole
    * point is branch fan-out ≥ 2), narrow enough to cap it.
    */
  def genAny(seed: Long): AnyCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xa27b4eL))
    val arm = Seq("any2", "any3", "comb")(r.nextInt(3))
    val predA = stepOf(r)
    // the comb arm needs DENSE B-candidates: a repetition ≥ 2 only gets
    // a combination choice when the window holds more matching events
    // than the count consumes, so B draws from the widest predicates
    // (3-4 of 5 types, or a low cents floor)
    val predB =
      if (arm != "comb") stepOf(r)
      else if (r.nextInt(2) == 0)
        TypeIn(r.shuffle(eventTypes).take(3 + r.nextInt(2)).sorted)
      else CentsGe((1 + r.nextInt(5)) * 2500L)
    val predC = stepOf(r)
    val minB = 1 + r.nextInt(2)
    val maxB = minB + r.nextInt(2)
    val within =
      if (arm == "comb") Seq(1440, 2880, 4320)(r.nextInt(3))
      else Seq(480, 1440, 2880)(r.nextInt(3))
    AnyCase(seed, arm, predA, predB, predC, minB, maxB, within)
  }

  /** A TIMEOUT side-output case — fuzzes [[graft.cep.NFA.findTimeouts]]
    * (the reference's PatternStream.select timeout variant /
    * CepOperator timed-out partial matches — NFA.java advanceTime
    * emits exactly the partial matches STILL PENDING at window expiry),
    * which the single hand row `q_cep_timeout` pins at one fixed
    * shape: anchors that begin a strict-next chain and whose `within`
    * window closed — at nowTs = the stream's max event time — while
    * the chain was still waiting for its next event. Under strict
    * `next` a mismatching in-window immediate event KILLS the partial
    * match (no timeout); only a chain that dies of TIME — the needed
    * next event absent or beyond the window — times out. Steps carry
    * pairwise-DISJOINT TypeIs predicates, so a step-0 row can never be
    * consumed as a LATER element of someone else's match and the
    * covered-span subtraction is provably irrelevant — the timeout set
    * restates as pure LEAD SQL: pred0 rows with some matched in-window
    * prefix whose NEXT needed event is absent-or-late, window closed
    * strictly before the global max timestamp. (The covered/
    * overlapping-predicate path is fuzzed separately in CepFuzzSpec
    * against an independent sequential simulator — that arm has no SQL
    * restatement.)
    */
  case class TimeoutCase(
      seed: Long,
      types: Seq[String], // k = 2 or 3 pairwise-distinct event types
      withinMinutes: Int) {

    def oracleSql: String = restatement(duckCev)

    def restatement(cev: String): String = {
      val k = types.length
      val w = withinMinutes * 60000000L
      val leads = (1 until k).flatMap { i =>
        Seq(s"lead(event_type, $i) OVER win AS event_type_$i",
          s"lead(us, $i) OVER win AS us_$i")
      }
      // pending-at-expiry: some prefix 1..j matched strictly in-window
      // and the (j+1)-th needed event is absent or beyond the window
      // (j = 0: the anchor alone). A completed chain falsifies every
      // arm (its us_i are all non-NULL and in-window); a killed chain
      // (in-window mismatching immediate event) falsifies the gap term.
      val arms = (0 until k - 1).map { j =>
        val prefix = (1 to j).map(i =>
          s"(event_type_$i = '${types(i)}' AND us_$i <= us + $w)")
        val gap = s"(us_${j + 1} IS NULL OR us_${j + 1} > us + $w)"
        (prefix :+ gap).mkString("(", " AND ", ")")
      }
      s"""WITH cev AS ($cev),
         |o AS (SELECT user_id, event_id, us, event_type,
         |    ${leads.mkString(",\n    ")}
         |  FROM cev
         |  WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)),
         |m AS (SELECT MAX(us) AS mx FROM cev)
         |SELECT user_id, event_id AS a_id
         |FROM o, m
         |WHERE event_type = '${types.head}'
         |  AND (${arms.mkString("\n    OR ")})
         |  AND us + $w < mx
         |ORDER BY user_id, a_id""".stripMargin
    }
  }

  /** The timeout case for a seed — a pure function of the seed. */
  def genTimeout(seed: Long): TimeoutCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x70c9a11L))
    val k = 2 + r.nextInt(2)
    val types = r.shuffle(eventTypes).take(k)
    val within = Seq(30, 60, 120, 240)(r.nextInt(4))
    TimeoutCase(seed, types, within)
  }

  /** A relaxed-contiguity / negation case — fuzzes the NFA's
    * `followedBy` scan (Pattern.java followedBy:356) and the negative
    * constraints (notNext:338, notFollowedBy:369) the hand-written rows
    * exercise only at fixed shapes:
    *   - A followedBy B: the first B at or after anchor+1 (deterministic
    *     relaxed contiguity — B is the last stage, so first-match IS the
    *     greedy branch);
    *   - A notNext(N) B: the whole stage fails when the immediately
    *     following event matches N;
    *   - A notFollowedBy(N) B: the scan aborts at the first gap event
    *     matching N and not B (a row matching BOTH is taken as B — the
    *     predicate-order tie the restatement must preserve).
    * Optional `within` caps the scan. Skip = SkipToNext.
    */
  case class RelaxedCase(
      seed: Long,
      predA: StepPred,
      predB: StepPred,
      neg: Option[(StepPred, Boolean)], // (N, strict = notNext)
      withinMinutes: Option[Int]) {

    def restatement(cev: String): String = {
      val isN = neg.map { case (p, _) => s", (${p.sql("")}) AS is_n" }
        .getOrElse("")
      // notNext reads the immediately-following event through a lead
      val n1 = neg.collect { case (_, true) =>
        ", lead(CASE WHEN (" + neg.get._1.sql("") +
          ") THEN 1 ELSE 0 END) OVER w AS n1" }.getOrElse("")
      val nn = neg.collect { case (_, false) =>
        """,
          |    MIN(CASE WHEN is_n AND NOT is_b THEN rn END) OVER (
          |      PARTITION BY user_id ORDER BY rn
          |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nn""".stripMargin }
        .getOrElse("")
      val negPred = neg match {
        case Some((_, true)) => Seq("COALESCE(a.n1, 0) = 0")
        case Some((_, false)) => Seq("(a.nn IS NULL OR a.nn > a.nb)")
        case None => Nil
      }
      val withinPred = withinMinutes.map(m =>
        s"b.us <= a.us + ${m * 60000000L}").toSeq
      val conds = ("a.is_a" +: (negPred ++ withinPred)).mkString("\n  AND ")
      s"""WITH cev AS ($cev),
         |o AS (SELECT user_id, event_id, us,
         |    (${predA.sql("")}) AS is_a, (${predB.sql("")}) AS is_b$isN$n1,
         |    ROW_NUMBER() OVER w AS rn
         |  FROM cev
         |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         |x AS (SELECT *,
         |    MIN(CASE WHEN is_b THEN rn END) OVER (
         |      PARTITION BY user_id ORDER BY rn
         |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb$nn
         |  FROM o)
         |SELECT a.user_id AS user_id, a.event_id AS a_id, b.event_id AS z_id
         |FROM x a JOIN x b ON b.user_id = a.user_id AND b.rn = a.nb
         |WHERE $conds""".stripMargin
    }

    def oracleSql: String = restatement(duckCev)
  }

  private val eventTypes =
    Seq("click", "purchase", "view", "signup", "error")

  private def stepOf(r: Random): StepPred = r.nextInt(4) match {
    case 0 => TypeIs(eventTypes(r.nextInt(eventTypes.length)))
    case 1 =>
      val n = 2 + r.nextInt(2)
      TypeIn(r.shuffle(eventTypes).take(n).sorted)
    // cents thresholds stay inside the ~0–33000 testdata range so
    // every arm keeps matches; coarse steps make cross-step overlap
    // (both preds true of one row) common — the SkipToNext case
    case 2 => CentsGe((1 + r.nextInt(12)) * 2500L)
    case 3 =>
      val m = 2 + r.nextInt(4)
      IdMod(m, r.nextInt(m))
  }

  /** The case for a seed — a pure function of the seed. */
  def gen(seed: Long): Case = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xcef0225L))
    val k = 2 + r.nextInt(2)
    val steps = Seq.fill(k)(stepOf(r))
    val within =
      if (r.nextInt(3) == 0) None
      else Some(Seq(30, 60, 120, 240)(r.nextInt(4)))
    Case(seed, steps, within)
  }

  /** Loop-prone predicates (TypeIs/TypeIn/CentsGe hold for RUNS of
    * adjacent events often enough that quantifier arms exercise real
    * repetitions; IdMod rarely holds twice in a row, so it stays a
    * B/C-position predicate).
    */
  private def runStepOf(r: Random): StepPred = r.nextInt(3) match {
    case 0 => TypeIs(eventTypes(r.nextInt(eventTypes.length)))
    case 1 =>
      val n = 2 + r.nextInt(3)
      TypeIn(r.shuffle(eventTypes).take(n).sorted)
    case 2 => CentsGe((1 + r.nextInt(10)) * 2500L)
  }

  /** The quantifier case for a seed — a pure function of the seed. */
  def genQuant(seed: Long): QuantCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xcefc0a7L))
    val arm = Seq("times", "optional", "oneormore")(r.nextInt(3))
    val predA = runStepOf(r)
    val predB = stepOf(r)
    val predC = stepOf(r)
    val n = 2 + r.nextInt(2)
    val within = arm match {
      case "oneormore" => None // keeps run length window-free (restatable)
      case _ => if (r.nextInt(3) == 0) None
        else Some(Seq(60, 120, 240)(r.nextInt(3)))
    }
    QuantCase(seed, arm, predA, predB, predC, n, within)
  }

  /** The windowed-quantifier case for a seed — a pure function of the
    * seed. Unbounded repetition only pairs with minA = 1 (`A+`) so every
    * arm renders in the MR pattern grammar (`{m,}` is not SQL). Window
    * sizes are tuned to the data: per-user inter-event gaps in testdata
    * run p10/50/90 ≈ 66/460/1425 MINUTES, so 240/720/1440-min windows
    * admit real multi-step chains while still capping most greedy runs —
    * the spec asserts both that matches exist and that the cap binds.
    */
  def genWinQuant(seed: Long): WinQuantCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xce714fL))
    val predA = runStepOf(r)
    val predB = stepOf(r)
    val (minA, maxA) = r.nextInt(3) match {
      case 0 => (1, Int.MaxValue)
      case 1 => val m = 1 + r.nextInt(2); (m, m + 1 + r.nextInt(2))
      case 2 => val n = 2 + r.nextInt(2); (n, n)
    }
    val within = Seq(240, 720, 1440)(r.nextInt(3))
    // a third of the seeds flip to the RELUCTANT branch order (A+? etc.)
    val greedy = r.nextInt(3) != 0
    WinQuantCase(seed, predA, predB, minA, maxA, within, greedy)
  }

  /** The relaxed/negation case for a seed — a pure function of the seed. */
  def genRelaxed(seed: Long): RelaxedCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xce1e1a8L))
    val predA = stepOf(r)
    val predB = stepOf(r)
    val neg = r.nextInt(3) match {
      case 0 => None
      case 1 => Some((stepOf(r), true)) // notNext
      case 2 => Some((stepOf(r), false)) // notFollowedBy
    }
    val within =
      if (r.nextInt(3) == 0) None
      else Some(Seq(60, 120, 240)(r.nextInt(3)))
    RelaxedCase(seed, predA, predB, neg, within)
  }
}
