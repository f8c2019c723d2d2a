package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.cep.{AfterMatchSkip, CEP, MatchRecognize, Pattern}
import Q._

/** MATCH_RECOGNIZE parity in batch form (StreamExecMatch/BatchExecMatch,
  * SURVEY.md §2.10) — q_cep_next/q_cep_run go through the SQL
  * MATCH_RECOGNIZE front door (the reference's user-facing surface,
  * MatchRecognizeITCase shapes), q_cep_within exercises the Pattern DSL +
  * CEP.batch path directly. SQL oracles reconstruct the same matches via
  * window functions.
  */
object CepQueries {

  case class E(user_id: Long, ts: Long, event_type: String, event_id: Long)

  val queries: Map[String, QFn] = Map(
    // Strict-adjacency two-stage pattern: a purchase whose IMMEDIATELY
    // next event for the same user is an error. With two distinct stages,
    // skip-past-last-row equals simple adjacency, which the SQL oracle
    // expresses with lead() over (user, time) — the exact golden-result
    // technique the reference's MatchRecognizeITCase uses.
    "q_cep_next" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros(col("ts").cast(TimestampType)).as("ts"),
          $"event_type", $"event_id")
        .createOrReplaceTempView("cep_ev")
      // full-statement form through the unified front door (GraftSql →
      // MatchRecognizeSql → the batch NFA), the reference's one-parser
      // surface
      graft.GraftSql.sql(s,
        """SELECT * FROM cep_ev MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES A.event_id AS purchase_id, B.event_id AS error_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A B)
          |  DEFINE A AS A.event_type = 'purchase',
          |         B AS B.event_type = 'error'
          |) ORDER BY user_id, purchase_id""".stripMargin)
    }),

    // Greedy consecutive run: one-or-more clicks (SQL quantifier
    // repetitions are adjacent rows) immediately followed by a purchase.
    // The oracle reconstructs maximal click-runs ending at a purchase
    // with an islands computation.
    "q_cep_run" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros(col("ts").cast(TimestampType)).as("ts"),
          $"event_type", $"event_id")
        .createOrReplaceTempView("cep_ev_run")
      graft.GraftSql.sql(s,
        """SELECT * FROM cep_ev_run MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES B.event_id AS purchase_id, COUNT(A.*) AS n_clicks
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (A+ B)
          |  DEFINE A AS A.event_type = 'click',
          |         B AS B.event_type = 'purchase'
          |) ORDER BY user_id, purchase_id""".stripMargin)
    }),

    // PREV navigation through the SQL front door: maximal runs of
    // strictly-falling value per user (the canonical falling-price
    // MATCH_RECOGNIZE shape). The oracle reconstructs the same maximal
    // runs with a lag + gaps-and-islands computation.
    "q_cep_prev" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .select($"user_id", unix_micros(col("ts").cast(TimestampType)).as("ts"),
          $"event_type", $"event_id", $"value")
        .createOrReplaceTempView("cep_ev_prev")
      graft.GraftSql.sql(s,
        """SELECT * FROM cep_ev_prev MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  MEASURES FIRST(D.event_id) AS start_id, LAST(D.event_id) AS end_id,
          |           COUNT(D.*) AS n_down
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (D+)
          |  DEFINE D AS value < PREV(value)
          |) ORDER BY user_id, start_id""".stripMargin)
    }),

    // Timeout side output (the reference's PatternStream.select timeout
    // variant / CepOperator timed-out partial matches — NFA.java
    // advanceTime emits only partials still PENDING at window expiry):
    // purchases that anchor the buy→err pattern and whose 2-hour
    // within-window closed — at the watermark = the stream's max event
    // time — while still WAITING for a successor. An in-window
    // mismatching successor kills the partial under strict `next` (no
    // timeout). The oracle restates: a purchase whose immediate
    // successor is absent or beyond the window, window closed before
    // stream end.
    "q_cep_timeout" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", unix_micros(col("ts").cast(TimestampType)).as("ts"),
          $"event_type", $"event_id")
        .as[E]
      val pat = Pattern.begin[E]("buy")(_.event_type == "purchase")
        .next("err")(_.event_type == "error")
        .within(7200L * 1000000L) // ts is epoch-micros
      // the watermark timeouts are evaluated at: one scalar aggregate
      // (the reference's end-of-input watermark position), not a data
      // collect
      val nowTs = ev.agg(max($"ts")).as[Long].head()
      CEP.batchTimeouts[E](ev, e => e.user_id.toString, _.ts, pat, nowTs,
        tieFn = _.event_id)
        .map(e => (e.user_id, e.ts, e.event_id))
        .toDF("user_id", "buy_ts", "buy_id")
        .orderBy($"user_id", $"buy_ts")
    }),

    // within-window variant: purchase strictly followed by an error no
    // later than 2 hours after it.
    "q_cep_within" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .select($"user_id", unix_micros(col("ts").cast(TimestampType)).as("ts"),
          $"event_type", $"event_id")
        .as[E]
      val pat = Pattern.begin[E]("buy")(_.event_type == "purchase")
        .next("err")(_.event_type == "error")
        .within(7200L * 1000000L) // ts is epoch-micros
      CEP.batch[E](ev, e => e.user_id.toString, _.ts, pat,
        tieFn = _.event_id)
        .map(m => (m.stages.toMap.apply("buy").head.user_id, m.startTs, m.endTs))
        .toDF("user_id", "buy_ts", "err_ts")
        .orderBy($"user_id", $"buy_ts")
    })
  )

  // NOTE: ts is epoch-microseconds on both sides (unix_micros in Spark,
  // epoch_us in DuckDB) so ordering never ties at second granularity.
  private val ordered =
    s"""SELECT user_id, epoch_us(ts) AS ts,
       |       event_type, event_id,
       |       lead(event_type) OVER w AS next_type,
       |       lead(event_id) OVER w AS next_id,
       |       lead(epoch_us(ts)) OVER w AS next_ts
       |FROM ${Tables.duckEvents}
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_cep_next" ->
      s"""SELECT user_id, event_id AS purchase_id, next_id AS error_id
        |FROM ($ordered)
        |WHERE event_type = 'purchase' AND next_type = 'error'
        |ORDER BY user_id, purchase_id""".stripMargin,

    "q_cep_run" ->
      s"""WITH numbered AS (
        |  SELECT user_id, event_type, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM ${Tables.duckEvents}),
        |o AS (
        |  SELECT user_id, event_type, event_id, rn,
        |    MAX(CASE WHEN event_type <> 'click' THEN rn END)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_nonclick
        |  FROM numbered)
        |SELECT user_id, event_id AS purchase_id,
        |  CAST(rn - 1 - coalesce(last_nonclick, 0) AS BIGINT) AS n_clicks
        |FROM o
        |WHERE event_type = 'purchase' AND rn - 1 - coalesce(last_nonclick, 0) >= 1
        |ORDER BY user_id, purchase_id""".stripMargin,

    "q_cep_within" ->
      s"""SELECT user_id, ts AS buy_ts, next_ts AS err_ts
        |FROM ($ordered)
        |WHERE event_type = 'purchase' AND next_type = 'error'
        |  AND next_ts <= ts + 7200000000
        |ORDER BY user_id, buy_ts""".stripMargin,

    // timed-out partials (reference semantics — NFA.java advanceTime
    // emits only partial matches still PENDING at window expiry):
    // purchases whose strictly-next event is absent or beyond the
    // window. An in-window mismatching successor KILLS the partial
    // under strict `next` — no timeout; an in-window error completes
    // the match — no timeout either. Window closed strictly before the
    // max event time.
    "q_cep_timeout" ->
      s"""SELECT user_id, ts AS buy_ts, event_id AS buy_id
        |FROM ($ordered)
        |WHERE event_type = 'purchase'
        |  AND (next_ts IS NULL OR next_ts > ts + 7200000000)
        |  AND ts + 7200000000 <
        |    (SELECT MAX(epoch_us(ts)) FROM ${Tables.duckEvents})
        |ORDER BY user_id, buy_ts""".stripMargin,

    // maximal strictly-falling runs via lag + gaps-and-islands: a row
    // is "down" iff its value < the previous row's; consecutive down
    // rows share (rn - cumulative down count)
    "q_cep_prev" ->
      s"""WITH x AS (
        |  SELECT user_id, event_id,
        |    row_number() OVER w AS rn,
        |    CASE WHEN value < lag(value) OVER w THEN 1 ELSE 0 END AS is_down
        |  FROM ${Tables.duckEvents}
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, event_id, rn, is_down,
        |    rn - SUM(is_down) OVER (PARTITION BY user_id ORDER BY rn
        |      ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM x)
        |SELECT user_id,
        |  first(event_id ORDER BY rn) AS start_id,
        |  last(event_id ORDER BY rn) AS end_id,
        |  COUNT(*) AS n_down
        |FROM g WHERE is_down = 1
        |GROUP BY user_id, grp
        |ORDER BY user_id, start_id""".stripMargin
  )

  /** The normalized typed events frame the CEP fuzz replays share. */
  private[queries] def cepEvents(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[CepFuzzGen.CE] = {
    import s.implicits._
    t(s, dir, "events")
      .select($"user_id",
        unix_micros(col("ts").cast(TimestampType)).as("ts"),
        $"event_type", $"event_id",
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .as[CepFuzzGen.CE]
  }

  /** Batch NFA run for a [[CepFuzzGen.Case]] — every start position
    * tried (SkipToNext), so the match set is exactly the case's LEAD
    * restatement. Output: (user_id, a_id, z_id) = ids of the first and
    * last matched rows.
    */
  private[queries] def cepFuzzReplay(s: org.apache.spark.sql.SparkSession,
      dir: String, c: CepFuzzGen.Case): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ev = cepEvents(s, dir)
    val pat0 = Pattern.begin[CepFuzzGen.CE]("s0")(c.steps.head.fn)
    val patN = c.steps.tail.zipWithIndex.foldLeft(pat0) {
      case (p, (st, i)) => p.next(s"s${i + 1}")(st.fn)
    }
    val pat = c.withinMinutes
      .map(m => patN.within(m * 60000000L)).getOrElse(patN)
    val last = s"s${c.steps.length - 1}"
    CEP.batch[CepFuzzGen.CE](ev, _.user_id.toString, _.ts, pat,
        AfterMatchSkip.SkipToNext, tieFn = _.event_id)
      .map { m =>
        val st = m.stages.toMap
        (st("s0").head.user_id, st("s0").head.event_id,
          st(last).head.event_id)
      }
      .toDF("user_id", "a_id", "z_id")
  }

  /** STREAMING NFA replay for a [[CepFuzzGen.Case]] with an optional
    * checkpoint stop/restart — the recovery arm for the CEP partial-match
    * state (the reference checkpoints the NFA's SharedBuffer in
    * CepOperator.java:82; here [[CEP.CepProcessor]]'s buffer ListState,
    * emitted-hash MapState and match counter must restore mid-replay). The (ts, id)-sorted
    * events replay in four micro-batches through [[CEP.streaming]] under
    * SkipToNext (the batch replay's convention), so the resumed run's
    * sink must equal the SAME LEAD restatement `cepFuzzReplay` is gated
    * on — a lost or doubled partial match surfaces as a missing or
    * duplicated (a_id, z_id) row.
    */
  private[queries] def cepStreamFuzzReplay(s: org.apache.spark.sql.SparkSession,
      dir: String, c: CepFuzzGen.Case,
      restarts: Seq[Int] = Nil): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val evs = cepEvents(s, dir).collect().toSeq
      .sortBy(e => (e.ts, e.event_id))
    val pat0 = Pattern.begin[CepFuzzGen.CE]("s0")(c.steps.head.fn)
    val patN = c.steps.tail.zipWithIndex.foldLeft(pat0) {
      case (p, (st, i)) => p.next(s"s${i + 1}")(st.fn)
    }
    val pat = c.withinMinutes
      .map(m => patN.within(m * 60000000L)).getOrElse(patN)
    val last = s"s${c.steps.length - 1}"
    StreamQueries.replay(s, evs.grouped(math.max(1, evs.length / 4 + 1)).toSeq,
        restarts = restarts)(CEP.streaming[CepFuzzGen.CE](_,
        _.user_id.toString, _.ts, pat, maxBufferPerKey = Some(1 << 20),
        skip = AfterMatchSkip.SkipToNext)
      .map { m =>
        val st = m.stages.toMap
        (st("s0").head.user_id, st("s0").head.event_id,
          st(last).head.event_id)
      }.toDF("user_id", "a_id", "z_id"))
  }

  /** The Pattern-API pattern for a [[CepFuzzGen.QuantCase]] (shared by
    * the batch replay and the spec's brute-force/MR dual-runs).
    */
  private[queries] def quantPattern(
      c: CepFuzzGen.QuantCase): Pattern[CepFuzzGen.CE] = {
    val a = Pattern.begin[CepFuzzGen.CE]("a")(c.predA.fn)
    val pat = c.arm match {
      case "times" =>
        a.times(c.n).consecutive.next("b")(c.predB.fn)
      case "optional" =>
        a.next("b")(c.predB.fn).optional.next("c")(c.predC.fn)
      case "oneormore" =>
        a.oneOrMore.consecutive.next("b")(c.predB.fn)
    }
    c.withinMinutes.map(m => pat.within(m * 60000000L)).getOrElse(pat)
  }

  /** Batch NFA run for a [[CepFuzzGen.QuantCase]] (SkipToNext — one
    * greedy branch per anchor). Output (user_id, a_id, z_id) = anchor id
    * and last-consumed id.
    */
  private[queries] def cepQuantFuzzReplay(s: org.apache.spark.sql.SparkSession,
      dir: String, c: CepFuzzGen.QuantCase): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    CEP.batch[CepFuzzGen.CE](cepEvents(s, dir), _.user_id.toString, _.ts,
        quantPattern(c), AfterMatchSkip.SkipToNext, tieFn = _.event_id)
      .map { m =>
        val evs = m.stages.flatMap(_._2)
        (evs.head.user_id, evs.head.event_id, evs.last.event_id)
      }
      .toDF("user_id", "a_id", "z_id")
  }

  /** The Pattern-API pattern for a [[CepFuzzGen.WinQuantCase]] (shared
    * by the batch replay and the spec's brute-force/MR dual-runs).
    */
  private[queries] def winQuantPattern(
      c: CepFuzzGen.WinQuantCase): Pattern[CepFuzzGen.CE] = {
    val a = Pattern.begin[CepFuzzGen.CE]("a")(c.predA.fn)
    val q0 =
      if (c.maxA == Int.MaxValue) a.oneOrMore.consecutive
      else if (c.minA == c.maxA) a.times(c.minA).consecutive
      else a.times(c.minA, c.maxA).consecutive
    val q = if (c.greedy) q0 else q0.reluctant
    q.next("b")(c.predB.fn).within(c.withinMinutes * 60000000L)
  }

  /** Batch NFA run for a [[CepFuzzGen.WinQuantCase]] (SkipToNext).
    * Output (user_id, a_id, z_id) = anchor id and last-consumed id.
    */
  private[queries] def cepWinQuantFuzzReplay(
      s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.WinQuantCase): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    CEP.batch[CepFuzzGen.CE](cepEvents(s, dir), _.user_id.toString, _.ts,
        winQuantPattern(c), AfterMatchSkip.SkipToNext, tieFn = _.event_id)
      .map { m =>
        val evs = m.stages.flatMap(_._2)
        (evs.head.user_id, evs.head.event_id, evs.last.event_id)
      }
      .toDF("user_id", "a_id", "z_id")
  }

  /** The Pattern-API pattern for a [[CepFuzzGen.AnyCase]] (shared by
    * the batch/streaming replays and the spec's all-branches
    * enumerator dual-runs).
    */
  private[queries] def anyPattern(
      c: CepFuzzGen.AnyCase): Pattern[CepFuzzGen.CE] = {
    val a = Pattern.begin[CepFuzzGen.CE]("a")(c.predA.fn)
    val pat = c.arm match {
      case "any2" => a.followedByAny("b")(c.predB.fn)
      case "any3" =>
        a.followedByAny("b")(c.predB.fn).followedBy("c")(c.predC.fn)
      case "comb" =>
        a.followedBy("b")(c.predB.fn).times(c.minB, c.maxB)
          .allowCombinations.followedBy("c")(c.predC.fn)
    }
    pat.within(c.withinMinutes * 60000000L)
  }

  /** Batch NFA run for a [[CepFuzzGen.AnyCase]] under NO SKIP — every
    * branch of every anchor emits (the match-multiplicity surface).
    * Output (user_id, a_id, z_id) = anchor id and last-consumed id;
    * for the promoted any2 row each branch is a distinct (a, b) pair so
    * the projection is duplicate-free and joins the driver's oracle.
    */
  private[queries] def cepAnyFuzzReplay(s: org.apache.spark.sql.SparkSession,
      dir: String, c: CepFuzzGen.AnyCase): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    CEP.batch[CepFuzzGen.CE](cepEvents(s, dir), _.user_id.toString, _.ts,
        anyPattern(c), AfterMatchSkip.NoSkip, tieFn = _.event_id)
      .map { m =>
        val evs = m.stages.flatMap(_._2)
        (evs.head.user_id, evs.head.event_id, evs.last.event_id)
      }
      .toDF("user_id", "a_id", "z_id")
  }

  /** The Pattern-API pattern for a [[CepFuzzGen.TimeoutCase]]. */
  private[queries] def timeoutPattern(
      c: CepFuzzGen.TimeoutCase): Pattern[CepFuzzGen.CE] = {
    val head +: rest = c.types
    val pat = rest.zipWithIndex.foldLeft(
        Pattern.begin[CepFuzzGen.CE]("s0")(_.event_type == head)) {
      case (p, (t, i)) => p.next(s"s${i + 1}")(_.event_type == t)
    }
    pat.within(c.withinMinutes * 60000000L)
  }

  /** Batch timeout side output for a [[CepFuzzGen.TimeoutCase]]:
    * anchors whose within-window closed at nowTs = the stream's max
    * event time without a complete match ([[CEP.batchTimeouts]]).
    */
  private[queries] def cepTimeoutFuzzReplay(
      s: org.apache.spark.sql.SparkSession, dir: String,
      c: CepFuzzGen.TimeoutCase): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ev = cepEvents(s, dir)
    val nowTs = ev.agg(max($"ts")).as[Long].head()
    CEP.batchTimeouts[CepFuzzGen.CE](ev, _.user_id.toString, _.ts,
        timeoutPattern(c), nowTs, tieFn = _.event_id)
      .map(e => (e.user_id, e.event_id))
      .toDF("user_id", "a_id")
  }

  /** The Pattern-API pattern for a [[CepFuzzGen.RelaxedCase]]. */
  private[queries] def relaxedPattern(
      c: CepFuzzGen.RelaxedCase): Pattern[CepFuzzGen.CE] = {
    val a = Pattern.begin[CepFuzzGen.CE]("a")(c.predA.fn)
    val withNeg = c.neg match {
      case Some((n, true)) => a.notNext(n.fn)
      case Some((n, false)) => a.notFollowedBy(n.fn)
      case None => a
    }
    val pat = withNeg.followedBy("b")(c.predB.fn)
    c.withinMinutes.map(m => pat.within(m * 60000000L)).getOrElse(pat)
  }

  /** Batch NFA run for a [[CepFuzzGen.RelaxedCase]] (SkipToNext). */
  private[queries] def cepRelaxedFuzzReplay(s: org.apache.spark.sql.SparkSession,
      dir: String, c: CepFuzzGen.RelaxedCase): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    CEP.batch[CepFuzzGen.CE](cepEvents(s, dir), _.user_id.toString, _.ts,
        relaxedPattern(c), AfterMatchSkip.SkipToNext, tieFn = _.event_id)
      .map { m =>
        val st = m.stages.toMap
        (st("a").head.user_id, st("a").head.event_id,
          st("b").head.event_id)
      }
      .toDF("user_id", "a_id", "z_id")
  }
}
