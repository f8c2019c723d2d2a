package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The CEP differential-fuzz layer ([[CepFuzzGen]]) in CI form: every
  * seeded pattern runs BOTH ways on this engine — through the NFA
  * (CEP.batch under SkipToNext) and as the equivalent LEAD window plan
  * built from the SAME predicate SQL fragments — and the match sets
  * must be equal. A divergence would expose NFA bugs (branch pruning,
  * within-window arithmetic, skip-strategy anchoring) the five
  * hand-written q_cep_* rows can't reach. The cross-engine half runs
  * via `graft.FuzzDump ... cep` + `dev/check.py`, and two
  * shape-representative seeds are permanent driver-gated rows
  * (`q_fuzz_cep_*`).
  */
class CepFuzzSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.gen(s) == CepFuzzGen.gen(s))
    val cs = (1L to 24L).map(CepFuzzGen.gen)
    assert(cs.exists(_.steps.length == 2) && cs.exists(_.steps.length == 3))
    assert(cs.exists(_.withinMinutes.isEmpty) &&
      cs.exists(_.withinMinutes.isDefined))
    val arms = cs.flatMap(_.steps).map(_.getClass.getSimpleName).toSet
    assert(arms.size >= 3, s"step arms drawn: $arms")
  }

  /** Spark-side normalized CTE over the SAME dialect-shared restatement
    * body the DuckDB oracle uses (CE.ts is already epoch-micros).
    */
  private def sparkCev: String = {
    CepQueries.cepEvents(spark, dir).createOrReplaceTempView("cep_fuzz_ev")
    "SELECT user_id, event_id, ts AS us, event_type, cents FROM cep_fuzz_ev"
  }

  test("quantifier generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.genQuant(s) == CepFuzzGen.genQuant(s))
    val cs = (1L to 24L).map(CepFuzzGen.genQuant)
    assert(Set("times", "optional", "oneormore")
      .subsetOf(cs.map(_.arm).toSet))
    assert(cs.filter(_.arm == "times").map(_.n).distinct.length > 1)
    assert(cs.filter(_.arm == "oneormore").forall(_.withinMinutes.isEmpty))
  }

  test("relaxed/negation generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.genRelaxed(s) == CepFuzzGen.genRelaxed(s))
    val cs = (1L to 24L).map(CepFuzzGen.genRelaxed)
    assert(cs.exists(_.neg.isEmpty))
    assert(cs.exists(_.neg.exists(_._2)) && cs.exists(_.neg.exists(!_._2)))
    assert(cs.exists(_.withinMinutes.isEmpty) &&
      cs.exists(_.withinMinutes.isDefined))
  }

  test("quantifier NFA matches equal the SQL restatement per seed") {
    val cev = sparkCev
    for (seed <- 1L to 12L) {
      val c = CepFuzzGen.genQuant(seed)
      val expected = spark.sql(c.restatement(cev))
        .collect().map(_.toString).sorted.toSeq
      val actual = CepQueries.cepQuantFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"quant seed $seed diverged: arm=${c.arm} n=${c.n} " +
          s"A=${c.predA} B=${c.predB} C=${c.predC} " +
          s"within=${c.withinMinutes} " +
          s"(sql=${expected.length} rows, nfa=${actual.length})")
    }
  }

  test("relaxed/negation NFA matches equal the SQL restatement per seed") {
    val cev = sparkCev
    for (seed <- 1L to 12L) {
      val c = CepFuzzGen.genRelaxed(seed)
      val expected = spark.sql(c.restatement(cev))
        .collect().map(_.toString).sorted.toSeq
      val actual = CepQueries.cepRelaxedFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"relaxed seed $seed diverged: A=${c.predA} B=${c.predB} " +
          s"neg=${c.neg} within=${c.withinMinutes} " +
          s"(sql=${expected.length} rows, nfa=${actual.length})")
    }
  }

  /** Independent ground truth for strict quantifier semantics: per
    * anchor, enumerate consumption-count vectors depth-first with larger
    * counts first (greedy-with-backtracking BY DEFINITION — a descending-
    * count scan, not the NFA's recursive extended/closed structure) and
    * emit the first complete assignment. Strict contiguity makes the
    * position of every consumed event a pure function of the counts, so
    * the enumeration is exact.
    */
  private case class BUnit(pred: CepFuzzGen.CE => Boolean, min: Int,
      max: Int, greedy: Boolean = true)

  private def bruteStrict(events: IndexedSeq[CepFuzzGen.CE],
      units: Seq[BUnit], within: Option[Long]): Seq[(Int, Int)] = {
    def greedyAt(i: Int): Option[Int] = {
      if (!units.head.pred(events(i))) return None
      val deadline = within.map(events(i).ts + _)
      def ok(j: Int) =
        j < events.length && deadline.forall(events(j).ts <= _)
      def rec(u: Int, pos: Int): Option[Int] = {
        if (u == units.length) return Some(pos - 1)
        val un = units(u)
        // anchor unit: repetition 1 is the anchor itself (the NFA's
        // begin-stage contract), so at least one rep is consumed there
        val minC = if (u == 0) math.max(1, un.min) else un.min
        var feasible = 0
        while (feasible < un.max && ok(pos + feasible) &&
          un.pred(events(pos + feasible))) feasible += 1
        // greedy = largest count first; reluctant = smallest first (the
        // NFA orders closed branches before extended ones)
        val counts =
          if (un.greedy) feasible to minC by -1 else minC to feasible
        val it = counts.iterator
        while (it.hasNext) {
          rec(u + 1, pos + it.next()) match {
            case Some(e) => return Some(e)
            case None =>
          }
        }
        None
      }
      rec(0, i)
    }
    events.indices.flatMap(i => greedyAt(i).map(e => (i, e)))
  }

  test("windowed-quantifier generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.genWinQuant(s) == CepFuzzGen.genWinQuant(s))
    val cs = (1L to 24L).map(CepFuzzGen.genWinQuant)
    assert(cs.exists(_.maxA == Int.MaxValue), "no A+ arm drawn")
    assert(cs.exists(c => c.maxA != Int.MaxValue && c.minA < c.maxA),
      "no A{m,n} range arm drawn")
    assert(cs.exists(c => c.minA == c.maxA), "no exact A{n} arm drawn")
    assert(cs.map(_.withinMinutes).distinct.length == 3)
    assert(cs.exists(_.greedy) && cs.exists(!_.greedy),
      "greedy and reluctant arms must both draw")
    assert(cs.exists(c => !c.greedy && c.minA < c.maxA),
      "no reluctant arm with a real count range drawn")
  }

  /** The within × quantifier interaction ([[CepFuzzGen.WinQuantCase]]):
    * the window caps the greedy run as a function of the anchor, so no
    * islands/LEAD restatement exists — the oracle is [[bruteStrict]]
    * (cross-validated against the NFA on synthetic runs below), applied
    * per user to the real events table.
    */
  test("windowed quantifier NFA equals the brute-force enumerator on real data per seed") {
    val byUser = CepQueries.cepEvents(spark, dir).collect()
      .groupBy(_.user_id)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e.ts, e.event_id)).toIndexedSeq }
    var nonEmpty = 0
    var windowBound = 0
    for (seed <- 1L to 16L) {
      val c = CepFuzzGen.genWinQuant(seed)
      val units = Seq(BUnit(c.predA.fn, c.minA, c.maxA, c.greedy),
        BUnit(c.predB.fn, 1, 1))
      val within = Some(c.withinMinutes * 60000000L)
      def brute(w: Option[Long]) = byUser.toSeq.flatMap { case (u, es) =>
        bruteStrict(es, units, w).map { case (i, j) =>
          (u, es(i).event_id, es(j).event_id) }
      }.sorted
      val expected = brute(within)
      if (expected.nonEmpty) nonEmpty += 1
      if (expected != brute(None)) windowBound += 1
      val actual = CepQueries.cepWinQuantFuzzReplay(spark, dir, c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
      assert(actual == expected,
        s"winquant seed $seed diverged: A=${c.predA} {${c.minA},${c.maxA}} " +
          s"B=${c.predB} within=${c.withinMinutes}m " +
          s"(brute=${expected.length}, nfa=${actual.length})")
    }
    assert(nonEmpty >= 8,
      s"only $nonEmpty of 16 windowed-quantifier seeds produced matches")
    assert(windowBound > 0,
      "the within cap never changed any seed's match set — the arm is degenerate")
  }

  test("windowed quantifier MATCH_RECOGNIZE front door equals the NFA per seed") {
    import graft.cep.MatchRecognize
    val ev = CepQueries.cepEvents(spark, dir).toDF()
    for (seed <- 1L to 8L) {
      val c = CepFuzzGen.genWinQuant(seed)
      val viaSql = MatchRecognize(ev, c.mrClause)
        .collect().map(_.toString).sorted.toSeq
      val viaApi = CepQueries.cepWinQuantFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(viaApi == viaSql,
        s"MR dual-run diverged at winquant seed $seed: A=${c.predA} " +
          s"{${c.minA},${c.maxA}} B=${c.predB} within=${c.withinMinutes}m " +
          s"(sql=${viaSql.length}, api=${viaApi.length})")
    }
  }

  test("incremental streaming CEP equals the batch NFA per windowed-quantifier seed") {
    import graft.cep.{AfterMatchSkip, CEP}
    import spark.implicits._
    val evs = CepQueries.cepEvents(spark, dir).collect().toSeq
      .sortBy(e => (e.ts, e.event_id))
    // quantifier loops + within exercise the streaming NFA's partial-match
    // pruning (a window-expired loop branch must drop, not linger or
    // complete) — the strict-seed streaming dual-run can't reach that
    for (seed <- 1L to 4L) {
      val c = CepFuzzGen.genWinQuant(seed)
      val streamed = StreamQueries.replay(spark,
          evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq)(
        CEP.streaming[CepFuzzGen.CE](_,
            _.user_id.toString, _.ts, CepQueries.winQuantPattern(c),
            maxBufferPerKey = Some(1 << 20),
            skip = AfterMatchSkip.SkipToNext)
          .map { m =>
            val es = m.stages.flatMap(_._2)
            (es.head.user_id, es.head.event_id, es.last.event_id)
          }.toDF("user_id", "a_id", "z_id"))
        .collect().toSeq.map(_.toString).sorted
      val batch = CepQueries.cepWinQuantFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"streaming winquant seed $seed diverged: A=${c.predA} " +
          s"{${c.minA},${c.maxA}} B=${c.predB} within=${c.withinMinutes}m " +
          s"(batch=${batch.length}, streamed=${streamed.length})")
    }
  }

  /** Branch-keeping unit for the match-multiplicity families: `any`
    * stages (followedByAny — EVERY candidate position branches, every
    * repetition), `comb` stages (allowCombinations — deterministic
    * first repetition, every candidate branches from the second on,
    * reluctant count branching), and deterministic relaxed stages
    * (the first candidate that admits a completion — the backtracking
    * contract; valid here only for single-repetition units, which is
    * all the generated shapes use them for).
    */
  private case class AnyUnit(pred: CepFuzzGen.CE => Boolean, min: Int,
      max: Int, any: Boolean = false, comb: Boolean = false)

  /** ALL complete matches per anchor as per-unit consumed-index
    * vectors — independent ground truth for NO SKIP multiplicity: a
    * slot-walking enumerator over explicit candidate index sets with an
    * admits-completion probe for deterministic slots, not the NFA's
    * closed/extended recursion. Branch ORDER is irrelevant (NoSkip
    * emits the whole set; callers compare sorted).
    */
  private def bruteAll(events: IndexedSeq[CepFuzzGen.CE],
      units: Seq[AnyUnit], withinUs: Long): Seq[Vector[Vector[Int]]] = {
    val out = Seq.newBuilder[Vector[Vector[Int]]]
    for (anchor <- events.indices if units.head.pred(events(anchor))) {
      val deadline = events(anchor).ts + withinUs
      def candidates(u: AnyUnit, from: Int): Seq[Int] =
        (from until events.length)
          .filter(i => events(i).ts <= deadline && u.pred(events(i)))
      def rec(u: Int, cnt: Int, pos: Int, done: Vector[Vector[Int]],
          cur: Vector[Int]): Seq[Vector[Vector[Int]]] = {
        val unit = units(u)
        val minReps = if (u == 0) math.max(1, unit.min) else unit.min
        val closed: Seq[Vector[Vector[Int]]] =
          if (cnt < minReps) Nil
          else if (u == units.length - 1) Seq(done :+ cur)
          else rec(u + 1, 0, pos, done :+ cur, Vector.empty)
        val extended: Seq[Vector[Vector[Int]]] =
          if (cnt >= unit.max) Nil
          else {
            val cs = candidates(unit, pos)
            if (unit.any || (unit.comb && cnt >= 1))
              cs.flatMap(i => rec(u, cnt + 1, i + 1, done, cur :+ i))
            else cs.iterator
              .map(i => rec(u, cnt + 1, i + 1, done, cur :+ i))
              .find(_.nonEmpty).getOrElse(Nil)
          }
        closed ++ extended
      }
      out ++= rec(0, 1, anchor + 1, Vector.empty, Vector(anchor))
    }
    out.result()
  }

  /** The [[AnyUnit]] rendering of a generated [[CepFuzzGen.AnyCase]]. */
  private def anyUnits(c: CepFuzzGen.AnyCase): Seq[AnyUnit] = c.arm match {
    case "any2" => Seq(AnyUnit(c.predA.fn, 1, 1),
      AnyUnit(c.predB.fn, 1, 1, any = true))
    case "any3" => Seq(AnyUnit(c.predA.fn, 1, 1),
      AnyUnit(c.predB.fn, 1, 1, any = true), AnyUnit(c.predC.fn, 1, 1))
    case "comb" => Seq(AnyUnit(c.predA.fn, 1, 1),
      AnyUnit(c.predB.fn, c.minB, c.maxB, comb = true),
      AnyUnit(c.predC.fn, 1, 1))
  }

  test("multiplicity generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.genAny(s) == CepFuzzGen.genAny(s))
    val cs = (1L to 24L).map(CepFuzzGen.genAny)
    assert(Set("any2", "any3", "comb").subsetOf(cs.map(_.arm).toSet))
    assert(cs.map(_.withinMinutes).distinct.length >= 3)
    assert(cs.exists(c => c.arm == "comb" && c.minB < c.maxB),
      "no comb arm with a real count range drawn (the reluctant × " +
        "combinations interaction)")
  }

  /** NO SKIP match multiplicity ([[CepFuzzGen.AnyCase]]): the NFA's
    * full branch set — compared as complete per-stage consumed-id
    * signatures, not (start, end) projections, because multiplicity is
    * exactly what projections collapse — must equal [[bruteAll]] per
    * user on the real events table, with no duplicate emissions.
    */
  test("followedByAny/allowCombinations NFA equals the all-branches enumerator per seed") {
    import graft.cep.{AfterMatchSkip, CEP}
    import spark.implicits._
    val byUser = CepQueries.cepEvents(spark, dir).collect()
      .groupBy(_.user_id)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e.ts, e.event_id)).toIndexedSeq }
    var nonEmpty = 0
    var multiplied = 0
    var combGrew = 0
    for (seed <- 1L to 16L) {
      val c = CepFuzzGen.genAny(seed)
      val units = anyUnits(c)
      val withinUs = c.withinMinutes * 60000000L
      val names = Seq("a", "b", "c")
      def sig(u: Long, m: Seq[(String, Seq[Long])]): String =
        s"u=$u;" + m.map { case (n, ids) => s"$n:${ids.mkString(",")}" }
          .mkString(";")
      val expected = byUser.toSeq.flatMap { case (u, es) =>
        bruteAll(es, units, withinUs).map { vs =>
          sig(u, vs.zipWithIndex.map { case (idx, i) =>
            names(i) -> idx.map(j => es(j).event_id) })
        }
      }.sorted
      val actual = CEP.batch[CepFuzzGen.CE](
          CepQueries.cepEvents(spark, dir), _.user_id.toString, _.ts,
          CepQueries.anyPattern(c), AfterMatchSkip.NoSkip,
          tieFn = _.event_id)
        .collect().map { m =>
          sig(m.stages.flatMap(_._2).head.user_id,
            m.stages.map { case (n, es) => n -> es.map(_.event_id) })
        }.sorted.toSeq
      assert(actual.distinct.length == actual.length,
        s"cepany seed $seed double-emitted a branch (arm=${c.arm})")
      assert(actual == expected,
        s"cepany seed $seed diverged: arm=${c.arm} A=${c.predA} " +
          s"B=${c.predB}{${c.minB},${c.maxB}} C=${c.predC} " +
          s"within=${c.withinMinutes}m " +
          s"(brute=${expected.length}, nfa=${actual.length})")
      if (expected.nonEmpty) {
        nonEmpty += 1
        val anchors = expected.map(_.split(";").take(2).mkString(";"))
          .distinct.length
        if (expected.length > anchors) multiplied += 1
      }
      if (c.arm == "comb") {
        // combinations must actually multiply the set on some seed —
        // compare against the same pattern WITHOUT combinations
        // (reluctant counting retained, repetitions deterministic)
        val plain = byUser.toSeq.map { case (_, es) =>
          bruteAll(es, anyUnits(c).map(u =>
            if (u.comb) u.copy(comb = false) else u), withinUs).length
        }.sum
        if (expected.length > plain) combGrew += 1
      }
    }
    assert(nonEmpty >= 6,
      s"only $nonEmpty of 16 multiplicity seeds produced matches")
    assert(multiplied > 0,
      "no seed ever emitted two branches for one anchor — the arm is degenerate")
    assert(combGrew > 0,
      "allowCombinations never grew any seed's match set over the " +
        "deterministic-repetition baseline")
  }

  test("any2 NFA matches equal the SQL join restatement per seed") {
    val cev = sparkCev
    for (seed <- 1L to 16L) {
      val c0 = CepFuzzGen.genAny(seed)
      val c = if (c0.arm == "any2") c0 else c0.copy(arm = "any2")
      val expected = spark.sql(c.restatement(cev))
        .collect().map(_.toString).sorted.toSeq
      val actual = CepQueries.cepAnyFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"any2 seed $seed diverged: A=${c.predA} B=${c.predB} " +
          s"within=${c.withinMinutes}m " +
          s"(sql=${expected.length} rows, nfa=${actual.length})")
    }
  }

  test("incremental streaming CEP equals the batch NFA per multiplicity seed") {
    import graft.cep.{AfterMatchSkip, CEP}
    import spark.implicits._
    val evs = CepQueries.cepEvents(spark, dir).collect().toSeq
      .sortBy(e => (e.ts, e.event_id))
    // NoSkip + Any branching exercises the streaming buffer's
    // emitted-identity dedup across re-scans (CEP.step's independent-
    // anchor regime) — a lost identity double-emits, an over-broad one
    // suppresses a genuinely new branch
    for (seed <- 1L to 4L) {
      val c = CepFuzzGen.genAny(seed)
      val streamed = StreamQueries.replay(spark,
          evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq)(
        CEP.streaming[CepFuzzGen.CE](_,
            _.user_id.toString, _.ts, CepQueries.anyPattern(c),
            maxBufferPerKey = Some(1 << 20),
            skip = AfterMatchSkip.NoSkip)
          .map { m =>
            val es = m.stages.flatMap(_._2)
            (es.head.user_id,
              m.stages.map { case (n, ss) =>
                s"$n:${ss.map(_.event_id).mkString(",")}" }.mkString(";"))
          }.toDF("user_id", "sig"))
        .collect().toSeq.map(_.toString).sorted
      val batch = CEP.batch[CepFuzzGen.CE](
          CepQueries.cepEvents(spark, dir), _.user_id.toString, _.ts,
          CepQueries.anyPattern(c), AfterMatchSkip.NoSkip,
          tieFn = _.event_id)
        .map { m =>
          val es = m.stages.flatMap(_._2)
          (es.head.user_id,
            m.stages.map { case (n, ss) =>
              s"$n:${ss.map(_.event_id).mkString(",")}" }.mkString(";"))
        }.toDF("user_id", "sig")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"streaming cepany seed $seed diverged: arm=${c.arm} " +
          s"(batch=${batch.length}, streamed=${streamed.length})")
    }
  }

  test("NFA multiplicity equals all-branches enumeration on synthetic dense runs") {
    import scala.util.Random
    import graft.cep.{AfterMatchSkip, Contiguity, NFA, Pattern, Stage}
    val types = Seq("a", "b", "c")
    for (seed <- 1L to 40L) {
      val r = new Random(StreamFuzzGen.scramble(seed ^ 0xa11b7aL))
      var ts = 0L
      val events = IndexedSeq.tabulate(80) { i =>
        ts += 1 + r.nextInt(5)
        CepFuzzGen.CE(1L, ts, types(r.nextInt(3)), i.toLong,
          r.nextInt(4) * 2500L)
      }
      def predOf(): CepFuzzGen.CE => Boolean = r.nextInt(3) match {
        case 0 => val t = types(r.nextInt(3)); e => e.event_type == t
        case 1 =>
          val two = r.shuffle(types).take(2).toSet
          e => two.contains(e.event_type)
        case 2 => val c = r.nextInt(3) * 2500L; e => e.cents >= c
      }
      // unit 0: single-rep anchor or a comb loop (begin cannot be Any);
      // later units: any single/loop, comb loop, or deterministic
      // single-rep — deterministic units stay single-rep (the
      // enumerator's documented validity domain)
      def unitOf(first: Boolean): AnyUnit = {
        val p = predOf()
        r.nextInt(if (first) 2 else 3) match {
          case 0 => AnyUnit(p, 1, 1)
          case 1 =>
            val m = 1 + r.nextInt(2)
            AnyUnit(p, m, m + r.nextInt(2), comb = true)
          case 2 =>
            val m = 1 + r.nextInt(2)
            AnyUnit(p, m, m + r.nextInt(2), any = true)
        }
      }
      val units = unitOf(first = true) +:
        Seq.fill(1 + r.nextInt(2))(unitOf(first = false))
      val withinTicks = 12L + r.nextInt(19)
      val pat = Pattern[CepFuzzGen.CE](
        units.zipWithIndex.map { case (u, i) =>
          Stage[CepFuzzGen.CE](s"s$i", u.pred,
            if (u.any) Contiguity.AnyRelaxed else Contiguity.Relaxed,
            u.min, u.max,
            // any/comb units branch (reluctant order — order is
            // irrelevant under NoSkip, branching is not)
            greedyLoop = !(u.any || u.comb), combinations = u.comb)
        }.toVector,
        withinMs = Some(withinTicks))
      val nfa = new NFA[CepFuzzGen.CE](pat, _.ts)
      def sigs(ms: Seq[Vector[Vector[Int]]]): Seq[String] =
        ms.map(_.map(_.mkString(",")).mkString(";")).sorted
      val actual = nfa.findMatches(events, 0, AfterMatchSkip.NoSkip)
        .map { case (_, _, m) =>
          // map consumed events back to indices via event_id (== index)
          m.toVector.map(_._2.toVector.map(_.event_id.toInt))
        }
      val expected = bruteAll(events, units, withinTicks)
      assert(sigs(actual) == sigs(expected),
        s"multiplicity brute seed $seed diverged: " +
          s"units=${units.map(u => (u.min, u.max, u.any, u.comb))} " +
          s"within=$withinTicks " +
          s"(brute=${expected.length}, nfa=${actual.length})")
    }
  }

  test("timeout generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(CepFuzzGen.genTimeout(s) == CepFuzzGen.genTimeout(s))
    val cs = (1L to 24L).map(CepFuzzGen.genTimeout)
    assert(cs.exists(_.types.length == 2) && cs.exists(_.types.length == 3))
    assert(cs.forall(c => c.types.distinct.length == c.types.length),
      "timeout steps must be pairwise-disjoint types")
    assert(cs.map(_.withinMinutes).distinct.length == 4)
  }

  /** Timeout side output ([[CepFuzzGen.TimeoutCase]] — disjoint-type
    * chains, so the covered-span subtraction is provably irrelevant and
    * the timeout set is pure LEAD SQL): anchors whose window closed at
    * nowTs = max event time while the chain was still PENDING — the
    * reference's alive-at-expiry rule (an in-window mismatching
    * immediate event KILLS a strict-next partial: no timeout).
    */
  test("timeout side output equals the LEAD restatement per seed") {
    val cev = sparkCev
    var withTimeouts = 0
    var openWindowBit = 0
    var killBit = 0
    for (seed <- 1L to 12L) {
      val c = CepFuzzGen.genTimeout(seed)
      val expected = spark.sql(c.restatement(cev))
        .collect().map(_.toString).sorted.toSeq
      val actual = CepQueries.cepTimeoutFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"timeout seed $seed diverged: types=${c.types} " +
          s"within=${c.withinMinutes}m " +
          s"(sql=${expected.length} rows, nfa=${actual.length})")
      if (expected.nonEmpty) withTimeouts += 1
      // the nowTs bite: some anchor must be excluded ONLY because its
      // window is still open at the stream's max event time
      val openOnly = spark.sql(
        s"""WITH cev AS ($cev), m AS (SELECT MAX(us) AS mx FROM cev)
           |SELECT COUNT(*) FROM cev, m
           |WHERE event_type = '${c.types.head}'
           |  AND us + ${c.withinMinutes * 60000000L} >= mx""".stripMargin)
        .collect().head.getLong(0)
      if (openOnly > 0) openWindowBit += 1
      // the kill-rule bite: some anchor must be excluded ONLY because a
      // mismatching in-window immediate event killed its partial — the
      // anchors the pre-r18 "every non-completing expired anchor"
      // semantics wrongly emitted
      val w = c.withinMinutes * 60000000L
      val killed = spark.sql(
        s"""WITH cev AS ($cev),
           |o AS (SELECT user_id, us, event_type,
           |    lead(event_type) OVER (PARTITION BY user_id
           |      ORDER BY us, event_id) AS t1,
           |    lead(us) OVER (PARTITION BY user_id
           |      ORDER BY us, event_id) AS u1
           |  FROM cev),
           |m AS (SELECT MAX(us) AS mx FROM cev)
           |SELECT COUNT(*) FROM o, m
           |WHERE event_type = '${c.types.head}' AND us + $w < mx
           |  AND u1 <= us + $w AND t1 <> '${c.types(1)}'""".stripMargin)
        .collect().head.getLong(0)
      if (killed > 0) killBit += 1
    }
    assert(withTimeouts >= 6,
      s"only $withTimeouts of 12 timeout seeds produced timeouts")
    assert(openWindowBit > 0,
      "no seed ever had a still-open tail window — the nowTs condition is untested")
    assert(killBit > 0,
      "no seed ever had a strict-kill-excluded anchor — the kill rule is untested")
  }

  /** The covered-span path of findTimeouts — anchors consumed INSIDE
    * another match are not timeouts even when their own chain fails —
    * needs OVERLAPPING step predicates (a step-0 row doubling as a
    * later element), which the disjoint-type restatement excludes by
    * construction. Oracle: an independent sequential simulator (greedy
    * left-to-right span scan + per-anchor chain check), applied per
    * user, on the general-predicate strict [[CepFuzzGen.Case]] family.
    */
  test("timeout covered-span semantics equal a sequential simulator under overlapping predicates") {
    import graft.cep.CEP
    import org.apache.spark.sql.functions.max
    import spark.implicits._
    val byUser = CepQueries.cepEvents(spark, dir).collect()
      .groupBy(_.user_id)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e.ts, e.event_id)).toIndexedSeq }
    val nowTs = byUser.values.flatMap(_.map(_.ts)).max
    var coveredBit = 0
    for (seed <- 1L to 12L) {
      val c0 = CepFuzzGen.gen(seed)
      val withinMs = c0.withinMinutes.getOrElse(120) * 60000000L
      val preds = c0.steps.map(_.fn)
      val k = preds.length
      def complete(es: IndexedSeq[CepFuzzGen.CE], i: Int): Boolean =
        i + k <= es.length &&
          (0 until k).forall(j => preds(j)(es(i + j))) &&
          es(i + k - 1).ts <= es(i).ts + withinMs
      // alive-at-expiry walk (the r18 reference-semantics rule): the
      // strict chain from anchor i PENDS iff it walks some prefix and
      // the next needed event is absent or beyond the window; an
      // in-window mismatching event KILLS it (no timeout)
      def pending(es: IndexedSeq[CepFuzzGen.CE], i: Int): Boolean = {
        var j = 1
        while (j < k) {
          val idx = i + j
          if (idx >= es.length || es(idx).ts > es(i).ts + withinMs)
            return true // waiting at expiry
          if (!preds(j)(es(idx))) return false // strict kill
          j += 1
        }
        false // complete
      }
      val expected = byUser.toSeq.flatMap { case (u, es) =>
        // greedy skip-past-last-row span scan (the simulator side of
        // the covered set — an array walk, not the NFA)
        val covered = Array.fill(es.length)(false)
        var j = 0
        while (j < es.length) {
          if (complete(es, j)) {
            (j until j + k).foreach(covered(_) = true)
            j += k
          } else j += 1
        }
        es.indices.filter { i =>
          !covered(i) && preds.head(es(i)) &&
            es(i).ts + withinMs < nowTs && !complete(es, i) &&
            pending(es, i)
        }.map(i => (u, es(i).event_id))
      }.sorted
      // covered must bite on some seed: a pred0 row inside a span whose
      // own chain fails and whose window closed — the case the naive
      // "pred0 and not complete" restatement would wrongly emit
      val naiveExtra = byUser.toSeq.flatMap { case (u, es) =>
        val covered = Array.fill(es.length)(false)
        var j = 0
        while (j < es.length) {
          if (complete(es, j)) { (j until j + k).foreach(covered(_) = true); j += k }
          else j += 1
        }
        es.indices.filter { i =>
          covered(i) && preds.head(es(i)) &&
            es(i).ts + withinMs < nowTs && !complete(es, i) &&
            pending(es, i)
        }
      }
      if (naiveExtra.nonEmpty) coveredBit += 1
      val pat0 = graft.cep.Pattern.begin[CepFuzzGen.CE]("s0")(preds.head)
      val pat = preds.tail.zipWithIndex.foldLeft(pat0) {
        case (p, (f, i)) => p.next(s"s${i + 1}")(f)
      }.within(withinMs)
      val actual = CEP.batchTimeouts[CepFuzzGen.CE](
          CepQueries.cepEvents(spark, dir), _.user_id.toString, _.ts,
          pat, nowTs, tieFn = _.event_id)
        .map(e => (e.user_id, e.event_id))
        .collect().toSeq.sorted
      assert(actual == expected,
        s"timeout covered seed $seed diverged: steps=${c0.steps} " +
          s"within=${withinMs / 60000000L}m " +
          s"(sim=${expected.length}, nfa=${actual.length})")
    }
    assert(coveredBit > 0,
      "no seed ever had a covered non-completing anchor — the covered path is untested")
  }

  /** The after-match JUMP strategies (SKIP TO FIRST/LAST `v` — the one
    * skip axis whose batch semantics had no independent ground truth;
    * the streaming property spec only pins streamed == batch): on
    * strict single-branch chains `A B{n} C` every consumed position is
    * a pure function of the anchor, so a sequential scan simulator
    * (emit + jump arithmetic on an array walk) states the entire scan —
    * which anchors are ever visited is exactly what the jump changes.
    * The resume position (buffer-trim contract for streaming) is
    * compared too, and the SQL front door's AFTER MATCH SKIP TO
    * FIRST/LAST clauses dual-run the same pattern text.
    */
  test("after-match jump strategies equal a sequential scan simulator per seed") {
    import scala.util.Random
    import graft.cep.{AfterMatchSkip, MatchRecognize, NFA, Pattern}
    val byUser = CepQueries.cepEvents(spark, dir).collect()
      .groupBy(_.user_id)
      .map { case (u, es) =>
        u -> es.sortBy(e => (e.ts, e.event_id)).toIndexedSeq }
    val ev = CepQueries.cepEvents(spark, dir).toDF()
    var jumpsDiffered = 0
    for (seed <- 1L to 10L) {
      val r = new Random(StreamFuzzGen.scramble(seed ^ 0x5c1b70L))
      val predA = CepFuzzGen.TypeIn(
        r.shuffle(Seq("click", "purchase", "view", "signup", "error"))
          .take(2 + r.nextInt(2)).sorted)
      val predB = CepFuzzGen.CentsGe((1 + r.nextInt(8)) * 2500L)
      val predC = CepFuzzGen.CentsGe((1 + r.nextInt(8)) * 2500L)
      val n = 1 + r.nextInt(3)
      val withinMs =
        if (r.nextInt(3) == 0) None else Some(Seq(240, 720, 1440)(r.nextInt(3)) * 60000000L)
      val k = n + 2
      val pat0 = Pattern.begin[CepFuzzGen.CE]("a")(predA.fn)
        .next("b")(predB.fn).times(n).consecutive
        .next("c")(predC.fn)
      val pat = withinMs.map(pat0.within).getOrElse(pat0)
      val nfa = new NFA[CepFuzzGen.CE](pat, _.ts)
      def complete(es: IndexedSeq[CepFuzzGen.CE], i: Int): Boolean =
        i + k <= es.length && predA.fn(es(i)) &&
          (1 to n).forall(j => predB.fn(es(i + j))) &&
          predC.fn(es(i + k - 1)) &&
          withinMs.forall(w => es(i + k - 1).ts <= es(i).ts + w)
      val strategies: Seq[(String, AfterMatchSkip, Int => Int)] = Seq(
        ("pastLast", AfterMatchSkip.SkipPastLastRow, (s: Int) => s + k),
        ("toNext", AfterMatchSkip.SkipToNext, (s: Int) => s + 1),
        ("noSkip", AfterMatchSkip.NoSkip, (s: Int) => s + 1),
        ("firstB", AfterMatchSkip.SkipToFirst("b"), (s: Int) => s + 1),
        ("lastB", AfterMatchSkip.SkipToLast("b"),
          (s: Int) => math.max(s + n, s + 1)),
        ("firstC", AfterMatchSkip.SkipToFirst("c"), (s: Int) => s + k - 1))
      val perStrategy = strategies.map { case (label, skip, jump) =>
        val sim = byUser.toSeq.map { case (u, es) =>
          val out = Seq.newBuilder[(Long, Long, Long)]
          var start = 0
          var lastJump = 0
          while (start < es.length) {
            if (complete(es, start)) {
              out += ((u, es(start).event_id, es(start + k - 1).event_id))
              start = jump(start)
              lastJump = start
            } else start += 1
          }
          (out.result(), u -> lastJump)
        }
        val simMatches = sim.flatMap(_._1).sorted
        val simResume = sim.map(_._2).toMap
        val gotPerUser = byUser.toSeq.map { case (u, es) =>
          val (ms, resume) = nfa.findMatchesResume(es, 0, skip)
          (ms.map { case (s, e, _) =>
            (u, es(s).event_id, es(e).event_id) }, u -> resume)
        }
        val got = gotPerUser.flatMap(_._1).sorted
        assert(got == simMatches,
          s"jump seed $seed [$label] diverged: n=$n within=$withinMs " +
            s"(sim=${simMatches.length}, nfa=${got.length})")
        gotPerUser.foreach { case (_, (u, resume)) =>
          assert(resume == simResume(u),
            s"jump seed $seed [$label] resume diverged for user $u: " +
              s"sim=${simResume(u)} nfa=$resume")
        }
        label -> simMatches
      }.toMap
      // the jump must BITE somewhere: firstC/lastB admit overlapping
      // re-anchors that pastLast suppresses — on some seed the match
      // sets must actually differ across strategies
      if (perStrategy.values.toSeq.distinct.length > 1) jumpsDiffered += 1
      // MR front door: the same pattern text under SKIP TO FIRST/LAST
      for ((mrSkip, apiLabel) <- Seq("SKIP TO FIRST B" -> "firstB",
        "SKIP TO LAST B" -> "lastB", "SKIP PAST LAST ROW" -> "pastLast")) {
        val within = withinMs
          .map(w => s"\nWITHIN INTERVAL '${w / 60000000L}' MINUTE")
          .getOrElse("")
        val clause =
          s"""PARTITION BY user_id
             |ORDER BY ts, event_id
             |MEASURES FIRST(A.event_id) AS a_id,
             |         LAST(C.event_id) AS z_id
             |ONE ROW PER MATCH
             |AFTER MATCH $mrSkip
             |PATTERN (A B{$n} C)$within
             |DEFINE A AS ${predA.sql("")},
             |       B AS ${predB.sql("")},
             |       C AS ${predC.sql("")}""".stripMargin
        val viaSql = MatchRecognize(ev, clause)
          .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2)))
          .sorted.toSeq
        assert(viaSql == perStrategy(apiLabel),
          s"jump seed $seed MR [$mrSkip] diverged " +
            s"(sim=${perStrategy(apiLabel).length}, sql=${viaSql.length})")
      }
    }
    assert(jumpsDiffered > 0,
      "no seed ever produced different match sets across jump strategies — the arm is degenerate")
  }

  test("NFA quantifier semantics equal brute-force enumeration on synthetic runs") {
    import scala.util.Random
    import graft.cep.{AfterMatchSkip, CEP, Contiguity, NFA, Pattern, Stage}
    val types = Seq("a", "b", "c")
    for (seed <- 1L to 40L) {
      val r = new Random(StreamFuzzGen.scramble(seed ^ 0xb507eL))
      // synthetic single-user run: dense repeats make quantifier loops
      // and backtracking the common case
      var ts = 0L
      val events = IndexedSeq.tabulate(120) { i =>
        ts += 1 + r.nextInt(5)
        CepFuzzGen.CE(1L, ts, types(r.nextInt(3)), i.toLong,
          r.nextInt(4) * 2500L)
      }
      def unitOf(first: Boolean): BUnit = {
        val pred: CepFuzzGen.CE => Boolean = r.nextInt(3) match {
          case 0 => val t = types(r.nextInt(3)); e => e.event_type == t
          case 1 =>
            val two = r.shuffle(types).take(2).toSet
            e => two.contains(e.event_type)
          case 2 => val c = r.nextInt(3) * 2500L; e => e.cents >= c
        }
        val min = (if (first) 1 else 0) + r.nextInt(2)
        val max =
          if (r.nextInt(4) == 0) Int.MaxValue
          else math.max(1, min) + r.nextInt(3)
        BUnit(pred, min, max, greedy = r.nextInt(3) != 0)
      }
      val units = unitOf(first = true) +:
        Seq.fill(1 + r.nextInt(2))(unitOf(first = false))
      val within = if (r.nextInt(3) == 0) None else Some(20L + r.nextInt(60))
      val pat0 = Pattern[CepFuzzGen.CE](
        units.zipWithIndex.map { case (u, i) =>
          Stage[CepFuzzGen.CE](s"s$i", u.pred, Contiguity.Strict,
            u.min, u.max, greedyLoop = u.greedy)
        }.toVector,
        withinMs = within)
      val nfa = new NFA[CepFuzzGen.CE](pat0, _.ts)
      val actual = nfa
        .findMatches(events, 0, AfterMatchSkip.SkipToNext)
        .map { case (s, e, _) => (s, e) }
      // the anchor stage consumes its first repetition unconditionally,
      // so a brute anchor whose unit-0 predicate fails is no anchor at
      // all — bruteStrict mirrors that
      val expected = bruteStrict(events, units, within)
      assert(actual == expected,
        s"brute seed $seed diverged: units=${units.map(u => (u.min, u.max))} " +
          s"within=$within (brute=${expected.length}, nfa=${actual.length})")
    }
  }

  test("MATCH_RECOGNIZE front door equals the Pattern-API NFA per seed") {
    import graft.cep.MatchRecognize
    val ev = CepQueries.cepEvents(spark, dir).toDF()
    for (seed <- 1L to 10L) {
      val c = CepFuzzGen.gen(seed)
      val viaSql = MatchRecognize(ev, CepFuzzGen.mrClause(c))
        .collect().map(_.toString).sorted.toSeq
      val viaApi = CepQueries.cepFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(viaApi == viaSql,
        s"MR dual-run diverged at strict seed $seed: steps=${c.steps} " +
          s"within=${c.withinMinutes} (sql=${viaSql.length}, api=${viaApi.length})")
    }
    for (seed <- 1L to 8L) {
      val c = CepFuzzGen.genQuant(seed)
      val viaSql = MatchRecognize(ev, c.mrClause)
        .collect().map(_.toString).sorted.toSeq
      val viaApi = CepQueries.cepQuantFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(viaApi == viaSql,
        s"MR dual-run diverged at quant seed $seed: arm=${c.arm} n=${c.n} " +
          s"within=${c.withinMinutes} (sql=${viaSql.length}, api=${viaApi.length})")
    }
  }

  test("incremental streaming CEP equals the batch NFA per fuzz seed") {
    import graft.cep.{AfterMatchSkip, CEP, Pattern}
    import spark.implicits._
    // (ts, id)-sorted replay: CEP.step's stable merge then sees ties
    // in id order, matching the batch tieFn = event_id convention
    val evs = CepQueries.cepEvents(spark, dir).collect().toSeq
      .sortBy(e => (e.ts, e.event_id))
    for (seed <- 1L to 6L) {
      val c = CepFuzzGen.gen(seed)
      val pat0 = Pattern.begin[CepFuzzGen.CE]("s0")(c.steps.head.fn)
      val patN = c.steps.tail.zipWithIndex.foldLeft(pat0) {
        case (p, (st, i)) => p.next(s"s${i + 1}")(st.fn)
      }
      val pat = c.withinMinutes
        .map(m => patN.within(m * 60000000L)).getOrElse(patN)
      val last = s"s${c.steps.length - 1}"
      val streamed = StreamQueries.replay(spark,
          evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq)(
        CEP.streaming[CepFuzzGen.CE](_,
            _.user_id.toString, _.ts, pat, maxBufferPerKey = Some(1 << 20),
            skip = AfterMatchSkip.SkipToNext)
          .map { m =>
            val st = m.stages.toMap
            (st("s0").head.user_id, st("s0").head.event_id,
              st(last).head.event_id)
          }.toDF("user_id", "a_id", "z_id"))
        .collect().toSeq.map(_.toString).sorted
      val batch = CepQueries.cepFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch,
        s"streaming CEP seed $seed diverged: steps=${c.steps} " +
          s"within=${c.withinMinutes} " +
          s"(batch=${batch.length}, streamed=${streamed.length})")
    }
  }

  test("streaming MATCH_RECOGNIZE equals batch MATCH_RECOGNIZE per fuzz seed") {
    import graft.cep.MatchRecognize
    import spark.implicits._
    val ev = CepQueries.cepEvents(spark, dir)
    val evs = ev.collect().toSeq.sortBy(e => (e.ts, e.event_id))
    def dual(clause: String, label: String): Unit = {
      val batch = MatchRecognize(ev.toDF(), clause)
        .collect().map(_.toString).sorted.toSeq
      // (ts, id)-sorted replay: streaming MR resolves same-ts ties by
      // ARRIVAL order (the reference CepOperator's contract), batch MR
      // by the secondary ORDER BY — the sorted feed makes them coincide
      val streamed = StreamQueries.replay(spark,
          evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq)(in =>
        MatchRecognize.streaming(in.toDF(), clause,
          maxBufferPerKey = Some(1 << 20)))
        .collect().toSeq.map(_.toString).sorted
      assert(streamed == batch,
        s"streaming MR diverged at $label: " +
          s"(batch=${batch.length}, streamed=${streamed.length})\n$clause")
    }
    for (seed <- 1L to 4L) dual(CepFuzzGen.mrClause(CepFuzzGen.gen(seed)),
      s"strict seed $seed")
    for (seed <- 1L to 4L) dual(CepFuzzGen.genQuant(seed).mrClause,
      s"quant seed $seed")
  }

  test("NFA matches equal the LEAD window restatement per seed") {
    for (seed <- 1L to 12L) {
      val c = CepFuzzGen.gen(seed)
      val k = c.steps.length
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("us"), col("event_id"))
      var o = Q.t(spark, dir, "events")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_type"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"))
      for (i <- 1 until k) {
        o = o.withColumn(s"event_type_$i", lead(col("event_type"), i).over(w))
          .withColumn(s"event_id_$i", lead(col("event_id"), i).over(w))
          .withColumn(s"cents_$i", lead(col("cents"), i).over(w))
          .withColumn(s"us_$i", lead(col("us"), i).over(w))
      }
      val preds = c.steps.zipWithIndex.map { case (p, i) =>
        p.sql(if (i == 0) "" else s"_$i")
      } ++ c.withinMinutes.map(m =>
        s"us_${k - 1} <= us + ${m * 60000000L}")
      val expected = o.filter(preds.map(p => s"($p)").mkString(" AND "))
        .select(col("user_id"), col("event_id").as("a_id"),
          col(s"event_id_${k - 1}").as("z_id"))
        .collect().map(_.toString).sorted.toSeq
      val actual = CepQueries.cepFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"cep seed $seed diverged: steps=${c.steps} " +
          s"within=${c.withinMinutes} " +
          s"(lead-plan=${expected.length} rows, nfa=${actual.length})")
    }
  }
}
