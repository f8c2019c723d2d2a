package graft.cep

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Micro-batch split independence — THE streaming CEP correctness
  * property: for an in-order stream, however the events are cut into
  * micro-batches, folding them through CEP.step must emit exactly the
  * matches that batch findMatches produces on the whole sequence (same
  * consumed events, same order). This pins the sorted-merge buffer, the
  * incremental anchor frontier, and the within-horizon eviction against
  * the batch semantics.
  */
class CepStepPropertySpec extends AnyFunSuite {

  private case class E(ts: Long, kind: Char)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  private val genEvents: Gen[IndexedSeq[E]] =
    Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(ks =>
      ks.zipWithIndex.map { case (k, i) => E(i.toLong, k) }.toIndexedSeq)

  /** Random cut points → consecutive micro-batches covering the stream. */
  private def genSplits(n: Int): Gen[List[Int]] =
    Gen.listOf(Gen.choose(0, math.max(0, n - 1))).map(cs =>
      (cs :+ n).distinct.sorted)

  private def pat: Pattern[E] =
    Pattern.begin[E]("a")(_.kind == 'a').oneOrMore.consecutive
      .next("b")(_.kind == 'b')
      .within(6)

  private def consumed(ms: Seq[(Int, Int, Seq[(String, Seq[E])])]): Seq[Seq[E]] =
    ms.map(_._3.flatMap(_._2))

  test("match identity is value-based: fresh instances, arrays included") {
    // the dedupe key must survive a state round-trip, where events
    // deserialize to NEW instances — and must not depend on hashCode,
    // which is reference-based for arrays
    case class AE(ts: Long, payload: Array[Byte])
    def mk(): IndexedSeq[AE] =
      (0L to 3L).map(i => AE(i, Array(i.toByte, (i + 1).toByte)))
    val all1 = mk()
    val all2 = mk() // distinct instances, equal content
    val m1 = Seq(("a", Seq(all1(1))), ("b", Seq(all1(2), all1(3))))
    val m2 = Seq(("a", Seq(all2(1))), ("b", Seq(all2(2), all2(3))))
    assert(CEP.matchKey(all1, 1, m1, (_: AE).ts) ==
      CEP.matchKey(all2, 1, m2, (_: AE).ts))
    // a different consumed-event set at the same timestamps but a
    // different anchor offset gets a different key
    val m3 = Seq(("a", Seq(all1(0))), ("b", Seq(all1(2), all1(3))))
    assert(CEP.matchKey(all1, 0, m3, (_: AE).ts) !=
      CEP.matchKey(all1, 1, m1, (_: AE).ts))
  }

  test("any micro-batch split of an in-order stream reproduces batch matches") {
    check(Prop.forAll(genEvents.suchThat(_.nonEmpty)) { events =>
      Prop.forAll(genSplits(events.length)) { cuts =>
        val p = pat
        val nfa = new NFA[E](p, _.ts)
        val batchMatches = consumed(nfa.findMatches(events))

        var st = CEP.StepState.empty[E]
        val streamed = Seq.newBuilder[Seq[E]]
        var prev = 0
        cuts.foreach { c =>
          if (c > prev) {
            val (ms, next) =
              CEP.step[E](st, events.slice(prev, c), p, nfa, _.ts, None)
            streamed ++= consumed(ms)
            st = next
            prev = c
          }
        }
        // events after the last cut
        if (prev < events.length) {
          val (ms, next) =
            CEP.step[E](st, events.slice(prev, events.length), p, nfa, _.ts, None)
          streamed ++= consumed(ms)
          st = next
        }
        streamed.result() == batchMatches
      }
    })
  }

  test("every skip strategy reproduces batch matches under any split") {
    val strategies: Seq[AfterMatchSkip] = Seq(
      AfterMatchSkip.SkipPastLastRow, AfterMatchSkip.NoSkip,
      AfterMatchSkip.SkipToNext, AfterMatchSkip.SkipToFirst("a"),
      AfterMatchSkip.SkipToLast("a"))
    strategies.foreach { skip =>
      check(Prop.forAll(genEvents.suchThat(_.nonEmpty)) { events =>
        Prop.forAll(genSplits(events.length)) { cuts =>
          val p = pat
          val nfa = new NFA[E](p, _.ts)
          val batchMatches = consumed(nfa.findMatches(events, 0, skip))

          var st = CEP.StepState.empty[E]
          val streamed = Seq.newBuilder[Seq[E]]
          var prev = 0
          (cuts :+ events.length).distinct.sorted.foreach { c =>
            if (c > prev) {
              val (ms, next) = CEP.step[E](
                st, events.slice(prev, c), p, nfa, _.ts, None, skip)
              streamed ++= consumed(ms)
              st = next
              prev = c
            }
          }
          val got = streamed.result()
          if (got == batchMatches) Prop.passed
          else Prop.falsified :| s"skip=$skip got=$got batch=$batchMatches"
        }
      })
    }
  }

  test("emitted-identity state evicts with its anchors (overlap strategies)") {
    check(Prop.forAll(genEvents.suchThat(_.nonEmpty)) { events =>
      Prop.forAll(genSplits(events.length)) { cuts =>
        val p = pat
        val nfa = new NFA[E](p, _.ts)
        var st = CEP.StepState.empty[E]
        var prev = 0
        var ok = true
        (cuts :+ events.length).distinct.sorted.foreach { c =>
          if (c > prev) {
            val (_, next) = CEP.step[E](
              st, events.slice(prev, c), p, nfa, _.ts, None,
              AfterMatchSkip.NoSkip)
            st = next
            prev = c
            val headTs = st.buffer.headOption.map(_.ts).getOrElse(Long.MaxValue)
            // every tracked identity's anchor is still inside the buffer,
            // and the buffer itself respects the within horizon
            ok = ok && st.emitted.values.forall(_ >= headTs) &&
              st.buffer.forall(e => e.ts >= events(c - 1).ts - 6)
          }
        }
        ok
      }
    })
  }

  test("buffer stays bounded by the within horizon under any split") {
    check(Prop.forAll(genEvents.suchThat(_.nonEmpty)) { events =>
      Prop.forAll(genSplits(events.length)) { cuts =>
        val p = pat
        val nfa = new NFA[E](p, _.ts)
        var buf = IndexedSeq.empty[E]
        var prev = 0
        var ok = true
        (cuts.filter(_ > 0) :+ events.length).distinct.sorted.foreach { c =>
          if (c > prev) {
            val (_, next) = CEP.step[E](
              CEP.StepState(buf, Map.empty), events.slice(prev, c), p, nfa, _.ts, None)
            buf = next.buffer
            prev = c
            // every retained event is within the horizon of the max seen ts
            val maxTs = events(c - 1).ts
            ok = ok && buf.forall(e => e.ts >= maxTs - 6)
          }
        }
        ok
      }
    })
  }
}
