package graft.streaming

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import TemporalJoin.advance

/** Properties of the temporal-join core: resolution matches a
  * brute-force as-of model, and version GC is SAFE — evicting versions
  * superseded at the watermark can never change the resolution of any
  * probe the watermark has not yet released.
  */
class TemporalAdvancePropertySpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  private val genVersions: Gen[Seq[(Long, Long)]] =
    Gen.listOf(Gen.choose(0L, 50L)).map(_.distinct.map(ts => ts -> (ts * 10)))

  /** Probes as (ts, probeId). */
  private val genProbes: Gen[Seq[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 60L), Gen.choose(0L, 1000L)))

  /** Brute-force as-of model: latest version at or before the probe. */
  private def model(versions: Seq[(Long, Long)], ts: Long): Option[(Long, Long)] =
    versions.filter(_._1 <= ts).sortBy(_._1).lastOption

  test("advance resolves exactly the released probes, per the as-of model") {
    check(Prop.forAll(genVersions, genProbes, Gen.choose(0L, 60L)) { (vs, ps, wm) =>
      val (out, remaining, _) = advance(ps, vs, wm)
      val releasedOk = out.forall { case (probeTs, _, matched) =>
        matched == model(vs, probeTs)
      }
      val partitionOk =
        out.map(_._2).toSet ++ remaining.map(_._2).toSet ==
          ps.map(_._2).toSet &&
        out.forall(_._1 <= wm) && remaining.forall(_._1 > wm)
      releasedOk && partitionOk
    })
  }

  test("version GC never changes any future probe's resolution") {
    check(Prop.forAll(genVersions, Gen.choose(0L, 60L)) { (vs, wm) =>
      val (_, _, evicted) = advance(Seq.empty[(Long, Long)], vs, wm)
      val retained = vs.filterNot(v => evicted.contains(v._1))
      // every probe the watermark has NOT released resolves identically
      // against the full history and the GC'd history
      (wm + 1 to 61L).forall { futureTs =>
        model(vs, futureTs) == model(retained, futureTs)
      }
    })
  }
}
