package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The lookup-join differential-fuzz layer ([[LookupFuzzGen]]) in CI
  * form: per seed, the deterministic fake store (clean-miss /
  * transient-fail / permanent-fail key classes) drives THREE routes —
  * the sync [[graft.operators.LookupJoin]] path (LRU cache + miss-retry
  * wrapper), and the [[graft.operators.AsyncOps]] ordered and unordered
  * paths (future ladder per invocation via AsyncRetryStrategies) — and
  * all three must equal the closed-form CASE restatement. Cache
  * evictions, partitioning, concurrent ladders, and completion order
  * must not be observable in the result. The cross-engine half:
  * promoted seeds run as `q_fuzz_lookup_*` against the same CASE in
  * DuckDB.
  */
class LookupFuzzSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(LookupFuzzGen.gen(s) == LookupFuzzGen.gen(s))
    val cs = (1L to 24L).map(LookupFuzzGen.gen)
    assert(cs.map(_.cacheSize).distinct.length == 3)
    assert(cs.exists(_.failMod > 3) && cs.exists(_.maxRetries == 0))
    assert(cs.map(_.keyMod).distinct.length == 3)
  }

  test("promoted seeds cover eviction-heavy and permanent-failure shapes") {
    val shapes = FuzzQueries.lookupSeeds.map(LookupFuzzGen.gen)
    assert(shapes.exists(_.cacheSize == 1))
    assert(shapes.exists(c => c.failMod > c.maxRetries + 1))
  }

  test("ttl generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(LookupFuzzGen.genTtl(s) == LookupFuzzGen.genTtl(s))
    val cs = (1L to 24L).map(LookupFuzzGen.genTtl)
    assert(cs.exists(_.accessMode) && cs.exists(!_.accessMode))
    assert(cs.exists(c => c.ttl > c.versionPeriod) &&
      cs.exists(c => c.ttl < c.versionPeriod))
    assert(cs.map(_.ttl).distinct.length == 3)
  }

  /** Reference simulator for the documented TTL semantics — the chain the
    * oracle SQL restates, independently coded (sequential fold here,
    * recursive CTE / islands there).
    */
  private def simulateTtl(rows: Seq[(Long, Long)],
      c: LookupFuzzGen.TtlCase): Seq[(Long, Long, Long)] = {
    val st = scala.collection.mutable.Map[Long, (Long, Long)]() // k -> (write, access)
    rows.zipWithIndex.map { case ((id, k), i) =>
      val t = i.toLong
      val w = st.get(k) match {
        case Some((write, access))
            if (if (c.accessMode) t - access < c.ttl else t - write < c.ttl) =>
          st(k) = (write, t)
          write
        case _ =>
          st(k) = (t, t)
          t
      }
      val v = if (k % c.dimMod == c.dimRes) -1L
        else k * 31 + 7 + 1000L * (w / c.versionPeriod)
      (id, k, v)
    }
  }

  test("ttl lookup replay serves exactly the documented staleness window per seed") {
    var staleServes = 0
    for (seed <- 1L to 8L) {
      val c = LookupFuzzGen.genTtl(seed)
      // single-partition sorted feed → collect preserves tick order
      val probes = LookupFuzzGen
        .sortedProbes(spark, dir, c.filterSql, c.keyMod).collect().toSeq
      val expected = simulateTtl(probes, c)
      val actual = LookupFuzzGen.replayTtl(spark, dir, c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(actual.sorted == expected.sorted,
        s"ttl seed $seed diverged: mode=${if (c.accessMode) "access" else "write"} " +
          s"ttl=${c.ttl} period=${c.versionPeriod} keyMod=${c.keyMod} " +
          s"(expected=${expected.length}, got=${actual.length})")
      // a STALE serve is a hit whose write tick sits in an older version
      // period than the probe's own tick — the observable the arm exists
      // to gate
      expected.zipWithIndex.foreach { case ((_, k, v), i) =>
        if (v != -1 && (v - (k * 31 + 7)) / 1000 != i / c.versionPeriod)
          staleServes += 1
      }
    }
    assert(staleServes > 0,
      "no seed in 1..8 ever served a stale version — the arm is degenerate")
  }

  test("full-cache generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(LookupFuzzGen.genFull(s) == LookupFuzzGen.genFull(s))
    val cs = (1L to 24L).map(LookupFuzzGen.genFull)
    assert(cs.exists(c => c.reloadEvery > c.versionPeriod) &&
      cs.exists(c => c.reloadEvery < c.versionPeriod))
    assert(cs.map(_.reloadEvery).distinct.length == 3)
  }

  test("full-cache replay serves exactly the reload-pinned snapshot per seed") {
    var staleServes = 0
    for (seed <- 1L to 8L) {
      val c = LookupFuzzGen.genFull(seed)
      val probes = LookupFuzzGen
        .sortedProbes(spark, dir, c.filterSql, c.keyMod).collect().toSeq
      // closed form: the snapshot serving tick i was loaded at the first
      // tick of i's reload epoch
      val expected = probes.zipWithIndex.map { case ((id, k), i) =>
        val v = if (k % c.dimMod == c.dimRes) -1L
          else k * 31 + 7 +
            1000L * (i / c.reloadEvery * c.reloadEvery / c.versionPeriod)
        (id, k, v)
      }
      val actual = LookupFuzzGen.replayFull(spark, dir, c)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(actual.sorted == expected.sorted,
        s"full-cache seed $seed diverged: reload=${c.reloadEvery} " +
          s"period=${c.versionPeriod} keyMod=${c.keyMod} " +
          s"(expected=${expected.length}, got=${actual.length})")
      // stale serve = snapshot version older than the store's version at
      // the probe's own tick
      expected.zipWithIndex.foreach { case ((_, k, v), i) =>
        if (v != -1 && (v - (k * 31 + 7)) / 1000 != i / c.versionPeriod)
          staleServes += 1
      }
    }
    assert(staleServes > 0,
      "no seed in 1..8 ever served a stale snapshot — the arm is degenerate")
  }

  test("promoted full-cache seed pins a reload-spans-versions shape") {
    val shapes = FuzzFamilies.lookupFull.seeds.map(LookupFuzzGen.genFull)
    assert(shapes.exists(c => c.reloadEvery > c.versionPeriod))
  }

  test("promoted ttl seeds pin one write-mode stale-heavy and one access-mode shape") {
    val shapes = FuzzFamilies.lookupTtl.seeds.map(LookupFuzzGen.genTtl)
    assert(shapes.exists(c => !c.accessMode && c.ttl > c.versionPeriod))
    assert(shapes.exists(_.accessMode))
  }

  test("sync, ordered-async, and unordered-async lookup routes match the closed form per seed") {
    for (seed <- 1L to 6L) {
      val c = LookupFuzzGen.gen(seed)
      val expected = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(col("event_id"), (col("user_id") % c.keyMod).as("k"))
        .withColumn("v",
          when(col("k") % c.dimMod =!= c.dimRes &&
            col("k") % c.failMod <= c.maxRetries,
            col("k") * 31 + 7).otherwise(lit(-1L)))
        .collect().map(_.toString).sorted.toSeq
      // up to 5 rows from each side of the difference, so a one-off
      // failure names the rows it lost or invented
      def delta(got: Seq[String]): String =
        s"expected-got=${expected.diff(got).take(5).mkString("[", ", ", "]")} " +
          s"got-expected=${got.diff(expected).take(5).mkString("[", ", ", "]")}"
      val sync = LookupFuzzGen.replay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(sync == expected,
        s"lookup seed $seed SYNC diverged: keyMod=${c.keyMod} " +
          s"dim=k%${c.dimMod}!=${c.dimRes} fail=k%${c.failMod} " +
          s"retries=${c.maxRetries} cache=${c.cacheSize} " +
          s"(expected=${expected.length}, got=${sync.length}) ${delta(sync)}")
      for (ordered <- Seq(true, false)) {
        val async = LookupFuzzGen.replayAsync(spark, dir, c, ordered)
          .collect().map(_.toString).sorted.toSeq
        assert(async == expected,
          s"lookup seed $seed ASYNC(ordered=$ordered) diverged " +
            s"(expected=${expected.length}, got=${async.length}) ${delta(async)}")
      }
    }
  }
}
