package graft.cep

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSuite

/** NFA + CEP specs mirroring the reference's pattern semantics
  * (Pattern.java quantifiers, NFA.java matching, MatchRecognizeITCase
  * shapes): strict vs relaxed contiguity, times/oneOrMore/optional,
  * within-windows, skip-past-last-row, and the batch/streaming executors.
  */
case class Ev(key: String, ts: Long, kind: String, v: Long)

class CepSpec extends SparkSuite {
  import spark.implicits._

  private def nfa(p: Pattern[Ev]) = new NFA[Ev](p, _.ts)
  private def evs(kinds: String*): IndexedSeq[Ev] =
    kinds.zipWithIndex.map { case (k, i) => Ev("k", i.toLong, k, i.toLong) }.toIndexedSeq

  test("strict next requires adjacency; followedBy allows gaps") {
    val strict = Pattern.begin[Ev]("a")(_.kind == "A").next("b")(_.kind == "B")
    val relaxed = Pattern.begin[Ev]("a")(_.kind == "A").followedBy("b")(_.kind == "B")
    val seq = evs("A", "X", "B")
    assert(nfa(strict).findMatches(seq).isEmpty)
    val m = nfa(relaxed).findMatches(seq)
    assert(m.size == 1 && m.head._1 == 0 && m.head._2 == 2)
  }

  test("times(n) consumes exactly n; backtracks to close when short") {
    val p = Pattern.begin[Ev]("fail")(_.kind == "F").times(3)
      .followedBy("ok")(_.kind == "S")
    assert(nfa(p).findMatches(evs("F", "F", "F", "S")).size == 1)
    assert(nfa(p).findMatches(evs("F", "F", "S")).isEmpty)
    // times(1,2) strict-closing fallback: 1 rep then next stage
    val p2 = Pattern.begin[Ev]("f")(_.kind == "F").times(1, 2)
      .next("s")(_.kind == "S")
    val m = nfa(p2).findMatches(evs("F", "S"))
    assert(m.size == 1)
  }

  test("or-condition widens a stage; timesOrMore sets an open repetition floor") {
    val p = Pattern.begin[Ev]("ab")(_.kind == "A").or(_.kind == "B").timesOrMore(2)
      .followedBy("c")(_.kind == "C")
    val m = nfa(p).findMatches(evs("A", "B", "A", "C"))
    assert(m.size == 1)
    assert(m.head._3.toMap.apply("ab").size == 3) // greedy: all three
    assert(nfa(p).findMatches(evs("A", "C")).isEmpty) // below the floor
  }

  test("oneOrMore is greedy") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A").oneOrMore
      .followedBy("b")(_.kind == "B")
    val m = nfa(p).findMatches(evs("A", "A", "A", "B"))
    assert(m.size == 1)
    val stages = m.head._3.toMap
    assert(stages("a").size == 3) // greedy: all three As
  }

  test("optional stage may be skipped") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedBy("x")(_.kind == "X").optional
      .followedBy("b")(_.kind == "B")
    assert(nfa(p).findMatches(evs("A", "X", "B")).head._3.toMap.apply("x").size == 1)
    assert(nfa(p).findMatches(evs("A", "B")).head._3.toMap.apply("x").isEmpty)
  }

  test("notNext: immediately following event must not match") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .notNext(_.kind == "X")
      .followedBy("b")(_.kind == "B")
    assert(nfa(p).findMatches(evs("A", "X", "B")).isEmpty)  // X right after A
    assert(nfa(p).findMatches(evs("A", "Y", "B")).size == 1) // Y is fine
  }

  test("notFollowedBy: no forbidden event anywhere in the gap") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .notFollowedBy(_.kind == "X")
      .followedBy("b")(_.kind == "B")
    assert(nfa(p).findMatches(evs("A", "Y", "X", "Y", "B")).isEmpty)
    assert(nfa(p).findMatches(evs("A", "Y", "Y", "B")).size == 1)
    // the forbidden event AFTER the match is irrelevant
    assert(nfa(p).findMatches(evs("A", "B", "X")).size == 1)
  }

  test("terminal notFollowedBy with within rejects matches followed by X in-window") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedBy("b")(_.kind == "B")
      .notFollowedBy(_.kind == "X")
      .within(10)
    // evs assigns ts = index; X at ts 2 is inside [0, 10]
    assert(nfa(p).findMatches(evs("A", "B", "X")).isEmpty)
    assert(nfa(p).findMatches(evs("A", "B", "Y")).size == 1)
    // X outside the window does not reject
    val far = IndexedSeq(Ev("k", 0, "A", 0), Ev("k", 1, "B", 0), Ev("k", 100, "X", 0))
    assert(nfa(p).findMatches(far).size == 1)
  }

  test("followedByAny branches over every candidate (NO_SKIP)") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedByAny("b")(_.kind == "B")
    // A B B: deterministic followedBy gives one greedy match; Any + NoSkip
    // yields a branch per B candidate
    val seq = evs("A", "B", "B")
    val det = Pattern.begin[Ev]("a")(_.kind == "A").followedBy("b")(_.kind == "B")
    assert(nfa(det).findMatches(seq, 0, AfterMatchSkip.NoSkip).size == 1)
    val m = nfa(p).findMatches(seq, 0, AfterMatchSkip.NoSkip)
    assert(m.map(x => (x._1, x._2)) == Seq((0, 1), (0, 2)))
  }

  test("until stops a loop without consuming the stopping event") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A").oneOrMore
      .until(_.kind == "STOP")
      .followedBy("b")(_.kind == "B")
    // run of As is cut by STOP: only A@0,A@1 count, then B completes
    val m = nfa(p).findMatches(evs("A", "A", "STOP", "A", "B"))
    assert(m.size == 1)
    assert(m.head._3.toMap.apply("a").map(_.v) == Seq(0L, 1L))
  }

  test("subtype restricts a stage via class check") {
    // Ev is final; demonstrate via the class-check composition on Any
    val p = Pattern.begin[Any]("x")(_ => true).subtype(classOf[String])
    val n = new NFA[Any](p, _ => 0L)
    val m = n.findMatches(IndexedSeq[Any](42, "hit", 7.5))
    assert(m.size == 1 && m.head._3.head._2 == Seq("hit"))
  }

  test("skip-to-next allows overlapping matches; skip-past-last-row does not") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A").times(2)
    val seq = evs("A", "A", "A")
    assert(nfa(p).findMatches(seq).map(x => (x._1, x._2)) == Seq((0, 1)))
    assert(nfa(p).findMatches(seq, 0, AfterMatchSkip.SkipToNext)
      .map(x => (x._1, x._2)) == Seq((0, 1), (1, 2)))
  }

  test("skip-to-first/last resume at the named stage's events") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedBy("b")(_.kind == "B").oneOrMore
    val seq = evs("A", "B", "A", "B")
    // SKIP TO LAST b: after match [A@0, b=[B@1... greedy b takes B@1,B@3?
    // relaxed oneOrMore greedy consumes B@1 and B@3 → match spans 0..3
    val greedy = nfa(p).findMatches(seq)
    assert(greedy.size == 1 && greedy.head._2 == 3)
    // SKIP TO FIRST b resumes at index of B@1 → finds the A@2 B@3 match too
    val stf = nfa(p).findMatches(seq, 0, AfterMatchSkip.SkipToFirst("b"))
    assert(stf.map(x => (x._1, x._2)) == Seq((0, 3), (2, 3)))
  }

  test("MATCH_RECOGNIZE parses AFTER MATCH SKIP TO NEXT ROW") {
    import spark.implicits._
    val df = Seq(("k", 1L, "a"), ("k", 2L, "a"), ("k", 3L, "a"))
      .toDF("k", "seq", "t")
    val out = MatchRecognize(df,
      """PARTITION BY k
        |ORDER BY seq
        |MEASURES FIRST(A.seq) AS s, LAST(A.seq) AS e
        |AFTER MATCH SKIP TO NEXT ROW
        |PATTERN (A{2})
        |DEFINE A AS t = 'a'""".stripMargin)
      .as[(String, Long, Long)].collect().toSet
    // overlapping pairs, vs {(1,2)} only under SKIP PAST LAST ROW
    assert(out == Set(("k", 1L, 2L), ("k", 2L, 3L)))
  }

  test("within bounds first-to-last event time") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedBy("b")(_.kind == "B").within(5)
    val in = IndexedSeq(Ev("k", 0, "A", 0), Ev("k", 4, "B", 0))
    val out = IndexedSeq(Ev("k", 0, "A", 0), Ev("k", 10, "B", 0))
    assert(nfa(p).findMatches(in).size == 1)
    assert(nfa(p).findMatches(out).isEmpty)
  }

  test("skip past last row yields non-overlapping matches") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A").next("b")(_.kind == "B")
    val m = nfa(p).findMatches(evs("A", "B", "A", "B", "A"))
    assert(m.map(x => (x._1, x._2)) == Seq((0, 1), (2, 3)))
  }

  test("timed-out anchors surface as timeout output") {
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .followedBy("b")(_.kind == "B").within(5)
    val seq = IndexedSeq(
      Ev("k", 0, "A", 1),   // times out: no B within [0, 5]
      Ev("k", 10, "A", 2),  // completes with B@12
      Ev("k", 12, "B", 3),
      Ev("k", 20, "A", 4))  // window still open at now=23
    val timeouts = nfa(p).findTimeouts(seq, nowTs = 23)
    assert(timeouts.map(_.v) == Seq(1L))
    // once now passes 25, the third anchor times out too
    assert(nfa(p).findTimeouts(seq, nowTs = 26).map(_.v) == Seq(1L, 4L))
  }

  test("a notNext stop state kills the partial: no timeout") {
    // alive-at-expiry under a RELAXED stage guarded by notNext: the
    // in-window immediate N discards the partial match silently (the
    // reference's stop state), while a neutral gap event leaves it
    // pending — only the pending anchor reaches the timeout output
    val p = Pattern.begin[Ev]("a")(_.kind == "A")
      .notNext(_.kind == "N")
      .followedBy("b")(_.kind == "B").within(5)
    val seq = IndexedSeq(
      Ev("k", 0, "A", 1),   // killed: N@1 is the immediate next event
      Ev("k", 1, "N", 2),
      Ev("k", 10, "A", 3),  // pends: X ignored by relaxed scan, no B
      Ev("k", 11, "X", 4))
    assert(nfa(p).findTimeouts(seq, nowTs = 20).map(_.v) == Seq(3L))
  }

  test("until at the immediate next event kills a relaxed loop: no timeout") {
    // The event right after the anchor matches BOTH the loop predicate
    // and the until condition. matchesAt blocks the extension
    // pre-dispatch (until wins at the candidate position), so the only
    // surviving branch closes into the strict-`next` tail, which the
    // same event kills — the anchor's partial is DEAD, not pending, and
    // must not reach the timeout output. (The AU event itself also
    // anchors a partial that pends with no further events: it DOES time
    // out, pinning that aliveness and kill are decided per-anchor.)
    val p = Pattern.begin[Ev]("a")(_.v >= 0).oneOrMore
      .until(_.kind == "AU")
      .next("b")(_.kind == "B").within(5)
    val seq = IndexedSeq(
      Ev("k", 0, "A", 1),   // killed: AU blocks the loop, then kills b's strict next
      Ev("k", 1, "AU", 2))  // pends as its own anchor: nothing follows
    assert(nfa(p).findTimeouts(seq, nowTs = 20).map(_.v) == Seq(2L))
    // sanity: with a neutral gap event instead, the first anchor pends too
    val neutral = IndexedSeq(Ev("k", 0, "A", 1), Ev("k", 1, "A", 2))
    assert(nfa(p).findTimeouts(neutral, nowTs = 20).map(_.v) == Seq(1L, 2L))
  }

  test("batch CEP finds matches per key over unsorted input") {
    val p = Pattern.begin[Ev]("fail")(_.kind == "F").times(2)
      .followedBy("ok")(_.kind == "S")
    val data = Seq(
      Ev("u1", 3, "S", 0), Ev("u1", 1, "F", 0), Ev("u1", 2, "F", 0),
      Ev("u2", 1, "F", 0), Ev("u2", 2, "S", 0),
      Ev("u3", 1, "F", 0), Ev("u3", 2, "F", 0), Ev("u3", 3, "S", 0))
    val out = CEP.batch[Ev](data.toDS(), _.key, _.ts, p).collect()
    assert(out.map(_.key).sorted.toSeq == Seq("u1", "u3"))
    val u1 = out.find(_.key == "u1").get
    assert(u1.startTs == 1 && u1.endTs == 3)
  }

  test("streaming CEP matches across micro-batches with buffer state") {
    import org.apache.spark.sql.streaming.StreamingQuery
    implicit val sqlCtx = spark.sqlContext
    val p = Pattern.begin[Ev]("fail")(_.kind == "F").times(2)
      .followedBy("ok")(_.kind == "S")
    val input = MemoryStream[Ev]
    val out = CEP.streaming[Ev](input.toDS(), _.key, _.ts, p,
        maxBufferPerKey = Some(1000))
      .map(m => (m.key, m.startTs, m.endTs))
    val name = s"cep_${System.nanoTime()}"
    val q: StreamingQuery = out.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      input.addData(Seq(Ev("u1", 1, "F", 0), Ev("u1", 2, "F", 0)))
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // incomplete: waiting for S
      input.addData(Seq(Ev("u1", 3, "S", 0)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Long)].collect().toSet
      assert(rows == Set(("u1", 1L, 3L)))
      // buffer trimmed past the match: a lone S must not re-match
      input.addData(Seq(Ev("u1", 4, "S", 0)))
      q.processAllAvailable()
      assert(spark.table(name).count() == 1)
    } finally q.stop()
  }

  test("streaming CEP requires a state bound (within or cap)") {
    implicit val sqlCtx = spark.sqlContext
    val unbounded = Pattern.begin[Ev]("a")(_.kind == "F")
    val input = MemoryStream[Ev]
    intercept[IllegalArgumentException] {
      CEP.streaming[Ev](input.toDS(), _.key, _.ts, unbounded)
    }
  }

  test("step: within-horizon eviction bounds the buffer when nothing matches") {
    // pattern that never matches: F then G (no G ever arrives)
    val p = Pattern.begin[Ev]("f")(_.kind == "F")
      .next("g")(_.kind == "G").within(100)
    val nfa = new NFA[Ev](p, _.ts)
    var buf = IndexedSeq.empty[Ev]
    // feed 50 batches of 20 events each, timestamps advancing 10 apart
    (0 until 50).foreach { b =>
      val fresh = (0 until 20).map(i => Ev("k", b * 200L + i * 10L, "F", 0))
      val (ms, next) = CEP.step[Ev](CEP.StepState(buf, Map.empty), fresh, p, nfa, _.ts, None)
      assert(ms.isEmpty)
      buf = next.buffer
      // events whose within-window closed are evicted: buffer holds at
      // most the last `within` span (100ms / 10ms spacing + 1 = 11 events)
      assert(buf.size <= 11, s"buffer grew to ${buf.size} at batch $b")
    }
  }

  test("step: maxBufferPerKey caps state without within") {
    val p = Pattern.begin[Ev]("f")(_.kind == "F").next("g")(_.kind == "G")
    val nfa = new NFA[Ev](p, _.ts)
    var buf = IndexedSeq.empty[Ev]
    (0 until 30).foreach { b =>
      val fresh = (0 until 10).map(i => Ev("k", b * 10L + i, "F", 0))
      val (_, next) = CEP.step[Ev](CEP.StepState(buf, Map.empty), fresh, p, nfa, _.ts, Some(25))
      buf = next.buffer
    }
    assert(buf.size == 25)
    // the cap keeps the NEWEST events
    assert(buf.last.ts == 299L)
  }

  test("step: incremental scan still finds matches spanning old and new batches") {
    val p = Pattern.begin[Ev]("f")(_.kind == "F")
      .next("g")(_.kind == "G").within(1000)
    val nfa = new NFA[Ev](p, _.ts)
    // batch 1: F alone (no match), batch 2: adjacent G completes it
    val (m1, st1) = CEP.step[Ev](CEP.StepState.empty, Seq(Ev("k", 10, "F", 0)), p, nfa, _.ts, None)
    assert(m1.isEmpty && st1.buffer.size == 1)
    val (m2, st2) = CEP.step[Ev](st1, Seq(Ev("k", 20, "G", 0)), p, nfa, _.ts, None)
    assert(m2.size == 1)
    assert(st2.buffer.isEmpty) // matched events trimmed (skip past last row)
  }

  test("step: out-of-order arrival merges into sorted buffer") {
    val p = Pattern.begin[Ev]("f")(_.kind == "F")
      .next("g")(_.kind == "G").within(1000)
    val nfa = new NFA[Ev](p, _.ts)
    // G arrives first, F (earlier ts) arrives out of order in batch 2:
    // the merged sorted buffer makes them adjacent → match
    val (m1, st1) = CEP.step[Ev](CEP.StepState.empty, Seq(Ev("k", 20, "G", 0)), p, nfa, _.ts, None)
    assert(m1.isEmpty)
    val (m2, _) = CEP.step[Ev](st1, Seq(Ev("k", 10, "F", 0)), p, nfa, _.ts, None)
    assert(m2.size == 1)
  }
}
