package graft.cep

/** Backtracking matcher over an ordered event sequence — the engine's
  * equivalent of the reference's NFA + SharedBuffer
  * (flink-libraries/flink-cep/.../nfa/NFA.java:85): greedy quantifiers
  * with backtracking, strict/relaxed/non-deterministic contiguity,
  * within-window pruning, until-conditions, and the after-match skip
  * strategies (AfterMatchSkipStrategy.java: NO_SKIP, SKIP_TO_NEXT,
  * SKIP_PAST_LAST_ROW, SKIP_TO_FIRST, SKIP_TO_LAST).
  *
  * Deterministic stages (`next`/`followedBy`) contribute exactly one
  * greedy branch; `followedByAny` stages (Contiguity.AnyRelaxed) branch
  * over every candidate position, the reference's non-deterministic
  * relaxed contiguity — match multiplicity comes only from Any stages.
  *
  * `timestampOf` supplies event time for the `within` constraint.
  */
class NFA[E](pattern: Pattern[E], timestampOf: E => Long) extends Serializable {

  /** One complete match: stage name → the events it consumed, in order. */
  type Match = Seq[(String, Seq[E])]

  /** Internal match: stage name → consumed event INDICES (for skip-to). */
  private type IMatch = Vector[(String, Vector[Int])]

  /** Timed-out partial matches (the reference's CEP timeout side output,
    * PatternStream.select timeout variant / CepOperator timed-out
    * patterns): anchor events whose within-window closed (relative to
    * `nowTs`) while a partial match from that anchor was STILL PENDING.
    * The reference's NFA.java advanceTime prunes and emits exactly the
    * computation states alive at window expiry — a partial killed
    * earlier by a contiguity violation (strict `next` seeing a
    * mismatching immediate event, or a notNext/notFollowedBy stop
    * state) is discarded silently and produces NO timeout. Anchors
    * consumed inside a complete match are pruned by the after-match
    * skip, not timed out. Only meaningful for patterns with `within`.
    */
  def findTimeouts(events: IndexedSeq[E], nowTs: Long): Seq[E] =
    pattern.withinMs match {
      case None => Nil
      case Some(w) =>
        val matched = findMatches(events)
        val covered = matched.flatMap { case (s, e, _) => s to e }.toSet
        events.indices
          .filter { i =>
            !covered.contains(i) &&
              pattern.stages.head.predicate(events(i)) &&
              timestampOf(events(i)) + w < nowTs &&
              matchesAt(events, i).isEmpty &&
              partialAlive(events, i)
          }
          .map(events)
    }

  /** True iff some INCOMPLETE computation-state branch anchored at
    * `start` is still pending when the anchor's within-window closes —
    * the aliveness half of the reference's timeout condition. Mirrors
    * [[matchesAt]]'s branch structure with kill/pend outcomes instead
    * of consumed indices:
    *   - strict contiguity: an in-window mismatching immediate event
    *     KILLS the branch (no timeout); the needed event being absent
    *     or beyond the window leaves it PENDING (timeout);
    *   - relaxed contiguity: mismatching gap events are ignored, so the
    *     branch pends unless a stop state (notFollowedBy gap guard)
    *     kills it; the first in-window match is taken deterministically;
    *   - non-deterministic relaxed (followedByAny / allowCombinations):
    *     the ignore edge exists on matches too, so the waiting branch
    *     pends to expiry unless a stop state blocks the scan first;
    *   - a branch reaching past the last stage completed (or, under a
    *     terminal notFollowedBy, resolves at window close as a match or
    *     a silent discard) — never a timeout.
    */
  private def partialAlive(events: IndexedSeq[E], start: Int): Boolean = {
    val deadline = pattern.withinMs.map(w => timestampOf(events(start)) + w)
    def inWindow(i: Int): Boolean =
      deadline.forall(d => timestampOf(events(i)) <= d)

    def stageAlive(si: Int, ei: Int): Boolean =
      si < pattern.stages.length && repAlive(si, 0, ei)

    def repAlive(si: Int, count: Int, at: Int): Boolean = {
      val st = pattern.stages(si)
      def closed: Boolean =
        count >= st.minTimes && stageAlive(si + 1, at)
      def extended: Boolean = {
        val gapNot = if (count == 0) st.notBefore else None
        if (count >= st.maxTimes) false
        // notNext stop state: the immediately following IN-WINDOW event
        // matching the forbidden predicate kills the branch under EVERY
        // contiguity (matchesAt applies the same guard before the
        // contiguity dispatch); an out-of-window forbidden event arrives
        // after the watermark expired the window — timeout fires first
        else if (at < events.length && inWindow(at) &&
            gapNot.exists { case (p, strict) => strict && p(events(at)) })
          false
        // until stop state at the immediately-following event: matchesAt
        // blocks the extension pre-dispatch (until wins even when the
        // event ALSO matches the loop predicate — matchesAt:223), so the
        // branch is killed, not pending, under every contiguity. An
        // out-of-window until event arrives after expiry: timeout first.
        else if (count >= 1 && at < events.length && inWindow(at) &&
            st.until.exists(_(events(at))))
          false
        else (if (st.combinations && count >= 1) Contiguity.AnyRelaxed
              else st.contiguity) match {
          case Contiguity.Strict =>
            if (at >= events.length || !inWindow(at)) true // pending
            else if (st.predicate(events(at))) repAlive(si, count + 1, at + 1)
            else false // strict mismatch: killed
          case Contiguity.Relaxed =>
            val relaxedNot = gapNot.collect { case (p, false) => p }
            var i = at
            while (i < events.length && inWindow(i)) {
              if (st.predicate(events(i))) return repAlive(si, count + 1, i + 1)
              if (relaxedNot.exists(_(events(i))) ||
                  (count >= 1 && st.until.exists(_(events(i))))) return false
              i += 1
            }
            true // scan ran out of window: pending at expiry
          case Contiguity.AnyRelaxed =>
            val relaxedNot = gapNot.collect { case (p, false) => p }
            var i = at
            while (i < events.length && inWindow(i)) {
              if (st.predicate(events(i)) && repAlive(si, count + 1, i + 1))
                return true
              if (!st.predicate(events(i)) &&
                  (relaxedNot.exists(_(events(i))) ||
                   (count >= 1 && st.until.exists(_(events(i)))))) return false
              i += 1
            }
            true // the ignore-edge waiting branch pends to expiry
        }
      }
      extended || closed
    }

    if (!pattern.stages.head.predicate(events(start))) false
    else repAlive(0, 1, start + 1)
  }

  /** Matches over `events` (assumed time-ordered) under the given
    * after-match skip strategy; `from` skips anchors before that index —
    * the incremental-scan entry for streaming CEP (CEP.step).
    */
  def findMatches(events: IndexedSeq[E], from: Int = 0,
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow): Seq[(Int, Int, Match)] =
    findMatchesResume(events, from, skip)._1

  /** [[findMatches]] plus the resume position: the anchor-scan position
    * immediately after the LAST match's skip jump (0 when no match).
    * Jump strategies make the scan stateful — an anchor inside a jumped
    * span must never be visited — so a streaming caller trims its buffer
    * to this position before the next incremental scan (CEP.step).
    */
  def findMatchesResume(events: IndexedSeq[E], from: Int = 0,
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow)
      : (Seq[(Int, Int, Match)], Int) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Match)]
    var start = from max 0
    var lastJump = 0
    while (start < events.length) {
      val ms = matchesAt(events, start)
      if (ms.isEmpty) start += 1
      else {
        val emit = skip match {
          case AfterMatchSkip.NoSkip => ms // every branch
          case _ => ms.take(1) // the greedy branch
        }
        emit.foreach { case (end, im) =>
          out += ((start, end, im.map { case (n, idx) => n -> idx.map(events) }))
        }
        val (firstEnd, firstIm) = ms.head
        start = skip match {
          case AfterMatchSkip.SkipPastLastRow => firstEnd + 1
          case AfterMatchSkip.NoSkip | AfterMatchSkip.SkipToNext => start + 1
          case AfterMatchSkip.SkipToFirst(v) =>
            stageIdx(firstIm, v, first = true).getOrElse(firstEnd) max (start + 1)
          case AfterMatchSkip.SkipToLast(v) =>
            stageIdx(firstIm, v, first = false).getOrElse(firstEnd) max (start + 1)
        }
        lastJump = start
      }
    }
    (out.toSeq, lastJump)
  }

  private def stageIdx(im: IMatch, v: String, first: Boolean): Option[Int] =
    im.find(_._1 == v).flatMap { case (_, idx) =>
      if (idx.isEmpty) None else Some(if (first) idx.head else idx.last)
    }

  /** All match branches anchored at `start`, greedy branch first.
    * Deterministic stages yield one branch; AnyRelaxed stages multiply.
    */
  private def matchesAt(events: IndexedSeq[E], start: Int): Seq[(Int, IMatch)] = {
    if (!pattern.stages.head.predicate(events(start))) return Nil
    val deadline = pattern.withinMs.map(w => timestampOf(events(start)) + w)

    def inWindow(i: Int): Boolean =
      deadline.forall(d => timestampOf(events(i)) <= d)

    /** Match stage `si` starting at event index `ei`; returns complete
      * matches as (last consumed index, accumulated stages).
      */
    def stageRec(si: Int, ei: Int, acc: IMatch): Seq[(Int, IMatch)] = {
      if (si == pattern.stages.length) return Seq((ei - 1, acc))
      val st = pattern.stages(si)
      val anyStage = st.contiguity == Contiguity.AnyRelaxed
      // branch-keeping: Any stages, combination loops, and reluctant
      // loops all contribute multiple branches per anchor
      val branching = anyStage || st.combinations || !st.greedyLoop

      def repRec(count: Int, at: Int, taken: Vector[Int]): Seq[(Int, IMatch)] = {
        // option A (when enough reps consumed): close this stage
        def closed: Seq[(Int, IMatch)] =
          if (count >= st.minTimes) stageRec(si + 1, at, acc :+ (st.name -> taken))
          else Nil
        // option B: consume one more repetition. Contiguity applies both
        // to a stage's first event and between its repetitions; a
        // negative constraint (notNext/notFollowedBy) guards the gap
        // before the stage's FIRST repetition only; `until` stops the
        // loop at the first matching event WITHOUT consuming it
        // (Pattern.until:244 — only meaningful on looping stages).
        def extended: Seq[(Int, IMatch)] = {
          val gapNot = if (count == 0) st.notBefore else None
          if (count >= st.maxTimes) Nil
          // notNext: the immediately following event must not match
          else if (gapNot.exists { case (p, strict) =>
            strict && at < events.length && p(events(at)) }) Nil
          else if (count >= 1 && st.until.exists(u =>
            at < events.length && u(events(at)))) Nil
          // allowCombinations: repetitions after the first use
          // non-deterministic relaxed contiguity — every candidate
          // position branches (Pattern.allowCombinations:612)
          else (if (st.combinations && count >= 1) Contiguity.AnyRelaxed
                else st.contiguity) match {
            case Contiguity.Strict =>
              // strict: the repetition must sit exactly at `at`
              if (at < events.length && inWindow(at) && st.predicate(events(at)))
                repRec(count + 1, at + 1, taken :+ at)
              else Nil
            case Contiguity.Relaxed =>
              // relaxed: scan forward; on downstream failure backtrack to
              // the next candidate position. A relaxed negative
              // constraint (notFollowedBy) or an until-condition aborts
              // the scan at the first forbidden event in the gap.
              val relaxedNot = gapNot.collect { case (p, false) => p }
              var i = at
              var res: Seq[(Int, IMatch)] = Nil
              var blocked = false
              while (res.isEmpty && !blocked && i < events.length && inWindow(i)) {
                if (st.predicate(events(i)))
                  res = repRec(count + 1, i + 1, taken :+ i)
                else if (relaxedNot.exists(_(events(i))) ||
                    (count >= 1 && st.until.exists(_(events(i)))))
                  blocked = true
                i += 1
              }
              res
            case Contiguity.AnyRelaxed =>
              // non-deterministic relaxed (followedByAny:387): EVERY
              // candidate position branches, nearest-first
              val relaxedNot = gapNot.collect { case (p, false) => p }
              val all = Seq.newBuilder[(Int, IMatch)]
              var i = at
              var blocked = false
              while (!blocked && i < events.length && inWindow(i)) {
                if (st.predicate(events(i)))
                  all ++= repRec(count + 1, i + 1, taken :+ i)
                else if (relaxedNot.exists(_(events(i))) ||
                    (count >= 1 && st.until.exists(_(events(i)))))
                  blocked = true
                i += 1
              }
              all.result()
          }
        }
        // greedy: prefer extending before closing; branching stages keep
        // every branch (Any/combinations longest-first, reluctant
        // shortest-first per the reference's lazy quantifier)
        if (branching) {
          if (st.greedyLoop) extended ++ closed else closed ++ extended
        } else { val e = extended; if (e.nonEmpty) e else closed }
      }

      if (si == 0) {
        // begin stage anchored at `start`: events(ei) is repetition 1
        if (!inWindow(ei)) Nil
        else repRec(1, ei + 1, Vector(ei))
      } else repRec(0, ei, Vector.empty)
    }

    // terminal notFollowedBy (legal only with within): no forbidden
    // event may occur after the last stage inside the window
    stageRec(0, start, Vector.empty).filter { case (endIdx, _) =>
      pattern.endNot.forall { p =>
        var j = endIdx + 1
        var ok = true
        while (ok && j < events.length && inWindow(j)) {
          if (p(events(j))) ok = false
          j += 1
        }
        ok
      }
    }
  }
}

/** After-match skip strategies (AfterMatchSkipStrategy.java). */
sealed trait AfterMatchSkip
object AfterMatchSkip {
  /** Emit every branch of every anchor; resume at anchor + 1. */
  case object NoSkip extends AfterMatchSkip
  /** Greedy branch per anchor; resume at anchor + 1 (overlaps allowed). */
  case object SkipToNext extends AfterMatchSkip
  /** Greedy branch; resume after the match (the DSL/SQL default). */
  case object SkipPastLastRow extends AfterMatchSkip
  /** Resume at the FIRST event of stage `variable` (guarded to anchor+1
    * to rule out the reference's infinite-loop case).
    */
  final case class SkipToFirst(variable: String) extends AfterMatchSkip
  /** Resume at the LAST event of stage `variable` (same guard). */
  final case class SkipToLast(variable: String) extends AfterMatchSkip
}
