package graft.cep

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._

/** CEP execution — the engine's CepOperator
  * (flink-libraries/flink-cep/.../operator/CepOperator.java:82) and
  * StreamExecMatch (MATCH_RECOGNIZE) equivalents:
  *
  *   - batch: sort each key's events by time, run the NFA with
  *     skip-past-last-row (the reference's BatchExecMatch does exactly
  *     sort-within-key + NFA);
  *   - streaming: a transformWithState processor holding the per-key
  *     ordered event buffer in state, re-scanning for complete matches as
  *     events arrive and trimming the buffer past each match.
  *
  * One shuffle on the key either way; NFA work is per-key local.
  */
object CEP {

  case class CepMatch[E](key: String, startTs: Long, endTs: Long,
      stages: Seq[(String, Seq[E])])

  /** Batch CEP over a bounded Dataset (BatchExecMatch parity). `tieFn`
    * orders same-timestamp events deterministically (the MATCH_RECOGNIZE
    * front door's secondary ORDER BY column); the default keeps the
    * arrival order the scan produced, which is fine only when timestamps
    * are unique per key.
    */
  def batch[E: Encoder](events: Dataset[E], keyFn: E => String,
      tsFn: E => Long, pattern: Pattern[E],
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow,
      tieFn: E => Long = (_: E) => 0L)(
      implicit outEnc: Encoder[CepMatch[E]]): Dataset[CepMatch[E]] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val nfa = new NFA[E](pattern, tsFn)
    events.groupByKey(keyFn).flatMapGroups { (key, it) =>
      val sorted = it.toIndexedSeq.sortBy(e => (tsFn(e), tieFn(e)))
      nfa.findMatches(sorted, 0, skip).iterator.map { case (s, e, m) =>
        CepMatch(key, tsFn(sorted(s)), tsFn(sorted(e)), m)
      }
    }
  }

  /** Batch CEP timeout side output — the reference's
    * `PatternStream.select(timeoutTag, timeoutFn, selectFn)` timed-out
    * partial matches (flink-libraries/flink-cep/.../PatternStream.java,
    * CepOperator timed-out pattern handling): anchor events whose
    * `within` window closed while a partial match was STILL PENDING —
    * the reference's alive-at-expiry rule (NFA.java advanceTime). A
    * partial killed earlier by a contiguity violation (strict `next`
    * seeing a mismatching in-window event, or a notNext/notFollowedBy
    * stop state) is discarded silently and produces NO timeout — see
    * [[graft.cep.NFA.findTimeouts]]. `nowTs` is the watermark the
    * timeouts are evaluated at;
    * the default Long.MaxValue is the reference's end-of-bounded-input
    * MAX_WATERMARK, which times out every pending partial. Pass the
    * stream's max event time to reproduce a mid-stream watermark.
    */
  def batchTimeouts[E: Encoder](events: Dataset[E], keyFn: E => String,
      tsFn: E => Long, pattern: Pattern[E],
      nowTs: Long = Long.MaxValue,
      tieFn: E => Long = (_: E) => 0L): Dataset[E] = {
    require(pattern.withinMs.isDefined,
      "timeouts are only meaningful for patterns with `within`")
    implicit val strEnc: Encoder[String] = Encoders.STRING
    val nfa = new NFA[E](pattern, tsFn)
    events.groupByKey(keyFn).flatMapGroups { (_, it) =>
      val sorted = it.toIndexedSeq.sortBy(e => (tsFn(e), tieFn(e)))
      nfa.findTimeouts(sorted, nowTs).iterator
    }
  }

  /** Linear merge of two sorted runs (stable: existing first on ties). */
  private def mergeSorted[E](existingSorted: IndexedSeq[E], fresh: Seq[E],
      tsFn: E => Long): Vector[E] = {
    val b = Vector.newBuilder[E]; b.sizeHint(existingSorted.length + fresh.length)
    var i = 0; var j = 0
    while (i < existingSorted.length && j < fresh.length) {
      if (tsFn(existingSorted(i)) <= tsFn(fresh(j))) { b += existingSorted(i); i += 1 }
      else { b += fresh(j); j += 1 }
    }
    while (i < existingSorted.length) { b += existingSorted(i); i += 1 }
    while (j < fresh.length) { b += fresh(j); j += 1 }
    b.result()
  }

  /** Anchors at or after this index may still produce new matches with
    * the fresh events; older anchors saw an identical window before.
    */
  private def scanFrontier[E](all: IndexedSeq[E], freshHeadTs: Long,
      pattern: Pattern[E], tsFn: E => Long): Int = pattern.withinMs match {
    case Some(w) =>
      val frontier = freshHeadTs - w
      all.indexWhere(e => tsFn(e) >= frontier) match {
        case -1 => all.length
        case i => i
      }
    case None => 0
  }

  /** Streaming state for overlapping skip strategies: the sorted buffer
    * plus identities of already-emitted matches whose anchor is still
    * inside the buffer (match hash → anchor ts, for eviction).
    */
  case class StepState[E](buffer: IndexedSeq[E], emitted: Map[Long, Long])
  object StepState { def empty[E]: StepState[E] = StepState(Vector.empty, Map.empty) }

  /** 64-bit identity of a complete match — the re-scan dedupe key for
    * overlapping skip strategies. Built from STABLE content only: stage
    * names plus each consumed event's (timestamp, offset-from-anchor in
    * the sorted buffer). Event hashCodes would not survive a state
    * round-trip for types without value-based hashing (bean-encoded
    * classes, arrays in case classes) and can collide across distinct
    * events; timestamps re-derive identically from deserialized state,
    * and the anchor-relative offset (deterministic: first value-equal
    * occurrence scanning forward) disambiguates timestamp ties. Offsets
    * are stable across micro-batches because the buffer is sorted and
    * evicts only from the front.
    */
  def matchKey[E](all: IndexedSeq[E], start: Int, m: Seq[(String, Seq[E])],
      tsFn: E => Long): Long = {
    import scala.util.hashing.MurmurHash3
    var idx = start
    val parts = m.map { case (n, evs) =>
      (n, evs.map { e =>
        // stages consume in strict buffer order; find this event's
        // position, then move past it so value-equal consecutive events
        // still get distinct offsets
        while (idx < all.length && all(idx) != e) idx += 1
        val off = idx - start
        idx += 1
        (tsFn(e), off)
      })
    }
    val h1 = MurmurHash3.orderedHash(parts)
    val h2 = MurmurHash3.orderedHash(parts.reverse, 0x9747b28c)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** One micro-batch step of the streaming buffer under any after-match
    * skip strategy — the reference honors every AfterMatchSkipStrategy
    * in its CepOperator: merge the new rows into the (already sorted)
    * retained buffer, scan incrementally, trim and evict. Pure so the
    * state-bound properties are directly testable.
    *
    * Two buffer regimes:
    *
    *   - SKIP PAST LAST ROW / TO FIRST / TO LAST: the scan is stateful (a
    *     jump decides which anchors are ever visited), so the buffer trims
    *     to the LAST match's jump position ([[NFA.findMatchesResume]]:
    *     past the last match's end for SKIP PAST LAST ROW, 0 with no
    *     match) — anchors inside a jumped span stay skipped across
    *     micro-batches;
    *   - NO SKIP / SKIP TO NEXT: every anchor is scanned independently —
    *     the buffer is bounded only by the within-horizon (or cap), and
    *     re-found matches are suppressed by identity against
    *     `state.emitted`, whose entries evict with their anchors.
    *
    * Scale properties (the reference's NFA prunes computation states the
    * same way, CepOperator.advanceTime):
    *   - the stored buffer stays sorted, so a batch costs
    *     O(buffer + batch·log batch) — no full re-sort;
    *   - only anchors whose within-window overlaps the new events are
    *     re-scanned: an older anchor saw an identical window in a prior
    *     batch and is known-failed;
    *   - events behind `maxTs − within` can never join a future match
    *     (every stage consumes events at or after its anchor) → evicted;
    *   - without `within`, `maxBufferPerKey` caps state per key, dropping
    *     oldest events first (documented lossy bound).
    *
    * Batch parity holds for patterns whose matches are stable once
    * complete (no trailing growable quantifier) — emit on completion.
    * Returns (matches over the merged buffer, next state — sorted buffer).
    */
  def step[E](state: StepState[E], freshUnsorted: Seq[E],
      pattern: Pattern[E], nfa: NFA[E], tsFn: E => Long,
      maxBufferPerKey: Option[Int],
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow)
      : (Seq[(Int, Int, Seq[(String, Seq[E])])], StepState[E]) = {
    if (freshUnsorted.isEmpty) return (Nil, state)
    val fresh = freshUnsorted.sortBy(tsFn)
    val all = mergeSorted(state.buffer, fresh, tsFn)
    val scanFrom = scanFrontier(all, tsFn(fresh.head), pattern, tsFn)
    val (matches, resume) = nfa.findMatchesResume(all, scanFrom, skip)
    val jumpy = skip match {
      case AfterMatchSkip.NoSkip | AfterMatchSkip.SkipToNext => false
      case _ => true
    }
    // jump strategies never revisit an anchor, so nothing dedupes; the
    // independent-anchor strategies rescan and need the identity filter
    val newMs =
      if (jumpy) matches
      else matches.filterNot { case (s, _, m) =>
        state.emitted.contains(matchKey(all, s, m, tsFn)) }
    val scanTrimmed = if (jumpy) all.drop(resume) else all
    val withinBound = pattern.withinMs match {
      case Some(w) if scanTrimmed.nonEmpty =>
        val horizon = tsFn(all.last) - w
        scanTrimmed.filter(e => tsFn(e) >= horizon)
      case _ => scanTrimmed
    }
    val retained = maxBufferPerKey match {
      case Some(cap) if withinBound.length > cap => withinBound.takeRight(cap)
      case _ => withinBound
    }
    val emitted =
      if (jumpy) Map.empty[Long, Long]
      else {
        val headTs = retained.headOption.map(tsFn).getOrElse(Long.MaxValue)
        (state.emitted ++ newMs.map { case (s, _, m) =>
          matchKey(all, s, m, tsFn) -> tsFn(all(s))
        }).filter { case (_, anchorTs) => anchorTs >= headTs }
      }
    (newMs, StepState(retained.toIndexedSeq, emitted))
  }

  /** The streaming CEP operator (CepOperator.java:82) behind both front
    * doors, [[streaming]] and [[MatchRecognize.streaming]]: the key's
    * sorted event buffer (ListState), the emitted-match identities of
    * the overlapping skip strategies (MapState), and the key's match
    * count (ValueState — MATCH_NUMBER() numbers matches per key across
    * micro-batches). Each match leaves as `emit(key, per-key match
    * number, match stages)`.
    */
  class CepProcessor[E, O](pattern: Pattern[E], tsFn: E => Long,
      eventEnc: Encoder[E], maxBufferPerKey: Option[Int],
      skip: AfterMatchSkip, emit: (String, Long, Seq[(String, Seq[E])]) => O)
      extends StatefulProcessor[String, E, O] {
    @transient private var buf: ListState[E] = _
    @transient private var emitted: MapState[Long, Long] = _
    @transient private var nMatches: ValueState[Long] = _
    private val nfa = new NFA[E](pattern, tsFn)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[E]("buffer", eventEnc, TTLConfig.NONE)
      emitted = getHandle.getMapState[Long, Long]("emitted",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      nMatches = getHandle.getValueState[Long]("nMatches",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[E],
        timerValues: TimerValues): Iterator[O] = {
      val before = StepState(buf.get().toIndexedSeq, emitted.iterator().toMap)
      val (matches, after) =
        step(before, rows.toSeq, pattern, nfa, tsFn, maxBufferPerKey, skip)
      buf.clear()
      after.buffer.foreach(buf.appendValue)
      (before.emitted.keySet -- after.emitted.keySet).foreach(emitted.removeKey)
      after.emitted.foreach { case (h, ts) =>
        if (before.emitted.get(h) != Some(ts)) emitted.updateValue(h, ts)
      }
      val n0 = if (nMatches.exists()) nMatches.get() else 0L
      if (matches.nonEmpty) nMatches.update(n0 + matches.length)
      matches.iterator.zipWithIndex.map { case ((_, _, m), i) =>
        emit(key, n0 + i + 1, m)
      }
    }
  }

  /** Streaming CEP over a keyed stream (CepOperator parity, arrival-order
    * processing within the state buffer). The per-key buffer must be
    * bounded: either the pattern carries `within` (events behind the
    * window are evicted, as the reference's NFA prunes by watermark) or
    * an explicit `maxBufferPerKey` cap is given (oldest dropped).
    */
  def streaming[E: Encoder](events: Dataset[E], keyFn: E => String,
      tsFn: E => Long, pattern: Pattern[E],
      maxBufferPerKey: Option[Int] = None,
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow)(
      implicit outEnc: Encoder[CepMatch[E]]): Dataset[CepMatch[E]] = {
    require(pattern.withinMs.isDefined || maxBufferPerKey.isDefined,
      "streaming CEP needs a state bound: give the pattern `within` or pass maxBufferPerKey")
    implicit val strEnc: Encoder[String] = Encoders.STRING
    events.groupByKey(keyFn)
      .transformWithState(
        new CepProcessor[E, CepMatch[E]](pattern, tsFn, implicitly[Encoder[E]],
          maxBufferPerKey, skip, (key, _, m) => {
            // first/last consumed event bound the match (optional stages
            // may be empty, so flatten rather than reading head/last stages)
            val evs = m.flatMap(_._2)
            CepMatch(key, tsFn(evs.head), tsFn(evs.last), m)
          }),
        TimeMode.None(), OutputMode.Update())
  }
}
