package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.StructType

/** Streaming stateful operators on `transformWithState` — the Spark-4
  * analogue of the reference's keyed-state operators (SURVEY.md §2.7,
  * §2.4, §7.2 phase 3). Each processor documents the runtime operator
  * whose semantics it reproduces.
  */
object StatefulOps {

  /** Keyed change event consumed/produced by the changelog operators:
    * `kind` uses the Changelog byte constants (+I/-U/+U/-D).
    */
  case class Change[K, V](kind: Byte, key: K, value: V)

  /** Keep-FIRST-row-per-key streaming dedup — semantics of
    * flink-table-runtime/.../operators/deduplicate/ProcTimeDeduplicateKeepFirstRowFunction.java:28:
    * the first row wins, later rows are dropped; emits an insert-only
    * stream. (`dropDuplicates` covers the SQL path; this processor is the
    * keyed-state form that composes with the other changelog operators,
    * and [[StreamingRank]]'s `rn = 1 ORDER BY ts ASC` route with
    * `V = Row`.) `ttl` expires the key's "seen" mark on processing time
    * (the reference's `table.exec.state.ttl`); it needs
    * TimeMode.ProcessingTime.
    */
  class KeepFirstProcessor[K, V](ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[K, V, V] {
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        Encoders.scalaBoolean, ttl)
    override def handleInputRows(key: K, rows: Iterator[V],
        timerValues: TimerValues): Iterator[V] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        rows.take(1)
      }
    }
  }

  /** Keep-first dedup under an EVENT-TIME state TTL — the reference's
    * DeduplicateFunctionHelper + StateTtlConfig story made
    * deterministic: a key's "seen" mark expires once the event-time gap
    * since its last row exceeds `ttlMs`, so the next row is a FIRST
    * again (per-key gaps-and-islands firsts — exactly SQL-expressible,
    * unlike wall-clock TTL). Emission needs only the lastTs compare;
    * the timer exists purely to CLEAR expired state (a post-expiry row
    * computes the same answer from absent state), so state is bounded
    * by the ttl horizon and the semantics never depend on cleanup
    * timing. Input event-time column must carry the stream's watermark.
    */
  case class TtlIn(key: String, ts: java.sql.Timestamp, id: Long)

  class KeepFirstTtlProcessor(ttlMs: Long)
      extends StatefulProcessor[String, TtlIn, TtlIn] {
    @transient private var lastTs: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      lastTs = getHandle.getValueState[Long]("lastTs",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[TtlIn],
        timerValues: TimerValues): Iterator[TtlIn] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[TtlIn]
      var last = if (lastTs.exists()) lastTs.get() else Long.MinValue
      rows.foreach { r =>
        val ts = r.ts.getTime
        if (last == Long.MinValue || ts - last > ttlMs) out += r
        if (ts > last) last = ts
      }
      lastTs.update(last)
      getHandle.registerTimer(last + ttlMs) // cleanup horizon
      out.iterator
    }
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TtlIn] = {
      // only the LATEST horizon clears state; superseded timers no-op
      if (lastTs.exists() &&
          lastTs.get() + ttlMs <= expiredTimerInfo.getExpiryTimeInMs())
        lastTs.clear()
      Iterator.empty
    }
  }

  /** Keep-LAST-row-per-key streaming dedup emitting a retract stream —
    * semantics of ProcTimeDeduplicateKeepLastRowFunction.java:32 +
    * StreamExecChangelogNormalize.java:77: each new row for a key retracts
    * the previous one (-U old, +U new; first row emits +I). Rows of
    * `schema` in, `__rowkind` byte + the row out — the form
    * [[StreamingRank.keepLastRows]] builds; `ttl` as in
    * [[KeepFirstProcessor]].
    */
  class KeepLastProcessor(schema: StructType, ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Row, Row] {
    @transient private var last: ValueState[Row] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Row]("last", Encoders.row(schema), ttl)
    private def tag(kind: Byte, r: Row): Row =
      new GenericRow((kind +: r.toSeq).toArray[Any])
    override def handleInputRows(key: String, rows: Iterator[Row],
        timerValues: TimerValues): Iterator[Row] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      rows.foreach { r =>
        if (last.exists()) {
          out += tag(Changelog.UpdateBefore, last.get())
          out += tag(Changelog.UpdateAfter, r)
        } else out += tag(Changelog.Insert, r)
        last.update(r)
      }
      out.iterator
    }
  }

  /** Retraction-aware streaming group aggregation (SUM + COUNT) —
    * semantics of flink-table-runtime/.../operators/aggregate/GroupAggFunction.java:43
    * with RecordCounter.java:26 empty-group deletion: consumes a changelog
    * (+I/+U accumulate, -U/-D retract), emits -U/+U pairs around each
    * change, +I for a new group, and -D when the group's record count
    * returns to zero.
    *
    * Generic over key `K` and measure `N` the way the reference's
    * GroupAggFunction is generic over RowData: arithmetic comes from
    * `Numeric[N]` (Long, Double, BigDecimal, …), state encoding from the
    * caller-supplied accumulator [[Encoder]].
    */
  case class AggResult[K, N](key: K, sum: N, count: Long)

  class RetractSumProcessor[K, N](miniBatch: Boolean = false)(
      implicit num: Numeric[N], accEnc: Encoder[AggResult[K, N]])
      extends StatefulProcessor[K, Change[K, N], Change[K, AggResult[K, N]]] {
    @transient private var acc: ValueState[AggResult[K, N]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[AggResult[K, N]]("acc", accEnc, TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[Change[K, N]],
        timerValues: TimerValues): Iterator[Change[K, AggResult[K, N]]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[K, AggResult[K, N]]]
      // one state read per chunk, one write at the end — the per-row
      // changelog protocol runs on the local accumulator (per-row
      // ValueState round-trips double the state-store traffic for no
      // observable difference; the reference's accumulator lives in
      // heap state within a checkpoint interval the same way)
      var cur: Option[AggResult[K, N]] = if (acc.exists()) Some(acc.get()) else None
      val had = cur.isDefined
      val initial = cur
      rows.foreach { c =>
        val add = Changelog.isAdd(c.kind)
        val signed = if (add) c.value else num.negate(c.value)
        val next = cur match {
          case Some(p) => AggResult(key,
            num.plus(p.sum, signed),
            p.count + (if (add) 1 else -1))
          case None => AggResult(key, signed, if (add) 1L else -1L)
        }
        cur match {
          // GroupAggFunction.java:131 — a retraction arriving for an
          // absent group must not create an accumulator: drop it. (The
          // fold rule is shared by both modes; per-record mode also
          // emits here.)
          case None if !add => ()
          case None =>
            if (!miniBatch) out += Change(Changelog.Insert, key, next)
            cur = Some(next)
          case Some(p) if next.count <= 0 =>
            // RecordCounter: group emptied — emit delete, clear state.
            if (!miniBatch) out += Change(Changelog.Delete, key, p)
            cur = None
          case Some(p) =>
            if (!miniBatch) {
              out += Change(Changelog.UpdateBefore, key, p)
              out += Change(Changelog.UpdateAfter, key, next)
            }
            cur = Some(next)
        }
      }
      // mini-batch mode (table.exec.mini-batch, MiniBatchGroupAggFunction
      // semantics): ONE protocol step per key per micro-batch, diffing
      // the pre-batch accumulator against the folded result — at most 2
      // emissions however many records arrived, and a group created and
      // emptied inside one batch leaves no trace. Unchanged accumulators
      // emit nothing (no-op -U/+U suppression).
      if (miniBatch) (initial, cur) match {
        case (None, Some(v))                  => out += Change(Changelog.Insert, key, v)
        case (Some(p), None)                  => out += Change(Changelog.Delete, key, p)
        case (Some(p), Some(v)) if p != v =>
          out += Change(Changelog.UpdateBefore, key, p)
          out += Change(Changelog.UpdateAfter, key, v)
        case _                                => ()
      }
      cur match {
        case Some(v) => acc.update(v)
        case None => if (had) acc.clear()
      }
      out.iterator
    }
  }

  /** Retraction-aware MAX/MIN aggregate — semantics of
    * flink-table-runtime/.../functions/aggregate/MaxWithRetractAggFunction.java
    * (and MinWithRetractAggFunction): the accumulator is a value→count
    * map plus the current extreme. Accumulating only compares against
    * the extreme (O(1)); retracting the LAST instance of the current
    * extreme recomputes it from the remaining distinct values — the only
    * non-O(1) path, taken exactly when the reference walks its sorted
    * map. Emits the same changelog protocol as [[RetractSumProcessor]]
    * (+I new group, -U/+U around each change, -D on empty, retraction
    * for an absent group/value dropped).
    */
  case class MinMaxResult[K, N](key: K, extreme: N, count: Long)

  class RetractMinMaxProcessor[K, N](isMax: Boolean)(implicit ord: Ordering[N],
      nEnc: Encoder[N], curEnc: Encoder[MinMaxResult[K, N]])
      extends StatefulProcessor[K, Change[K, N], Change[K, MinMaxResult[K, N]]] {
    @transient private var counts: MapState[N, Long] = _
    @transient private var cur: ValueState[MinMaxResult[K, N]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[N, Long]("counts",
        nEnc, Encoders.scalaLong, TTLConfig.NONE)
      cur = getHandle.getValueState[MinMaxResult[K, N]]("cur",
        curEnc, TTLConfig.NONE)
    }

    private def better(a: N, b: N): N = if (isMax) ord.max(a, b) else ord.min(a, b)

    override def handleInputRows(key: K, rows: Iterator[Change[K, N]],
        timerValues: TimerValues): Iterator[Change[K, MinMaxResult[K, N]]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[K, MinMaxResult[K, N]]]
      rows.foreach { c =>
        val prev = if (cur.exists()) Some(cur.get()) else None
        if (Changelog.isAdd(c.kind)) {
          val n = if (counts.containsKey(c.value)) counts.getValue(c.value) else 0L
          counts.updateValue(c.value, n + 1L)
          prev match {
            case None =>
              val next = MinMaxResult(key, c.value, 1L)
              out += Change(Changelog.Insert, key, next)
              cur.update(next)
            case Some(p) =>
              val next = MinMaxResult(key, better(p.extreme, c.value), p.count + 1)
              out += Change(Changelog.UpdateBefore, key, p)
              out += Change(Changelog.UpdateAfter, key, next)
              cur.update(next)
          }
        } else prev match {
          // retraction for an absent group: no accumulator is created
          case None => ()
          case Some(p) =>
            if (counts.containsKey(c.value)) {
              val n = counts.getValue(c.value)
              if (n <= 1L) counts.removeKey(c.value)
              else counts.updateValue(c.value, n - 1L)
              if (p.count <= 1L) {
                out += Change(Changelog.Delete, key, p)
                cur.clear()
              } else {
                val extreme =
                  if (c.value == p.extreme && !counts.containsKey(c.value)) {
                    // last instance of the extreme left: recompute
                    counts.iterator().map(_._1).reduce(better)
                  } else p.extreme
                val next = MinMaxResult(key, extreme, p.count - 1)
                out += Change(Changelog.UpdateBefore, key, p)
                out += Change(Changelog.UpdateAfter, key, next)
                cur.update(next)
              }
            } // retraction for a never-inserted value: drop
        }
      }
      out.iterator
    }
  }

  /** Retraction-aware AVG — AvgAggFunction with retraction (the
    * reference's retract() path): the accumulator is (sum, count), the
    * result is their double quotient. Same changelog protocol as
    * [[RetractSumProcessor]].
    */
  case class AvgResult[K](key: K, avg: Double, count: Long)

  class RetractAvgProcessor[K, N](implicit num: Numeric[N],
      accEnc: Encoder[AggResult[K, N]], avgEnc: Encoder[AvgResult[K]])
      extends StatefulProcessor[K, Change[K, N], Change[K, AvgResult[K]]] {
    @transient private var acc: ValueState[AggResult[K, N]] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      acc = getHandle.getValueState[AggResult[K, N]]("acc", accEnc, TTLConfig.NONE)
    override def handleInputRows(key: K, rows: Iterator[Change[K, N]],
        timerValues: TimerValues): Iterator[Change[K, AvgResult[K]]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[K, AvgResult[K]]]
      def result(a: AggResult[K, N]) =
        AvgResult(key, num.toDouble(a.sum) / a.count, a.count)
      rows.foreach { c =>
        val prev = if (acc.exists()) Some(acc.get()) else None
        val add = Changelog.isAdd(c.kind)
        prev match {
          case None if !add => () // retraction for an absent group: drop
          case None =>
            val next = AggResult(key, c.value, 1L)
            out += Change(Changelog.Insert, key, result(next))
            acc.update(next)
          case Some(p) =>
            val next = AggResult(key,
              num.plus(p.sum, if (add) c.value else num.negate(c.value)),
              p.count + (if (add) 1 else -1))
            if (next.count <= 0) {
              out += Change(Changelog.Delete, key, result(p))
              acc.clear()
            } else {
              out += Change(Changelog.UpdateBefore, key, result(p))
              out += Change(Changelog.UpdateAfter, key, result(next))
              acc.update(next)
            }
        }
      }
      out.iterator
    }
  }

  /** Retraction-aware FIRST_VALUE / LAST_VALUE — semantics of
    * FirstValueWithRetractAggFunction / LastValueWithRetractAggFunction:
    * the accumulator maps arrival order → value; the result is the value
    * at the minimal (first) or maximal (last) retained order. Retraction
    * removes ONE instance of the value (its earliest order, the
    * reference's List.remove semantics); only when the current
    * first/last itself leaves does the recompute scan run.
    */
  case class OrderedValue[K, V](key: K, value: V, count: Long)

  class RetractFirstLastProcessor[K, V](first: Boolean)(implicit vEnc: Encoder[V],
      outEnc: Encoder[OrderedValue[K, V]])
      extends StatefulProcessor[K, Change[K, V], Change[K, OrderedValue[K, V]]] {
    @transient private var byOrder: MapState[Long, V] = _ // order → value
    @transient private var nextOrder: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      byOrder = getHandle.getMapState[Long, V]("byOrder",
        Encoders.scalaLong, vEnc, TTLConfig.NONE)
      nextOrder = getHandle.getValueState[Long]("nextOrder",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def pick(): Option[(Long, V)] = { // (order, value) at extreme
      var best: Option[(Long, V)] = None
      byOrder.iterator().foreach { case (o, v) =>
        if (best.isEmpty || (if (first) o < best.get._1 else o > best.get._1))
          best = Some((o, v))
      }
      best
    }

    override def handleInputRows(key: K, rows: Iterator[Change[K, V]],
        timerValues: TimerValues): Iterator[Change[K, OrderedValue[K, V]]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[K, OrderedValue[K, V]]]
      rows.foreach { c =>
        val prev = pick()
        val n = byOrder.iterator().size.toLong
        if (Changelog.isAdd(c.kind)) {
          val o = if (nextOrder.exists()) nextOrder.get() else 0L
          nextOrder.update(o + 1L)
          byOrder.updateValue(o, c.value)
          val cur = pick().get
          prev match {
            case None =>
              out += Change(Changelog.Insert, key, OrderedValue(key, cur._2, 1L))
            case Some(p) =>
              out += Change(Changelog.UpdateBefore, key, OrderedValue(key, p._2, n))
              out += Change(Changelog.UpdateAfter, key, OrderedValue(key, cur._2, n + 1))
          }
        } else prev match {
          case None => () // absent group
          case Some(p) =>
            // remove the EARLIEST instance of the retracted value
            var victim = -1L
            byOrder.iterator().foreach { case (o, v) =>
              if (v == c.value && (victim < 0 || o < victim)) victim = o
            }
            if (victim >= 0) { // never-inserted value: drop
              byOrder.removeKey(victim)
              if (n <= 1L) {
                out += Change(Changelog.Delete, key, OrderedValue(key, p._2, 1L))
              } else {
                val cur = pick().get
                out += Change(Changelog.UpdateBefore, key, OrderedValue(key, p._2, n))
                out += Change(Changelog.UpdateAfter, key, OrderedValue(key, cur._2, n - 1))
              }
            }
        }
      }
      out.iterator
    }
  }

  /** Retraction-aware LISTAGG — semantics of
    * ListAggWithRetractAggFunction.java: the accumulator is the ordered
    * element list; retraction removes the FIRST occurrence (reference
    * List.remove(Object) semantics). The list is the aggregate value
    * itself, so O(n) state per key is inherent to the function; the
    * rebuild-on-retract path costs O(n) exactly as the reference's
    * ArrayList removal does.
    */
  case class ListAggResult[K](key: K, agg: String, count: Long)

  class RetractListAggProcessor[K](sep: String = ",")
      extends StatefulProcessor[K, Change[K, String], Change[K, ListAggResult[K]]] {
    @transient private var items: ListState[String] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      items = getHandle.getListState[String]("items", Encoders.STRING, TTLConfig.NONE)

    override def handleInputRows(key: K, rows: Iterator[Change[K, String]],
        timerValues: TimerValues): Iterator[Change[K, ListAggResult[K]]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[K, ListAggResult[K]]]
      var cur = items.get().toVector
      def result(v: Vector[String]) = ListAggResult(key, v.mkString(sep), v.length.toLong)
      rows.foreach { c =>
        if (Changelog.isAdd(c.kind)) {
          if (cur.isEmpty) out += Change(Changelog.Insert, key, result(cur :+ c.value))
          else {
            out += Change(Changelog.UpdateBefore, key, result(cur))
            out += Change(Changelog.UpdateAfter, key, result(cur :+ c.value))
          }
          cur = cur :+ c.value
        } else {
          val i = cur.indexOf(c.value)
          if (i >= 0) { // absent element: drop the retraction
            val next = cur.patch(i, Nil, 1)
            if (next.isEmpty) out += Change(Changelog.Delete, key, result(cur))
            else {
              out += Change(Changelog.UpdateBefore, key, result(cur))
              out += Change(Changelog.UpdateAfter, key, result(next))
            }
            cur = next
          }
        }
      }
      items.clear()
      cur.foreach(items.appendValue)
      out.iterator
    }
  }

  /** Append-only streaming Top-N — semantics of
    * flink-table-runtime/.../operators/rank/AppendOnlyTopNFunction.java:52:
    * per key, keep the n smallest sort values seen so far; a new row that
    * enters the top-n emits +I for itself and -D for the evicted row.
    * State is the sorted top-n buffer (TopNBuffer.java:36), here a
    * ValueState holding the bounded sorted list.
    */
  case class Ranked(key: String, id: Long, sort: Long)
  case class TopNState(items: Seq[Ranked])

  class AppendOnlyTopNProcessor(n: Int)
      extends StatefulProcessor[String, Ranked, Change[String, Ranked]] {
    @transient private var buf: ValueState[TopNState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[TopNState]("topn",
        Encoders.product[TopNState], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Ranked],
        timerValues: TimerValues): Iterator[Change[String, Ranked]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[String, Ranked]]
      var cur: Seq[Ranked] = if (buf.exists()) buf.get().items else Nil
      rows.foreach { r =>
        val inserted = (r +: cur).sortBy(x => (x.sort, x.id))
        if (inserted.take(n).exists(_ eq r)) {
          out += Change(Changelog.Insert, key, r)
          if (inserted.length > n)
            out += Change(Changelog.Delete, key, inserted(n))
          cur = inserted.take(n)
        }
        // row outside top-n: append-only input → never relevant again
      }
      buf.update(TopNState(cur))
      out.iterator
    }
  }

  /** Count window over a keyed stream — the reference's
    * `KeyedStream.countWindow` (KeyedStream.java:745): emit an aggregate
    * every `size` rows per key.
    */
  case class CountWindowResult(key: String, windowId: Long, sum: Long, n: Long)

  class CountWindowProcessor(size: Int)
      extends StatefulProcessor[String, Change[String, Long], CountWindowResult] {
    @transient private var pending: ValueState[CountWindowResult] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      pending = getHandle.getValueState[CountWindowResult]("pending",
        Encoders.product[CountWindowResult], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Change[String, Long]],
        timerValues: TimerValues): Iterator[CountWindowResult] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[CountWindowResult]
      var cur = if (pending.exists()) pending.get()
        else CountWindowResult(key, 0L, 0L, 0L)
      rows.foreach { c =>
        cur = cur.copy(sum = cur.sum + c.value, n = cur.n + 1)
        if (cur.n == size) {
          out += cur
          cur = CountWindowResult(key, cur.windowId + 1, 0L, 0L)
        }
      }
      pending.update(cur)
      out.iterator
    }
  }

  /** Sliding count window — `KeyedStream.countWindow(size, slide)`
    * (KeyedStream.java:766: GlobalWindows + CountTrigger(slide) +
    * CountEvictor(size)): every `slide`-th row per key emits the
    * aggregate over the LAST `size` rows. State is the retained tail
    * (≤ size values) plus the arrival counter — exactly the evictor's
    * retention, bounded regardless of stream length.
    */
  case class CountSlideResult(key: String, fireId: Long, sum: Long, n: Long)

  case class CountSlideState(seen: Long, tail: Seq[Long])

  class CountSlideProcessor(size: Int, slide: Int)
      extends StatefulProcessor[String, Change[String, Long], CountSlideResult] {
    require(size >= 1 && slide >= 1)
    @transient private var st: ValueState[CountSlideState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[CountSlideState]("slide",
        Encoders.product[CountSlideState], TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[Change[String, Long]],
        timerValues: TimerValues): Iterator[CountSlideResult] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[CountSlideResult]
      var cur = if (st.exists()) st.get() else CountSlideState(0L, Vector.empty)
      rows.foreach { c =>
        val tail = (cur.tail :+ c.value).takeRight(size)
        cur = CountSlideState(cur.seen + 1, tail)
        if (cur.seen % slide == 0)
          out += CountSlideResult(key, cur.seen / slide, tail.sum,
            tail.length.toLong)
      }
      st.update(cur)
      out.iterator
    }
  }

  /** One partial-distinct input row: `group` is the logical GROUP BY
    * key, `bucket` the distinct-value shard (hash(value) % N upstream) —
    * the operator keys on the COMPOSITE (group, bucket), which is the
    * whole point of the split.
    */
  case class SplitIn(group: String, bucket: Int, value: Long, kind: Byte)

  /** Split COUNT(DISTINCT) — the reference's SplitAggregateRule /
    * PartialFinalType rewrite (FlinkStreamRuleSets.scala:352; config
    * `table.exec.distinct-agg.split.enabled`): a hot group's distinct
    * state shards across (group, hash(value) % buckets) keys so no
    * single task holds (or serializes) the group's whole distinct set.
    * This partial operator keeps value→multiplicity per shard (retraction
    * needs multiplicity: a value stays distinct until its LAST copy
    * retracts) and emits the shard's distinct-count changes keyed by the
    * GROUP — retract-protocol rows a downstream [[RetractSumProcessor]]
    * folds into the group total (partial → final, the two-stage shape).
    * Emission is once per key per batch (mini-batch style: ≤2 rows), so
    * the partial→final traffic is O(touched shards), not O(records).
    *
    * At 100 TB this is the difference between a 10-million-distinct hot
    * key living on one executor and 10k shards of ~1k values each.
    */
  class SplitDistinctProcessor
      extends StatefulProcessor[String, SplitIn, Change[String, Long]] {
    @transient private var counts: MapState[Long, Long] = _
    @transient private var nDistinct: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[Long, Long]("counts",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      nDistinct = getHandle.getValueState[Long]("nDistinct",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: String, rows: Iterator[SplitIn],
        timerValues: TimerValues): Iterator[Change[String, Long]] = {
      val d0 = if (nDistinct.exists()) nDistinct.get() else 0L
      var d = d0
      var group: String = null
      rows.foreach { r =>
        group = r.group
        val c = if (counts.containsKey(r.value)) counts.getValue(r.value) else 0L
        if (Changelog.isAdd(r.kind)) {
          if (c == 0L) d += 1
          counts.updateValue(r.value, c + 1)
        } else if (c > 0L) { // retraction of an absent value: no-op
          if (c == 1L) { counts.removeKey(r.value); d -= 1 }
          else counts.updateValue(r.value, c - 1)
        }
      }
      nDistinct.update(d)
      if (d == d0 || group == null) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Change[String, Long]]
        if (d0 > 0) out += Change(Changelog.UpdateBefore, group, d0)
        if (d > 0) out += Change(Changelog.UpdateAfter, group, d)
        out.iterator
      }
    }
  }

  /** Fast Top-1 over an append-only stream — the reference's
    * FastTop1Function.java:54 (flink-table-runtime/.../operators/rank/):
    * the n=1 specialization keeps ONE (sort, id) pair per key instead of
    * a buffer, so state is O(1) and every record is a single compare. A
    * better row dethrones the current champion with a -U/+U pair; the
    * first row emits +I. Ordering is (sort ASC, id ASC) — the same
    * tiebreak every rank operator here uses.
    */
  class FastTop1Processor
      extends StatefulProcessor[String, Ranked, Change[String, Ranked]] {
    @transient private var top: ValueState[Ranked] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getValueState[Ranked]("top1",
        Encoders.product[Ranked], TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Ranked],
        timerValues: TimerValues): Iterator[Change[String, Ranked]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[String, Ranked]]
      var cur: Ranked = if (top.exists()) top.get() else null
      rows.foreach { r =>
        if (cur == null) {
          out += Change(Changelog.Insert, key, r); cur = r
        } else if (Ordering.Tuple2[Long, Long].lt((r.sort, r.id),
            (cur.sort, cur.id))) {
          out += Change(Changelog.UpdateBefore, key, cur)
          out += Change(Changelog.UpdateAfter, key, r)
          cur = r
        } // worse row: append-only input, never relevant again
      }
      if (cur != null) top.update(cur)
      out.iterator
    }
  }

  /** First-N rows per key in arrival order — the reference's
    * AppendOnlyFirstNFunction.java:39 (ROW_NUMBER over proctime ASC,
    * rn <= n): the first `n` arrivals emit +I and every later row is
    * dropped. State is one counter per key — no buffer, since an
    * append-only input can never retract an already-emitted row.
    */
  class AppendOnlyFirstNProcessor(n: Int)
      extends StatefulProcessor[String, Ranked, Change[String, Ranked]] {
    @transient private var cnt: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cnt = getHandle.getValueState[Long]("cnt",
        Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[Ranked],
        timerValues: TimerValues): Iterator[Change[String, Ranked]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Change[String, Ranked]]
      var c = if (cnt.exists()) cnt.get() else 0L
      rows.foreach { r =>
        if (c < n) { out += Change(Changelog.Insert, key, r); c += 1 }
      }
      cnt.update(c)
      out.iterator
    }
  }
}
