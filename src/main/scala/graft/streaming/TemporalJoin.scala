package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming as-of/temporal join — semantics of
  * flink-table-runtime/.../operators/join/temporal/TemporalRowTimeJoinOperator.java:78:
  * the right side is a versioned table (key → history of (ts, value));
  * each left probe row (key, ts) joins the right version that was current
  * at its timestamp.
  *
  * Watermark-driven, as the reference: BOTH sides buffer in keyed state
  * (left probes in ListState, right versions in MapState[ts → value]);
  * when the event-time watermark passes a probe's timestamp the probe is
  * resolved — at that point every version at or below its timestamp has
  * arrived (later ones would be late and are dropped), so out-of-order
  * arrival of probes and versions is handled exactly. After emission,
  * versions superseded at or below the watermark are garbage-collected
  * (the reference's cleanupState: only the latest version ≤ watermark
  * stays current for future probes), and emitted probes leave the
  * buffer — state is bounded by watermark lag plus one current version
  * per key. Late rows on either side are dropped.
  *
  * One operator, [[TemporalJoinProcessor]], serves both front doors
  * ([[asOfStream]], [[asOfStreamStatic]]); its resolve+GC core is the
  * pure [[advance]], unit-testable without a streaming query.
  */
object TemporalJoin {

  /** Resolve+GC core over arbitrary probe/version payloads: probes with
    * ts ≤ wm resolve (stable ts order — presort for tie rules) against
    * the latest version at or before their timestamp; versions
    * superseded at or below wm evict. Returns (resolved (ts, probe,
    * matched version), retained probes, version timestamps to remove).
    */
  def advance[P, V](probes: Seq[(Long, P)], versions: Seq[(Long, V)],
      wm: Long): (Seq[(Long, P, Option[(Long, V)])], Seq[(Long, P)], Seq[Long]) = {
    val sortedV = versions.sortBy(_._1).toIndexedSeq
    val (due, remaining) = probes.partition(_._1 <= wm)
    val out = due.sortBy(_._1).map { case (ts, p) =>
      // latest version at or before the probe timestamp
      var lo = -1
      var i = 0
      while (i < sortedV.length && sortedV(i)._1 <= ts) { lo = i; i += 1 }
      (ts, p, if (lo >= 0) Some(sortedV(lo)) else None)
    }
    // keep the latest version ≤ wm (still current) and everything after it
    val current = sortedV.lastIndexWhere(_._1 <= wm)
    val evict = if (current <= 0) Nil else sortedV.take(current).map(_._1)
    (out, remaining, evict)
  }

  /** Output shape of every temporal front door (both event-time routes
    * here and [[ProcTimeJoin.procTimeJoin]]): each left column, then
    * `r_<col>` per right payload column, nullable — a probe with no
    * current version null-pads.
    */
  private[streaming] def joinedSchema(left: StructType,
      rightStruct: StructType): StructType =
    StructType(left.fields ++
      rightStruct.fields.map(f => f.copy(name = s"r_${f.name}", nullable = true)))

  /** DataFrame-level streaming as-of join — the generic (any payload)
    * form the SQL front door routes to: each left probe row joins the
    * right version current at its event time, with watermark-driven
    * buffering, exactly-once resolution and version GC. Output = every
    * left column + `r_<col>` for each right payload column (NULLs when
    * no version existed — LEFT semantics, the batch AsOfJoin contract).
    * Late rows on either side (at or behind the watermark on arrival)
    * are dropped. A composite key groups by the JSON rendering of the
    * key-column struct ([[StreamKeys.text]]), mirroring the batch
    * [[graft.operators.AsOfJoin]] multi-column partition.
    */
  def asOfStream(probeSide: DataFrame, versionSide: DataFrame,
      keyCols: Seq[String], tsCol: String, rightCols: Seq[String],
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    require(keyCols.nonEmpty, "asOfStream needs at least one key column")
    val leftSchema = probeSide.schema
    val rightStruct = StructType(rightCols.map(c => versionSide.schema(c)))
    val taggedLeft = probeSide
      .select(StreamKeys.text(keyCols).as("__tj_key"),
        col(tsCol).cast("timestamp").as("__tj_ts"), lit(true).as("__tj_probe"),
        struct(leftSchema.fieldNames.map(col).toSeq: _*).as("__tj_l"))
    val taggedRight = versionSide
      .select(StreamKeys.text(keyCols).as("__tj_key"),
        col(tsCol).cast("timestamp").as("__tj_ts"), lit(false).as("__tj_probe"),
        struct(rightCols.map(col): _*).as("__tj_r"))
    val unioned = taggedLeft
      .unionByName(taggedRight, allowMissingColumns = true)
      .withWatermark("__tj_ts", watermarkDelay)
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(joinedSchema(leftSchema, rightStruct))
    implicit val keyEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    unioned
      .groupByKey((r: Row) => r.getString(r.fieldIndex("__tj_key")))
      .transformWithState(
        new TemporalJoinProcessor(unioned.schema, leftSchema, rightStruct),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming probe against a BOUNDED versioned table — the reference's
    * canonical dim-table temporal join (TemporalRowTimeJoinOperator.java:78
    * with a bounded right input): the dim's full version history loads
    * into keyed state when the query starts (transformWithState initial
    * state — one shuffle of the dim on the key, state distributed across
    * executors, no driver collect), then probes resolve against it
    * watermark-driven exactly as in [[asOfStream]]. Version GC applies as
    * the watermark passes superseded versions, so steady-state stays at
    * one current version per key plus in-flight probes.
    */
  def asOfStreamStatic(probeSide: DataFrame, staticVersions: DataFrame,
      keyCols: Seq[String], tsCol: String, rightCols: Seq[String],
      watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.functions.{col, collect_list, lit, struct}
    require(probeSide.isStreaming, "probe side must be a streaming DataFrame")
    require(!staticVersions.isStreaming, "version side must be bounded")
    require(keyCols.nonEmpty, "asOfStreamStatic needs at least one key column")
    val leftSchema = probeSide.schema
    val rightStruct = StructType(rightCols.map(c => staticVersions.schema(c)))
    // probe rows carry a NULL __tj_r so the union schema matches the
    // stream-stream operator's input shape
    val taggedLeft = probeSide
      .select(StreamKeys.text(keyCols).as("__tj_key"),
        col(tsCol).cast("timestamp").as("__tj_ts"), lit(true).as("__tj_probe"),
        struct(leftSchema.fieldNames.map(col).toSeq: _*).as("__tj_l"),
        lit(null).cast(rightStruct).as("__tj_r"))
      .withWatermark("__tj_ts", watermarkDelay)
    // one initial-state row per key: the key's version list
    val versionsByKey = staticVersions
      .select(StreamKeys.text(keyCols).as("__tj_key"),
        struct(col(tsCol).cast("timestamp").as("ts"),
          struct(rightCols.map(col): _*).as("v")).as("__tj_ver"))
      .groupBy("__tj_key")
      .agg(collect_list(col("__tj_ver")).as("versions"))
    val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(joinedSchema(leftSchema, rightStruct))
    implicit val keyEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    val initEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(versionsByKey.schema)
    val initState = versionsByKey.groupByKey((r: Row) => r.getString(0))
    taggedLeft
      .groupByKey((r: Row) => r.getString(r.fieldIndex("__tj_key")))
      .transformWithState(
        new TemporalJoinProcessor(taggedLeft.schema, leftSchema, rightStruct),
        TimeMode.EventTime(), OutputMode.Append(), initState)(outEnc, initEnc)
  }

  /** The event-time temporal join operator over the tagged union
    * (`__tj_ts`, `__tj_probe`, `__tj_l` probe struct, `__tj_r` version
    * struct): probes buffer as (ts, seq, leftRow) — `seq` preserves
    * arrival order on equal timestamps — versions as ts → payload
    * struct; the watermark timer resolves and GCs through [[advance]].
    *
    * Timers are COALESCED, as in the other event-time processors: one
    * live timer per key at the smallest buffered timestamp, re-armed
    * after each drain. A timer per row (the naive reading of the
    * reference, whose timer service dedupes) makes every watermark
    * advance invoke handleExpiredTimer once per buffered timestamp, each
    * invocation reading the key's full probe list and version map —
    * quadratic state-store traffic per key per batch.
    *
    * Also usable with transformWithState INITIAL STATE
    * ([[asOfStreamStatic]]): the initial-state row is a key's full
    * version list from the bounded build side, loaded straight into the
    * versions MapState before the first batch.
    */
  class TemporalJoinProcessor(unionSchema: StructType,
      leftSchema: StructType, rightStruct: StructType)
      extends StatefulProcessorWithInitialState[String, Row, Row, Row] {
    private val probeSchema = StructType(Seq(
      StructField("ts", LongType),
      StructField("seq", LongType),
      StructField("p", leftSchema)))
    @transient private var probes: ListState[Row] = _
    @transient private var versions: MapState[Long, Row] = _
    @transient private var seq: ValueState[Long] = _
    @transient private var ptimer: ValueState[Long] = _ // smallest live timer
    private val tsIdx = unionSchema.fieldIndex("__tj_ts")
    private val probeIdx = unionSchema.fieldIndex("__tj_probe")
    private val lIdx = unionSchema.fieldIndex("__tj_l")
    private val rIdx = unionSchema.fieldIndex("__tj_r")

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      probes = getHandle.getListState[Row]("probes",
        Encoders.row(probeSchema), TTLConfig.NONE)
      versions = getHandle.getMapState[Long, Row]("versions",
        Encoders.scalaLong, Encoders.row(rightStruct), TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq", Encoders.scalaLong, TTLConfig.NONE)
      ptimer = getHandle.getValueState[Long]("ptimer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def arm(ts: Long): Unit = {
      val cur = if (ptimer.exists()) ptimer.get() else Long.MaxValue
      if (ts < cur) { getHandle.registerTimer(ts); ptimer.update(ts) }
    }

    /** Initial-state row: (key, versions: array<struct<ts, v>>) — the
      * bounded build side's history for this key.
      */
    override def handleInitialState(key: String, initialState: Row,
        timerValues: TimerValues): Unit = {
      initialState.getSeq[Row](initialState.fieldIndex("versions")).foreach { ver =>
        versions.updateValue(ver.getTimestamp(0).getTime, ver.getStruct(1))
      }
    }

    override def handleInputRows(key: String, rows: Iterator[Row],
        timerValues: TimerValues): Iterator[Row] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      var minNew = Long.MaxValue
      var n = if (seq.exists()) seq.get() else 0L
      val n0 = n
      rows.foreach { e =>
        val ts = e.getTimestamp(tsIdx).getTime
        if (ts > wm) { // late rows on either side are dropped
          if (e.getBoolean(probeIdx)) {
            probes.appendValue(new GenericRow(Array[Any](ts, n, e.getStruct(lIdx))))
            n += 1L
          } else versions.updateValue(ts, e.getStruct(rIdx))
          if (ts < minNew) minNew = ts
        }
      }
      if (n != n0) seq.update(n)
      if (minNew != Long.MaxValue) arm(minNew)
      Iterator.empty
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Row] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val buffered = probes.get().toSeq
        .map(r => (r.getLong(0), (r.getLong(1), r.getStruct(2))))
        .sortBy { case (ts, (n, _)) => (ts, n) }
      val (out, remaining, evict) =
        advance(buffered, versions.iterator().toSeq, wm)
      if (out.nonEmpty) {
        probes.clear()
        remaining.foreach { case (ts, (n, p)) =>
          probes.appendValue(new GenericRow(Array[Any](ts, n, p)))
        }
      }
      evict.foreach(versions.removeKey)
      ptimer.clear()
      if (remaining.nonEmpty) arm(remaining.map(_._1).min)
      out.iterator.map { case (_, (_, p), matched) =>
        val rVals = matched match {
          case Some((_, v)) => v.toSeq
          case None => Seq.fill[Any](rightStruct.length)(null)
        }
        new GenericRow((p.toSeq ++ rVals).toArray[Any])
      }
    }
  }
}
