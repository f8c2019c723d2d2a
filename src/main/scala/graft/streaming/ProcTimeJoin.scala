package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.StructType

/** Processing-time temporal join — the reference's
  * TemporalProcessTimeJoinOperator.java:48 (flink-table-runtime/.../join/
  * temporal/): the build side is an upsert stream whose LATEST version per
  * key sits in a single ValueState; every probe row joins the version
  * current AT ITS ARRIVAL — no event-time alignment, no probe buffering,
  * no watermark. Build-side updates overwrite in arrival order; a
  * build-side DELETE clears the state (probes then miss / null-pad).
  *
  * Micro-batch arrival semantics: within one batch a key's rows reach the
  * processor in input order (single-source replays preserve per-key order
  * through the hash shuffle), and the operator processes them in exactly
  * that order — a version row takes effect for every LATER probe,
  * including probes later in the same batch. This is the reference's
  * element-order contract, not a batch-boundary approximation.
  *
  * State is one version row per key (vs the event-time join's full
  * version history) — at 100 TB the build side's state is `|keys| × row`,
  * and the optional TTL bounds it for keys that stop updating (the
  * reference's `table.exec.state.ttl` retention on this operator).
  */
object ProcTimeJoin {

  /** DataFrame-level form, mirroring [[TemporalJoin.asOfStream]]'s tagged
    * union: output = every left column + `r_<col>` per right payload
    * column. `leftOuter=true` null-pads probes with no current version
    * (FOR SYSTEM_TIME AS OF proctime LEFT JOIN); false drops them (inner).
    *
    * The build side may carry an optional `__rowkind` byte column
    * ([[Changelog.RowKindCol]]): Delete/UpdateBefore rows CLEAR the key's
    * version (upsert-stream delete), anything else upserts.
    */
  def procTimeJoin(probeSide: DataFrame, buildSide: DataFrame,
      keyCols: Seq[String], rightCols: Seq[String],
      leftOuter: Boolean = true, ttl: TTLConfig = TTLConfig.NONE): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct}
    require(keyCols.nonEmpty, "procTimeJoin needs at least one key column")
    val leftSchema = probeSide.schema
    val rightStruct = StructType(rightCols.map(c => buildSide.schema(c)))
    val kindCol = Changelog.RowKindCol
    val buildKind =
      if (buildSide.columns.contains(kindCol)) col(kindCol).cast("tinyint")
      else lit(Changelog.Insert)
    val taggedLeft = probeSide
      .select(StreamKeys.text(keyCols).as("__pj_key"), lit(true).as("__pj_probe"),
        lit(Changelog.Insert).as("__pj_kind"),
        struct(leftSchema.fieldNames.map(col).toSeq: _*).as("__pj_l"))
    val taggedRight = buildSide
      .select(StreamKeys.text(keyCols).as("__pj_key"), lit(false).as("__pj_probe"),
        buildKind.as("__pj_kind"),
        struct(rightCols.map(col): _*).as("__pj_r"))
    val unioned = taggedLeft.unionByName(taggedRight, allowMissingColumns = true)
    joinTagged(unioned, leftSchema, rightStruct, leftOuter, ttl)
  }

  /** Post-union core: input already in the tagged shape (__pj_key,
    * __pj_probe, __pj_kind, __pj_l, __pj_r). Split out so a caller (or a
    * test) that controls one interleaved stream can pin the exact
    * probe/version arrival order — the two-sided union preserves per-key
    * order within each side but not across sides, same as the
    * reference's two network inputs.
    */
  def joinTagged(unioned: DataFrame, leftSchema: StructType,
      rightStruct: StructType, leftOuter: Boolean = true,
      ttl: TTLConfig = TTLConfig.NONE): DataFrame = {
    implicit val outEnc: org.apache.spark.sql.Encoder[Row] =
      Encoders.row(TemporalJoin.joinedSchema(leftSchema, rightStruct))
    implicit val keyEnc: org.apache.spark.sql.Encoder[String] = Encoders.STRING
    unioned
      .groupByKey((r: Row) => r.getString(r.fieldIndex("__pj_key")))
      .transformWithState(
        new RowProcTimeJoinProcessor(unioned.schema, leftSchema, rightStruct,
          leftOuter, ttl),
        TimeMode.None(), OutputMode.Append())
  }

  /** One ValueState row per key: the build side's current version. */
  class RowProcTimeJoinProcessor(unionSchema: StructType,
      leftSchema: StructType, rightStruct: StructType,
      leftOuter: Boolean, ttl: TTLConfig)
      extends StatefulProcessor[String, Row, Row] {
    @transient private var latest: ValueState[Row] = _
    private val iProbe = unionSchema.fieldIndex("__pj_probe")
    private val iKind = unionSchema.fieldIndex("__pj_kind")
    private val iL = unionSchema.fieldIndex("__pj_l")
    private val iR = unionSchema.fieldIndex("__pj_r")
    private val nLeft = leftSchema.length
    private val nRight = rightStruct.length

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState[Row]("latest",
        Encoders.row(rightStruct), ttl)

    private def joined(l: Row, v: Row): Row = {
      val vals = new Array[Any](nLeft + nRight)
      var i = 0
      while (i < nLeft) { vals(i) = l.get(i); i += 1 }
      var j = 0
      while (j < nRight) {
        vals(nLeft + j) = if (v == null) null else v.get(j); j += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
    }

    override def handleInputRows(key: String, rows: Iterator[Row],
        timerValues: TimerValues): Iterator[Row] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      // cache the point state across the batch: one read, one final write
      var cur: Row = latest.get() // null when absent
      var dirty = false
      rows.foreach { r =>
        if (r.getBoolean(iProbe)) {
          if (cur != null || leftOuter)
            out += joined(r.getStruct(iL), cur)
        } else {
          val k = r.getByte(iKind)
          if (k == Changelog.Delete || k == Changelog.UpdateBefore) cur = null
          else cur = r.getStruct(iR)
          dirty = true
        }
      }
      if (dirty) {
        if (cur == null) latest.clear() else latest.update(cur)
      }
      out.iterator
    }
  }
}
