package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window => WindowNode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** Streaming SQL rank-pattern recognition — the engine's analogue of the
  * reference's planner rules that turn the idiomatic
  * `ROW_NUMBER() OVER (PARTITION BY k ORDER BY s) <= n` filter into a
  * dedicated streaming operator instead of a (stream-illegal) window:
  *
  *   - `rn <= n` / `< n` / `= n`  →  StreamExecRank.java:87 → the
  *     retractable top-n diff operator;
  *   - `rn = 1` ordered by a time attribute → StreamExecDeduplicate.java:89
  *     → keep-first (ASC) / keep-last (DESC) dedup.
  *
  * Spark's own analyzer accepts the window+filter plan on a streaming
  * DataFrame but rejects it at query start (non-time window); `rewrite`
  * recognizes the analyzed plan shape, unwraps it to the window's child,
  * and routes it through the matching `transformWithState` processor. The
  * result is a changelog DataFrame: `__rowkind` byte + the child's
  * columns (keep-first emits insert-only rows without the kind column,
  * exactly like the reference's append-only dedup).
  *
  * Input may itself be a changelog (a `__rowkind` column on the child):
  * +I/+U upsert by the unique id column, -D deletes it — the reference's
  * retracting top-n contract (StreamExecRank over a changelog input).
  * Append-only inputs need no id column (arrival order synthesizes one,
  * the AppendOnlyTopNFunction case).
  *
  * At scale this is the same shape as the reference: state per key is the
  * key's row set (bounded by retention/TTL upstream), the stream shuffles
  * once on the partition columns, and the emitted diff is O(changed
  * ranks), not O(n) per row.
  */
object StreamingRank {

  private case class RankSpec(
      partitionKeys: Seq[Expression], orderKeys: Seq[(Expression, Boolean)], // (expr, asc)
      n: Int, child: LogicalPlan)

  /** Per-route resolved spec: every key is a concrete column (helper
    * columns project non-Attribute expressions, the reference's rank
    * rule materialization), dropped again from the operator output.
    */
  private case class ResolvedSpec(child: DataFrame,
      partitionCols: Seq[String], orderCols: Seq[(String, Boolean)],
      helpers: Seq[String], n: Int)

  /** Recognize Filter(row_number cmp literal) over Window(row_number) and
    * route to the streaming rank/dedup operator. `idCol` names the unique
    * row id (LongType) used to correlate changelog updates; append-only
    * inputs may omit it.
    */
  def rewrite(df: DataFrame, idCol: String = "id",
      stateTtl: Option[java.time.Duration] = None): DataFrame = {
    val spec = recognize(df.queryExecution.analyzed).getOrElse(
      throw new IllegalArgumentException(
        "not a streaming rank pattern: expected FILTER on " +
          "ROW_NUMBER() OVER (PARTITION BY … ORDER BY …) compared to a literal"))
    val spark = df.sparkSession
    val r = resolveKeys(Bridge.ofRows(spark, spec.child), spec)

    val isTimeDedup = r.n == 1 && r.orderCols.size == 1 &&
      r.child.schema(r.orderCols.head._1).dataType.isInstanceOf[TimestampType]
    val ttl = stateTtl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    val routed =
      if (isTimeDedup) {
        if (r.orderCols.head._2) keepFirstRows(r.child, r.partitionCols, ttl)
        else keepLastRows(r.child, r.partitionCols, ttl)
      } else topN(r.child, r.partitionCols, r.orderCols, r.n, idCol, ttl)
    // drop key-materialization columns: both our own helpers and the
    // `_w0`-style projections Spark's ExtractWindowExpressions added for
    // non-column partition/order expressions — neither is user-visible
    val visible = df.schema.fieldNames.toSet
    val extraneous = routed.schema.fieldNames
      .filter(c => c != Kind && !visible.contains(c))
    if (extraneous.isEmpty) routed else routed.drop(extraneous.toSeq: _*)
  }

  /** Project non-Attribute partition/order expressions into helper
    * columns so the keyed processors see plain columns — what the
    * reference's rank planner rule does by materializing the rank key
    * expressions (FlinkLogicalRankRule). Helper columns are internal and
    * dropped from the operator output.
    */
  private def resolveKeys(child0: DataFrame, spec: RankSpec): ResolvedSpec = {
    var child = child0
    val helpers = Seq.newBuilder[String]
    def colFor(e: Expression, tag: String): String = e match {
      case a: Attribute => a.name
      case other =>
        val nm = s"__rank_$tag"
        child = child.withColumn(nm, Bridge.column(other))
        helpers += nm
        nm
    }
    val parts = spec.partitionKeys.zipWithIndex.map { case (e, i) => colFor(e, s"p$i") }
    val orders = spec.orderKeys.zipWithIndex.map { case ((e, asc), i) =>
      (colFor(e, s"o$i"), asc)
    }
    ResolvedSpec(child, parts, orders, helpers.result(), spec.n)
  }

  // ---------------------------------------------------------- recognition

  private def recognize(plan: LogicalPlan): Option[RankSpec] = {
    // strip projections the user stacked above the filter (drop("rn"), …)
    def stripProjects(p: LogicalPlan): LogicalPlan = p match {
      case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
        stripProjects(child)
      case other => other
    }
    stripProjects(plan) match {
      case Filter(cond, fChild) =>
        // the rank bound: attr cmp literal (attr must resolve to row_number)
        val bound = cond match {
          case LessThanOrEqual(a: Attribute, Literal(v, IntegerType | LongType)) =>
            Some((a, v.toString.toInt))
          case LessThan(a: Attribute, Literal(v, IntegerType | LongType)) =>
            Some((a, v.toString.toInt - 1))
          case EqualTo(a: Attribute, Literal(v, IntegerType | LongType)) if v.toString.toInt == 1 =>
            Some((a, 1))
          case GreaterThanOrEqual(Literal(v, IntegerType | LongType), a: Attribute) =>
            Some((a, v.toString.toInt))
          case _ => None
        }
        bound.flatMap { case (rnAttr, n) =>
          findRowNumberWindow(stripProjects(fChild), rnAttr.exprId).map {
            case (w, parts, orders) =>
              RankSpec(parts, orders, n, w.child)
          }
        }
      case _ => None
    }
  }

  private def findRowNumberWindow(plan: LogicalPlan, rnId: ExprId)
      : Option[(WindowNode, Seq[Expression], Seq[(Expression, Boolean)])] = plan match {
    case w @ WindowNode(windowExprs, partitionSpec, orderSpec, _, _) =>
      val isOurRowNumber = windowExprs.exists {
        case a @ Alias(WindowExpression(_: RowNumber, _), _) => a.exprId == rnId
        case _ => false
      }
      if (!isOurRowNumber) None
      else {
        // arbitrary expressions allowed; non-Attributes get projected to
        // helper columns by resolveKeys
        val orders = orderSpec.map {
          case SortOrder(e, dir, _, _) => (e, dir == Ascending)
        }
        Some((w, partitionSpec, orders))
      }
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[Attribute]) =>
      findRowNumberWindow(child, rnId)
    case _ => None
  }

  // ------------------------------------------------------------- routing

  private val Kind = Changelog.RowKindCol

  /** NUL-joined partition-column key (the package's composite-key
    * convention; NUL never appears in the column renderings).
    */
  private def keyOf(idxs: Seq[Int]): Row => String =
    r => idxs.map(i => String.valueOf(r.get(i))).mkString("\u0000")

  private def dataSchema(child: DataFrame): StructType =
    StructType(child.schema.fields.filterNot(_.name == Kind))

  private def outSchema(child: DataFrame): StructType =
    StructType(StructField(Kind, ByteType, nullable = false) +:
      dataSchema(child).fields)

  private def groupByPartitionKey(child: DataFrame, partitionCols: Seq[String]) = {
    val idxs = partitionCols.map(child.schema.fieldIndex)
    child.groupByKey(keyOf(idxs))(Encoders.STRING)
  }

  /** State TTL needs the processing-time mode (Spark rejects a TTLConfig
    * under TimeMode.None) — the analogue of the reference's
    * `table.exec.state.ttl`, which is likewise processing-time based.
    */
  private def timeModeFor(ttl: TTLConfig): TimeMode =
    if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()

  /** rn = 1 ORDER BY ts ASC: first row per key wins — insert-only output. */
  private def keepFirstRows(child: DataFrame, partitionCols: Seq[String],
      ttl: TTLConfig): DataFrame =
    groupByPartitionKey(child, partitionCols)
      .transformWithState(new StatefulOps.KeepFirstProcessor[String, Row](ttl),
        timeModeFor(ttl), OutputMode.Update())(Encoders.row(child.schema))

  /** rn = 1 ORDER BY ts DESC: newest row per key wins — retract-stream
    * output (`__rowkind` + the child's columns), the keep-last
    * operator's DataFrame entry.
    */
  def keepLastRows(child: DataFrame, partitionCols: Seq[String],
      ttl: TTLConfig = TTLConfig.NONE): DataFrame =
    groupByPartitionKey(child, partitionCols)
      .transformWithState(new StatefulOps.KeepLastProcessor(child.schema, ttl),
        timeModeFor(ttl), OutputMode.Update())(Encoders.row(outSchema(child)))

  /** The streaming top-n operator's DataFrame entry (StreamExecRank.java:87
    * → the reference's retracting top-n function): per partition key,
    * the visible top `n` rows by `orderCols` ((column, ascending) pairs,
    * ties by id) as a changelog — `__rowkind` + the child's columns, the
    * DIFF of the visible top-n with rank-movement cascades. A child with a
    * `__rowkind` column is itself a changelog correlated by the LongType
    * `idCol` (+I/+U upsert, -D delete); an append-only child without
    * `idCol` gets arrival-order ids.
    */
  def topN(child: DataFrame, partitionCols: Seq[String],
      orderCols: Seq[(String, Boolean)], n: Int, idCol: String = "id",
      ttl: TTLConfig = TTLConfig.NONE): DataFrame = {
    val schema = child.schema
    val idIdx = if (schema.fieldNames.contains(idCol)) {
      require(schema(idCol).dataType == LongType,
        s"rank id column $idCol must be LongType")
      schema.fieldIndex(idCol)
    } else {
      require(!schema.fieldNames.contains(Kind),
        s"changelog rank input needs a LongType '$idCol' column to correlate updates")
      -1
    }
    val orderIdxs = orderCols.map { case (name, asc) =>
      (schema.fieldIndex(name), asc)
    }
    groupByPartitionKey(child, partitionCols)
      .transformWithState(
        new RowTopNProcessor(n, schema, idIdx, orderIdxs, ttl),
        timeModeFor(ttl), OutputMode.Update())(Encoders.row(outSchema(child)))
  }

  // ---------------------------------------------------------- processor

  /** The one retractable top-n operator, reference state shape (the
    * retracting top-n function's data state + sorted index, see
    * [[TopNIndex]]): one MapState, `rows` (id → full row), is the only
    * data state; the sorted index is built from it once per micro-batch
    * (each row's sort-key projection) and lives for that batch only.
    * Each change writes one state entry, costs O(log m) index mutation +
    * O(n) boundary walk and reads only the affected ids' payloads; the
    * emitted changelog is the DIFF of the visible top-n, rank cascades
    * included.
    */
  class RowTopNProcessor(n: Int, schema: StructType, idIdx: Int,
      orderIdxs: Seq[(Int, Boolean)],
      ttl: TTLConfig = TTLConfig.NONE)
      extends StatefulProcessor[String, Row, Row] {
    @transient private var rowsState: MapState[Long, Row] = _
    @transient private var nextId: ValueState[Long] = _
    private val kindIdx = schema.fieldNames.indexOf(Changelog.RowKindCol)
    private val dataIdxs =
      schema.fieldNames.indices.filter(i => i != kindIdx)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      rowsState = getHandle.getMapState[Long, Row]("rows",
        Encoders.scalaLong, Encoders.row(schema), ttl)
      nextId = getHandle.getValueState[Long]("nextId",
        Encoders.scalaLong, ttl)
    }

    /** Sort-key projection of a full row (positions follow orderIdxs). */
    private def sortKeyOf(r: Row): Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRow(
        orderIdxs.map { case (i, _) => r.get(i) }.toArray[Any])

    /** Ordering over sort-key projections (nulls first on ASC, the
      * Spark default); ties broken by id inside TopNIndex.
      */
    private val sortOrd: Ordering[Row] = (a: Row, b: Row) => {
      var i = 0
      var c = 0
      while (c == 0 && i < orderIdxs.length) {
        val asc = orderIdxs(i)._2
        val (x, y) = (a.get(i), b.get(i))
        val cmp =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else x.asInstanceOf[Comparable[Any]].compareTo(y)
        c = if (asc) cmp else -cmp
        i += 1
      }
      c
    }

    private def tag(kind: Byte, r: Row): Row =
      new org.apache.spark.sql.catalyst.expressions.GenericRow(
        (kind.asInstanceOf[Any] +: dataIdxs.map(r.get)).toArray[Any])

    override def handleInputRows(key: String, rows: Iterator[Row],
        timerValues: TimerValues): Iterator[Row] = {
      val outRows = scala.collection.mutable.ArrayBuffer.empty[Row]
      val index = new TopNIndex[Row](n, sortOrd)
      index.load(rowsState.iterator().map { case (id, r) => (id, sortKeyOf(r)) })

      rows.foreach { r =>
        val kind = if (kindIdx < 0) Changelog.Insert else r.getByte(kindIdx)
        val id =
          if (idIdx >= 0) r.getLong(idIdx)
          else {
            val v = if (nextId.exists()) nextId.get() else 0L
            nextId.update(v + 1L); v
          }
        val del = kind == Changelog.Delete
        // the changed id's previous payload — needed for its retract
        // half; the only extra state read this record triggers
        val oldRow =
          if (index.sortOf(id).isDefined) Option(rowsState.getValue(id)) else None
        val wasVisible = index.isVisible(id)
        if (del) rowsState.removeKey(id) else rowsState.updateValue(id, r)
        val diffs = index.apply(del, id, sortKeyOf(r))
        if (diffs.isEmpty) {
          // sort key unchanged: a payload-only change on a visible id
          // still emits the -U/+U pair (the downstream sees new values)
          if (!del && wasVisible && oldRow.exists(_ != r)) {
            outRows += tag(Changelog.UpdateBefore, oldRow.get)
            outRows += tag(Changelog.UpdateAfter, r)
          }
        } else diffs.foreach { v =>
          def payloadOf(vid: Long): Row =
            if (vid == id) oldRow.getOrElse(r) else rowsState.getValue(vid)
          (v.oldSort, v.newSort) match {
            case (Some(_), None) =>
              outRows += tag(Changelog.Delete, payloadOf(v.id))
            case (Some(_), Some(_)) =>
              outRows += tag(Changelog.UpdateBefore, oldRow.getOrElse(r))
              outRows += tag(Changelog.UpdateAfter, r)
            case (None, Some(_)) =>
              outRows += tag(Changelog.Insert,
                if (v.id == id) r else rowsState.getValue(v.id))
            case _ =>
          }
        }
      }
      outRows.iterator
    }
  }
}
