package graft.cep

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.types._

/** SQL `MATCH_RECOGNIZE` front door — the engine's analogue of the
  * reference's StreamExecMatch
  * (flink-table/flink-table-planner/.../exec/stream/StreamExecMatch.java:59,
  * with pattern translation in MatchCodeGenerator.scala; query shapes in
  * flink-table-planner's MatchRecognizeITCase): parses the standard
  * clause subset into the [[Pattern]] DSL and runs the shared [[NFA]]
  * per partition.
  *
  * Supported subset (parity with the reference's most-used surface):
  *
  *   - `PARTITION BY c1, c2` / `ORDER BY c1, c2`
  *   - `MEASURES m AS alias, …`, each `m` one of `V.col` (last row of
  *     V), `FIRST(V.col)`, `LAST(V.col)`, `COUNT(V.*)`, `COUNT(*)`,
  *     `SUM/MIN/MAX/AVG(V.col)`, `CLASSIFIER()`, `MATCH_NUMBER()`
  *   - `ONE ROW PER MATCH` (the only row-per-match mode, as in the
  *     reference's streaming planner)
  *   - `AFTER MATCH SKIP PAST LAST ROW` (the default strategy)
  *   - `PATTERN (A B+ C? D* E{2} F{1,3})` — concatenation is strict row
  *     adjacency (SQL semantics: every row is consumed), quantifiers are
  *     greedy
  *   - `WITHIN INTERVAL 'n' SECOND|MINUTE|HOUR|DAY` (reference extension,
  *     Pattern.within) — the first ORDER BY column must be a TIMESTAMP or
  *     an epoch-microseconds BIGINT
  *   - `DEFINE V AS predicate, …` — any Spark SQL boolean expression
  *     over the CURRENT row (comparisons, AND/OR/NOT with SQL
  *     three-valued logic, IN, CASE, LIKE, built-in functions), evaluated
  *     by Catalyst as one column per variable; a NULL result does not
  *     match. `V.col` of a pattern variable reads the current row's
  *     `col`; `PREV(x[, n])` / `NEXT(x[, n])` are `lag`/`lead` over the
  *     clause's PARTITION BY and ORDER BY (batch only). Pattern variables
  *     without a DEFINE match any row (SQL default). Cross-variable
  *     references (LAST(other.col)) are not in the subset.
  *
  * Output: one row per match — partition columns then measures, ordered
  * as written.
  */
object MatchRecognize {

  // ---------------------------------------------------------------- AST

  /** A MEASURES expression. */
  private sealed trait Ex
  private case class VarField(variable: String, field: String) extends Ex
  /** FIRST/LAST/COUNT/SUM/MIN/MAX/AVG over a variable's rows. */
  private case class Agg(fn: String, variable: String, field: String) extends Ex
  /** CLASSIFIER(): the pattern variable that matched the current row
    * (ALL ROWS PER MATCH) or the last variable (ONE ROW PER MATCH).
    */
  private case object Classifier extends Ex
  /** MATCH_NUMBER(): 1-based sequence of the match within its partition. */
  private case object MatchNum extends Ex

  private case class PatVar(name: String, minTimes: Int, maxTimes: Int,
      greedy: Boolean = true)

  private case class Spec(
      partitionBy: Seq[String],
      orderBy: Seq[String],
      measures: Seq[(Ex, String)],
      pattern: Seq[PatVar],
      withinMicros: Option[Long],
      defines: Seq[(String, Vector[String])], // variable -> predicate tokens
      skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow,
      allRows: Boolean = false)

  // ---------------------------------------------------------- tokenizer

  private val TokenRe =
    """\s*(?:('(?:[^']|'')*')|([A-Za-z_][A-Za-z_0-9]*)|(\d+\.\d+|\d+)|(<=|>=|<>|!=|[(),.*+?{}=<>/%-]))""".r

  private def tokenize(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      TokenRe.findPrefixMatchOf(s.substring(i)) match {
        case Some(m) =>
          out += m.group(0).trim
          i += m.end
        case None =>
          if (s.substring(i).trim.isEmpty) i = s.length
          else throw new IllegalArgumentException(
            s"MATCH_RECOGNIZE: cannot tokenize at: ${s.substring(i).take(30)}")
      }
    }
    out.result()
  }

  // ------------------------------------------------------------- parser

  private class P(toks: Vector[String]) {
    private var pos = 0
    def peek: String = if (pos < toks.length) toks(pos) else ""
    def peekUpper: String = peek.toUpperCase
    def next(): String = { val t = peek; pos += 1; t }
    def expect(up: String): Unit = {
      val t = next()
      require(t.equalsIgnoreCase(up), s"MATCH_RECOGNIZE: expected $up, got $t")
    }
    def accept(up: String): Boolean =
      if (peekUpper == up) { pos += 1; true } else false
    def atEnd: Boolean = pos >= toks.length

    def ident(): String = {
      val t = next()
      require(t.nonEmpty && (t.head.isLetter || t.head == '_'),
        s"MATCH_RECOGNIZE: expected identifier, got '$t'")
      t
    }

    def identList(): Seq[String] = {
      val out = Seq.newBuilder[String]
      out += ident()
      while (accept(",")) out += ident()
      out.result()
    }

    private val aggFns = Set("FIRST", "LAST", "COUNT", "SUM", "MIN", "MAX", "AVG")

    /** measure := CLASSIFIER() | MATCH_NUMBER() | fn(V.col|V.*|*) | V.col */
    def measure(): Ex = peek match {
      case t if t.equalsIgnoreCase("CLASSIFIER") =>
        next(); expect("("); expect(")"); Classifier
      case t if t.equalsIgnoreCase("MATCH_NUMBER") =>
        next(); expect("("); expect(")"); MatchNum
      case t if aggFns.contains(t.toUpperCase) =>
        val fn = next().toUpperCase
        expect("(")
        if (fn == "COUNT" && accept("*")) { expect(")"); Agg("COUNT", "", "") }
        else {
          val v = ident()
          expect(".")
          val f = if (accept("*")) "" else ident()
          expect(")")
          Agg(fn, v, f)
        }
      case _ =>
        val v = ident()
        expect(".")
        VarField(v, ident())
    }

    /** The tokens up to the next comma at paren depth 0, or the end. */
    def untilComma(): Vector[String] = {
      val out = Vector.newBuilder[String]
      var depth = 0
      while (!atEnd && !(depth == 0 && peek == ",")) {
        val t = next()
        if (t == "(") depth += 1 else if (t == ")") depth -= 1
        out += t
      }
      out.result()
    }

    def patternVars(): Seq[PatVar] = {
      expect("(")
      val out = Seq.newBuilder[PatVar]
      while (peek != ")") {
        val name = ident()
        val (mn, mx, quantified) = peek match {
          case "*" => next(); (0, Int.MaxValue, true)
          case "+" => next(); (1, Int.MaxValue, true)
          case "?" => next(); (0, 1, true)
          case "{" =>
            next()
            val lo = next().toInt
            val hi = if (accept(",")) next().toInt else lo
            expect("}")
            (lo, hi, true)
          case _ => (1, 1, false)
        }
        // SQL reluctant quantifiers: A+? / A*? / A?? / A{n,m}? prefer the
        // SHORTEST repetition count (rows row 19.2, reference
        // MatchCodeGenerator greedy/reluctant handling)
        val reluctant = quantified && accept("?")
        out += PatVar(name, mn, mx, greedy = !reluctant)
      }
      expect(")")
      out.result()
    }
  }

  private def isNav(t: String): Boolean =
    t.equalsIgnoreCase("PREV") || t.equalsIgnoreCase("NEXT")

  /** A DEFINE body as Spark SQL text: `V.col` of a pattern variable reads
    * the current row (`col`), and `PREV(x[, n])` / `NEXT(x[, n])` become
    * `lag`/`lead(x[, n]) OVER (<over>)` — SQL MATCH_RECOGNIZE consumes
    * every row, so row navigation is partition-order navigation.
    */
  private def defineSql(toks: Vector[String], vars: Set[String], over: String): String = {
    val out = Vector.newBuilder[String]
    var navCloses = List.empty[Int] // paren depths at which a PREV/NEXT call ends
    var depth = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (vars.contains(t) && toks.lift(i + 1).contains(".")) i += 1 // drop `V.`
      else if (isNav(t) && toks.lift(i + 1).contains("(")) {
        out += (if (t.equalsIgnoreCase("PREV")) "lag" else "lead")
        navCloses ::= depth
      } else {
        out += t
        if (t == "(") depth += 1
        else if (t == ")") {
          depth -= 1
          if (navCloses.headOption.contains(depth)) {
            out += s"OVER ($over)"
            navCloses = navCloses.tail
          }
        }
      }
      i += 1
    }
    out.result().mkString(" ")
  }

  private val intervalMicros = Map(
    "SECOND" -> 1000000L, "MINUTE" -> 60000000L,
    "HOUR" -> 3600000000L, "DAY" -> 86400000000L)

  private def parse(clause: String): Spec = {
    // tolerate the full `MATCH_RECOGNIZE ( … )` wrapper or the bare body
    val body = {
      val t = clause.trim
      val up = t.toUpperCase
      if (up.startsWith("MATCH_RECOGNIZE")) {
        val inner = t.substring("MATCH_RECOGNIZE".length).trim
        require(inner.startsWith("(") && inner.endsWith(")"),
          "MATCH_RECOGNIZE: expected parenthesized clause")
        inner.substring(1, inner.length - 1)
      } else t
    }
    val p = new P(tokenize(body))

    var partitionBy = Seq.empty[String]
    if (p.accept("PARTITION")) { p.expect("BY"); partitionBy = p.identList() }
    p.expect("ORDER"); p.expect("BY")
    val orderBy = p.identList()

    p.expect("MEASURES")
    val measures = Seq.newBuilder[(Ex, String)]
    var more = true
    while (more) {
      val e = p.measure()
      p.expect("AS")
      measures += ((e, p.ident()))
      more = p.accept(",")
    }

    var allRows = false
    if (p.accept("ONE")) { p.expect("ROW"); p.expect("PER"); p.expect("MATCH") }
    else if (p.accept("ALL")) {
      p.expect("ROWS"); p.expect("PER"); p.expect("MATCH"); allRows = true
    }
    var skip: AfterMatchSkip = AfterMatchSkip.SkipPastLastRow
    if (p.accept("AFTER")) {
      p.expect("MATCH"); p.expect("SKIP")
      if (p.accept("PAST")) { p.expect("LAST"); p.expect("ROW") }
      else {
        p.expect("TO")
        if (p.accept("NEXT")) { p.expect("ROW"); skip = AfterMatchSkip.SkipToNext }
        else if (p.accept("FIRST")) skip = AfterMatchSkip.SkipToFirst(p.ident())
        else if (p.accept("LAST")) skip = AfterMatchSkip.SkipToLast(p.ident())
        else throw new IllegalArgumentException(
          s"MATCH_RECOGNIZE: unsupported skip strategy at '${p.peek}'")
      }
    }

    p.expect("PATTERN")
    val pat = p.patternVars()
    require(pat.nonEmpty, "MATCH_RECOGNIZE: empty PATTERN")
    require(pat.head.minTimes >= 1,
      "MATCH_RECOGNIZE subset: the first pattern variable must not be optional")

    var within: Option[Long] = None
    if (p.accept("WITHIN")) {
      p.expect("INTERVAL")
      val lit = p.next()
      require(lit.startsWith("'"), "MATCH_RECOGNIZE: INTERVAL literal expected")
      val n = lit.substring(1, lit.length - 1).trim.toLong
      val unit = p.ident().toUpperCase
      val scale = intervalMicros.getOrElse(unit,
        throw new IllegalArgumentException(s"MATCH_RECOGNIZE: unsupported interval unit $unit"))
      within = Some(n * scale)
    }

    val defines = Seq.newBuilder[(String, Vector[String])]
    if (p.accept("DEFINE")) {
      var m = true
      while (m) {
        val v = p.ident()
        p.expect("AS")
        val body = p.untilComma()
        require(body.nonEmpty, s"MATCH_RECOGNIZE: empty DEFINE for $v")
        defines += (v -> body)
        m = p.accept(",")
      }
    }
    require(p.atEnd, s"MATCH_RECOGNIZE: trailing tokens at '${p.peek}'")
    Spec(partitionBy, orderBy, measures.result(), pat, within, defines.result(), skip,
      allRows)
  }

  // --------------------------------------------------------- evaluation

  private def num(v: Any): Double = v match {
    case n: java.lang.Number => n.doubleValue()
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  private def toJavaBigDecimal(v: Any): java.math.BigDecimal = v match {
    case d: java.math.BigDecimal => d
    case d: scala.math.BigDecimal => d.bigDecimal
    case n: java.lang.Number => new java.math.BigDecimal(n.toString)
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  private def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Number, y: java.lang.Number) => java.lang.Double.compare(num(x), num(y))
    case (x: String, y: String) => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Instant, y: java.time.Instant) => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case _ => throw new IllegalArgumentException(s"incomparable: $a vs $b")
  }

  /** The reserved column that carries variable `v`'s DEFINE result. */
  private def defineCol(v: String): String = s"__mr_define_$v"

  /** `df` plus one boolean column per DEFINE, each the predicate's SQL
    * text compiled by Catalyst over the current row (PREV/NEXT as window
    * functions over the clause's partition and order).
    */
  private def withDefines(df: DataFrame, spec: Spec): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val vars = spec.pattern.map(_.name).toSet
    val over = (if (spec.partitionBy.isEmpty) ""
      else spec.partitionBy.mkString("PARTITION BY ", ", ", " ")) +
      spec.orderBy.mkString("ORDER BY ", ", ", "")
    val out = df.select(col("*") +: spec.defines.map { case (v, toks) =>
      expr(defineSql(toks, vars, over)).as(defineCol(v)) }: _*)
    spec.defines.foreach { case (v, toks) =>
      val dt = out.schema(defineCol(v)).dataType
      require(dt == BooleanType, s"MATCH_RECOGNIZE: DEFINE $v must be a boolean " +
        s"predicate, got ${dt.simpleString}: ${toks.mkString(" ")}")
    }
    out
  }

  /** Evaluation context for one emitted row: the (possibly running)
    * stage→rows map, the classifier variable, and the match number.
    */
  private case class MeasureCtx(stages: Map[String, IndexedSeq[Row]],
      classifier: String, matchNumber: Long)

  /** Measure evaluation over a complete match (variable → consumed rows).
    * Bare `V.col` is the LAST row of V; under ALL ROWS PER MATCH the
    * context is the running prefix, giving the standard's RUNNING
    * semantics per emitted row.
    */
  private def compileMeasure(e: Ex, schema: StructType)
      : MeasureCtx => Any = e match {
    case Classifier => ctx => ctx.classifier
    case MatchNum => ctx => java.lang.Long.valueOf(ctx.matchNumber)
    case VarField(v, f) =>
      val i = schema.fieldIndex(f)
      ctx => ctx.stages.getOrElse(v, IndexedSeq.empty).lastOption
        .map(r => if (r.isNullAt(i)) null else r.get(i)).orNull
    case Agg("FIRST", v, f) =>
      val i = schema.fieldIndex(f)
      ctx => ctx.stages.getOrElse(v, IndexedSeq.empty).headOption
        .map(r => if (r.isNullAt(i)) null else r.get(i)).orNull
    case Agg("LAST", v, f) =>
      val i = schema.fieldIndex(f)
      ctx => ctx.stages.getOrElse(v, IndexedSeq.empty).lastOption
        .map(r => if (r.isNullAt(i)) null else r.get(i)).orNull
    case Agg("COUNT", "", _) =>
      ctx => java.lang.Long.valueOf(ctx.stages.valuesIterator.map(_.size.toLong).sum)
    case Agg("COUNT", v, _) =>
      ctx => java.lang.Long.valueOf(ctx.stages.getOrElse(v, IndexedSeq.empty).size.toLong)
    case Agg(fn @ ("SUM" | "MIN" | "MAX" | "AVG"), v, f) =>
      val i = schema.fieldIndex(f)
      val integral = schema(i).dataType match {
        case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
        case _ => false
      }
      val decimalScale = schema(i).dataType match {
        case d: DecimalType => d.scale
        case _ => -1
      }
      ctx => {
        val vals = ctx.stages.getOrElse(v, IndexedSeq.empty)
          .filterNot(_.isNullAt(i)).map(_.get(i))
        if (vals.isEmpty) null
        else fn match {
          case "MIN" => vals.minBy(identity[Any])(Ordering.fromLessThan(compare(_, _) < 0))
          case "MAX" => vals.maxBy(identity[Any])(Ordering.fromLessThan(compare(_, _) < 0))
          case "AVG" => java.lang.Double.valueOf(vals.map(num).sum / vals.size)
          case "SUM" =>
            if (integral) java.lang.Long.valueOf(vals.map(num(_).toLong).sum)
            else if (decimalScale >= 0)
              // keep exact decimal arithmetic: the declared measure type is
              // DecimalType, so a Double here would fail the RowEncoder
              vals.map(toJavaBigDecimal).reduce(_.add(_)).setScale(decimalScale)
            else java.lang.Double.valueOf(vals.map(num).sum)
        }
      }
    case other =>
      throw new IllegalArgumentException(
        s"MATCH_RECOGNIZE subset: unsupported MEASURES expression $other")
  }

  private def measureType(e: Ex, schema: StructType): DataType = e match {
    case Classifier => StringType
    case MatchNum => LongType
    case VarField(_, f) => schema(schema.fieldIndex(f)).dataType
    case Agg("FIRST" | "LAST" | "MIN" | "MAX", _, f) => schema(schema.fieldIndex(f)).dataType
    case Agg("COUNT", _, _) => LongType
    case Agg("AVG", _, _) => DoubleType
    case Agg("SUM", _, f) => schema(schema.fieldIndex(f)).dataType match {
      case _: IntegerType | _: LongType | _: ShortType | _: ByteType => LongType
      case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
      case _ => DoubleType
    }
    case other =>
      throw new IllegalArgumentException(s"unsupported MEASURES expression $other")
  }

  /** Epoch-microseconds from the first ORDER BY column (for WITHIN). */
  private def tsExtractor(schema: StructType, col: String): Row => Long = {
    val i = schema.fieldIndex(col)
    schema(i).dataType match {
      case _: TimestampType => row => row.get(i) match {
        case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
        case t: java.time.Instant => t.getEpochSecond * 1000000L + t.getNano / 1000L
      }
      case _: LongType => _.getLong(i)
      case _: IntegerType => _.getInt(i).toLong
      case d => throw new IllegalArgumentException(
        s"MATCH_RECOGNIZE WITHIN: ORDER BY column $col has unsupported type $d")
    }
  }

  // ------------------------------------------------------------ runner

  /** Run a MATCH_RECOGNIZE clause over a bounded DataFrame. */
  def apply(df0: DataFrame, clause: String): DataFrame = {
    val spec = parse(clause)
    val df = withDefines(df0, spec)
    val originalFieldCount = df0.schema.length
    val schema = df.schema
    val sortKey = orderingFor(schema, spec.orderBy)

    val tsFn: Row => Long =
      if (spec.withinMicros.isDefined) tsExtractor(schema, spec.orderBy.head)
      else _ => 0L

    val pattern = buildPattern(spec, schema)
    val nfa = new NFA[Row](pattern, tsFn)

    val partIdx = spec.partitionBy.map(schema.fieldIndex)
    val measureFns = spec.measures.map { case (e, _) => compileMeasure(e, schema) }
    val measureFields = spec.measures.map { case (e, alias) =>
      StructField(alias, measureType(e, schema), nullable = true) }
    // ONE ROW PER MATCH: partition cols + measures;
    // ALL ROWS PER MATCH: every ORIGINAL input column + measures (the
    // DEFINE columns stay internal)
    val outSchema =
      if (spec.allRows)
        StructType(schema.fields.take(originalFieldCount) ++ measureFields.toArray)
      else StructType(
        spec.partitionBy.map(c => schema(schema.fieldIndex(c))) ++ measureFields)
    implicit val outEnc = Encoders.row(outSchema)
    implicit val keyEnc = Encoders.STRING

    df.groupByKey(r => partIdx.map(i => String.valueOf(r.get(i))).mkString("\u0000"))
      .flatMapGroups { (_, it) =>
        val sorted = it.toIndexedSeq.sortBy(sortKey)(SeqAnyOrdering)
        var matchNo = 0L
        nfa.findMatches(sorted, 0, spec.skip).iterator.flatMap { case (s, _, m) =>
          matchNo += 1
          if (!spec.allRows)
            Iterator.single(matchRow(m, matchNo, sorted(s), partIdx, measureFns))
          else {
            // RUNNING semantics: each consumed row is emitted with the
            // measures over the prefix up to and including it
            var running = Map.empty[String, IndexedSeq[Row]]
            m.iterator.flatMap { case (stage, rows) =>
              rows.iterator.map { r =>
                running = running.updated(stage,
                  running.getOrElse(stage, IndexedSeq.empty) :+ r)
                val ctx = MeasureCtx(running, stage, matchNo)
                Row.fromSeq(r.toSeq.take(originalFieldCount) ++ measureFns.map(_(ctx)))
              }
            }
          }
        }
      }
  }

  /** Run a MATCH_RECOGNIZE clause over an unbounded keyed stream — the
    * StreamExecMatch path. As in the reference, the primary ORDER BY
    * column must be the event-time attribute (a TIMESTAMP or epoch
    * numeric). Same-timestamp ties resolve in ARRIVAL order (the
    * reference CepOperator's contract for equal-time elements), not by
    * the secondary ORDER BY columns the batch path honors — feed
    * secondary-sorted input when tie order must match batch. Rows
    * buffer per key and matches emit incrementally through the one
    * streaming CEP operator, [[CEP.CepProcessor]] (sorted-merge buffer,
    * incremental scan, within-horizon eviction, per-key MATCH_NUMBER()).
    * The state bound rule is CEP.streaming's: the clause carries WITHIN
    * or `maxBufferPerKey` caps the buffer.
    * Every AFTER MATCH skip strategy streams (the reference's
    * CepOperator honors all of AfterMatchSkipStrategy.java): PAST LAST
    * ROW trims the buffer at each match; the overlapping strategies
    * (NO SKIP / TO NEXT / TO FIRST/LAST) keep the buffer to the
    * within-horizon and suppress re-found matches by identity.
    */
  def streaming(df0: DataFrame, clause: String,
      maxBufferPerKey: Option[Int] = None): DataFrame = {
    val spec = parse(clause)
    require(!spec.allRows,
      "streaming MATCH_RECOGNIZE supports ONE ROW PER MATCH only (as the reference)")
    require(!spec.defines.exists(_._2.exists(isNav)),
      "streaming MATCH_RECOGNIZE does not support PREV/NEXT (window columns need a bounded input)")
    require(spec.withinMicros.isDefined || maxBufferPerKey.isDefined,
      "streaming MATCH_RECOGNIZE needs a state bound: WITHIN or maxBufferPerKey")
    val df = withDefines(df0, spec)
    val schema = df.schema
    val tsFn = tsExtractor(schema, spec.orderBy.head)
    val pattern = buildPattern(spec, schema)
    val partIdx = spec.partitionBy.map(schema.fieldIndex)
    val measureFns = spec.measures.map { case (e, _) => compileMeasure(e, schema) }
    val outSchema = StructType(
      spec.partitionBy.map(c => schema(schema.fieldIndex(c))) ++
        spec.measures.map { case (e, alias) =>
          StructField(alias, measureType(e, schema), nullable = true) })
    implicit val outEnc: Encoder[Row] = Encoders.row(outSchema)
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    df.groupByKey(r => partIdx.map(i => String.valueOf(r.get(i))).mkString("\u0000"))
      .transformWithState(
        new CEP.CepProcessor[Row, Row](pattern, tsFn, Encoders.row(schema),
          maxBufferPerKey, spec.skip, (_, matchNo, m) =>
            matchRow(m, matchNo, m.flatMap(_._2).head, partIdx, measureFns)),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** ONE ROW PER MATCH output row: the anchor's partition columns, then
    * each measure over the match's stages (CLASSIFIER() is the last
    * non-empty stage, MATCH_NUMBER() is `matchNo`).
    */
  private def matchRow(m: Seq[(String, Seq[Row])], matchNo: Long, anchor: Row,
      partIdx: Seq[Int], measureFns: Seq[MeasureCtx => Any]): Row = {
    val stageMap: Map[String, IndexedSeq[Row]] =
      m.groupBy(_._1).map { case (k, vs) => k -> vs.flatMap(_._2).toIndexedSeq }
    val cls = m.reverseIterator.find(_._2.nonEmpty).map(_._1).getOrElse("")
    Row.fromSeq(partIdx.map(anchor.get) ++
      measureFns.map(_(MeasureCtx(stageMap, cls, matchNo))))
  }

  private def buildPattern(spec: Spec, schema: StructType): Pattern[Row] = {
    def predFor(v: String): Row => Boolean =
      if (!spec.defines.exists(_._1 == v)) _ => true
      else {
        val i = schema.fieldIndex(defineCol(v))
        row => !row.isNullAt(i) && row.getBoolean(i)
      }

    // SQL concatenation = strict adjacency (every row is consumed), and
    // quantifier repetitions are likewise consecutive. Anchoring is
    // handled by NFA.findMatches scanning every start position, so the
    // first stage being Strict only constrains its own repetitions.
    val stages = spec.pattern.map { pv =>
      Stage[Row](pv.name, predFor(pv.name), Contiguity.Strict,
        pv.minTimes, pv.maxTimes, greedyLoop = pv.greedy)
    }
    Pattern(stages.toVector, withinMs = spec.withinMicros)
  }

  /** Sort key: the ORDER BY column values as a Seq, compared pairwise. */
  private def orderingFor(schema: StructType, cols: Seq[String]): Row => Seq[Any] = {
    val idx = cols.map(schema.fieldIndex)
    row => idx.map(row.get)
  }

  private object SeqAnyOrdering extends Ordering[Seq[Any]] {
    def compare(a: Seq[Any], b: Seq[Any]): Int = {
      val it = a.iterator.zip(b.iterator)
      while (it.hasNext) {
        val (x, y) = it.next()
        val c =
          if (x == null && y == null) 0
          else if (x == null) -1
          else if (y == null) 1
          else MatchRecognize.compare(x, y)
        if (c != 0) return c
      }
      0
    }
  }
}
