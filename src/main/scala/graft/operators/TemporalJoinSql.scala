package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL front door for the temporal / as-of join — the reference's
  * `JOIN t FOR SYSTEM_TIME AS OF l.ts` idiom
  * (flink-table/flink-table-planner/.../exec/stream/StreamExecTemporalJoin.java:77,
  * rewrite rule EventTimeTemporalJoinRewriteRule.java; grammar in
  * flink-sql-parser's SqlSnapshot). Spark has no temporal-join syntax,
  * so — like [[WindowTvf]] — the statement is rewritten: the
  *
  *   `FROM <left> AS l JOIN <right> FOR SYSTEM_TIME AS OF l.<ts> AS r
  *    ON l.<k1> = r.<k1> [AND l.<k2> = r.<k2> …] [AND <residual> …]`
  *
  * span is parsed, the as-of join is computed via [[AsOfJoin]] (the
  * union + carry-forward plan: one shuffle on the key, no per-key
  * blow-up), registered as a temp view, and the span plus the alias
  * qualifiers are substituted so the rest of the statement is ordinary
  * SQL: left columns keep their names, right columns surface as
  * `r_<col>` (so `r.x` rewrites to `r_x`), matching the AsOfJoin output
  * contract.
  *
  * ON clause: a top-level conjunction, as the reference's join spec
  * (extracted in EventTimeTemporalJoinRewriteRule.java). Terms of the
  * shape `a.x = b.y` between the two aliases are equi-conditions and
  * become the (composite) join key; any other term is a residual
  * predicate, evaluated against the matched row — the reference's
  * joinCondition contract — so a probe whose matched version fails the
  * residual is dropped.
  *
  * Version-time column: the right side's event-time attribute. As in the
  * reference (where it comes from the right table's WATERMARK
  * declaration), it is not part of the join syntax — it defaults to the
  * right column named like the probe-time column and can be overridden
  * with the session conf `spark.graft.temporalJoin.rightTimeCol`
  * (`SET 'spark.graft.temporalJoin.rightTimeCol' = 'vts'`). Streaming
  * routes read `spark.graft.temporalJoin.watermarkDelay` (default
  * `0 seconds`) — the WATERMARK ... INTERVAL bound of the reference;
  * out-of-order streams need it set or late rows drop.
  *
  * Match semantics are LEFT (unmatched probes keep NULLs), the AsOfJoin
  * contract. Batch inputs route to [[AsOfJoin]]'s carry-forward plan;
  * two streaming inputs to the watermark-driven
  * [[graft.streaming.TemporalJoin.asOfStream]] versioned-state operator
  * (late rows dropped, versions GC'd at the watermark); a streaming
  * probe against a BOUNDED right side — the reference's canonical
  * versioned-dim-table shape (TemporalRowTimeJoinOperator.java:78) — to
  * [[graft.streaming.TemporalJoin.asOfStreamStatic]], which loads the
  * dim's version history into keyed state at query start.
  */
object TemporalJoinSql {

  private val JoinRe = (
    """(?is)FROM\s+(\w+)(?:\s+AS)?\s+(\w+)\s+""" +
    """JOIN\s+(\w+)\s+FOR\s+SYSTEM_TIME\s+AS\s+OF\s+(\w+)\.(\w+)(?:\s+AS)?\s+(\w+)\s+""" +
    """ON\s+""").r

  private val EquiRe = """(?is)^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$""".r

  /** Keywords that terminate the ON conjunction at top level. */
  private val ClauseEnd =
    Seq("WHERE", "GROUP", "ORDER", "HAVING", "LIMIT", "UNION",
      "EXCEPT", "INTERSECT", "WINDOW", "QUALIFY", "JOIN", "LEFT", "RIGHT",
      "FULL", "INNER", "CROSS")

  /** Scan the masked text from `from` for the ON conjunction: top-level
    * ` AND `-separated terms, ending at the first top-level clause
    * keyword, `)`, `;`, or end of statement. Returns (term spans, end).
    *
    * Not every top-level AND is a conjunction separator: the AND of
    * `BETWEEN a AND b` closes the pending BETWEEN, and ANDs inside a
    * `CASE … END` belong to the CASE — both stay inside their term. A
    * top-level OR makes the clause non-conjunctive (SQL precedence would
    * regroup the AND-split terms), which the join-spec extraction cannot
    * express — rejected loudly rather than silently mis-joined.
    */
  private def scanConjunction(masked: String, from: Int): (Seq[(Int, Int)], Int) = {
    val terms = Seq.newBuilder[(Int, Int)]
    var depth = 0
    var betweens = 0 // pending BETWEEN … AND at top level
    var caseDepth = 0 // CASE … END nesting at top level
    var i = from
    var termStart = from
    var end = masked.length
    var done = false
    def word(at: Int): String = {
      var j = at
      while (j < masked.length && (masked.charAt(j).isLetterOrDigit ||
        masked.charAt(j) == '_')) j += 1
      masked.substring(at, j).toUpperCase
    }
    // a keyword must stand alone: not preceded by an identifier char OR a
    // '.' qualifier (p.left is a column reference, not a LEFT clause)
    def boundary(at: Int): Boolean = at == from || {
      val p = masked.charAt(at - 1)
      !p.isLetterOrDigit && p != '_' && p != '.'
    }
    while (i < masked.length && !done) {
      val ch = masked.charAt(i)
      if (ch == '(') { depth += 1; i += 1 }
      else if (ch == ')') {
        if (depth == 0) { end = i; done = true } else { depth -= 1; i += 1 }
      } else if (ch == ';' && depth == 0) { end = i; done = true }
      else if (depth == 0 && (ch.isLetter || ch == '_') && boundary(i)) {
        val w = word(i)
        if (w == "AND") {
          if (betweens > 0) { betweens -= 1; i += 3 }
          else if (caseDepth > 0) i += 3
          else { terms += ((termStart, i)); i += 3; termStart = i }
        }
        else if (w == "OR" && caseDepth == 0) throw new IllegalArgumentException(
          "temporal-join ON must be a conjunction (top-level OR found); " +
            "wrap the disjunction in parentheses if it is one predicate")
        else if (w == "BETWEEN") { betweens += 1; i += w.length }
        else if (w == "CASE") { caseDepth += 1; i += w.length }
        else if (w == "END" && caseDepth > 0) { caseDepth -= 1; i += w.length }
        else if (caseDepth == 0 && ClauseEnd.contains(w)) { end = i; done = true }
        else i += 1
      } else i += 1
    }
    if (!done) end = masked.length
    terms += ((termStart, end))
    (terms.result(), end)
  }

  /** Rewrite the statement's first FOR SYSTEM_TIME span WITHOUT
    * executing (the chaining unit [[graft.GraftSql]] composes): computes
    * the as-of join, registers it as a temp view, and returns the
    * spliced + dequalified text plus the view name for the caller to
    * drop after execution. None when the statement has no span.
    */
  private[graft] def step(spark: SparkSession,
      query: String): Option[(String, Seq[String])] = {
    // match on the quote-masked text so a span inside a string literal is
    // never taken for the join idiom; positions line up with `query`
    val masked = SqlText.maskQuoted(query)
    JoinRe.findFirstMatchIn(masked).map(m =>
      rewriteSpan(spark, query, masked, m))
      .orElse(lateralStep(spark, query, masked))
  }

  // ---- legacy TemporalTableFunction form: LATERAL TABLE(fn(p.ts)) ----

  private case class TemporalFn(view: String, timeCol: String, keyCol: String)
  private val fnRegistry =
    scala.collection.concurrent.TrieMap.empty[(Int, String), TemporalFn]
  private val fnSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Register a temporal table function — the reference's
    * `Table.createTemporalTableFunction($"timeCol", $"keyCol")` +
    * `registerFunction(name, …)` (TemporalTableFunction.java): `table`'s
    * rows are versions of `keyCol`, versioned by `timeCol`. SQL may then
    * use the classic form
    *
    *   `FROM probe p, LATERAL TABLE (name(p.ts)) AS r WHERE p.k = r.<keyCol>`
    *
    * (the key equality may also write the bare `<keyCol>`, the
    * reference's documented idiom). [[lateralStep]] rewrites it into the
    * FOR SYSTEM_TIME AS OF span and the standard machinery runs.
    */
  def registerTemporalTableFunction(spark: SparkSession, name: String,
      table: DataFrame, timeCol: String, keyCol: String): Unit = {
    require(table.columns.contains(timeCol),
      s"temporal table function $name: no time column '$timeCol'")
    require(table.columns.contains(keyCol),
      s"temporal table function $name: no key column '$keyCol'")
    val view = s"__ttf_src_${fnSeq.incrementAndGet()}"
    table.createOrReplaceTempView(view)
    fnRegistry.put((System.identityHashCode(spark), name.toLowerCase),
      TemporalFn(view, timeCol, keyCol))
  }

  private val LateralRe =
    """(?is),\s*LATERAL\s+TABLE\s*\(\s*(\w+)\s*\(\s*(\w+)\.(\w+)\s*\)\s*\)(?:\s+(?:AS\s+)?(\w+))?""".r
  private val WhereTermRe =
    """(?is)\b(WHERE|AND)\s+((?:\w+\.)?\w+)\s*=\s*((?:\w+\.)?\w+)""".r

  /** Rewrite the first registered `LATERAL TABLE(fn(p.ts))` call into
    * the FOR SYSTEM_TIME AS OF span: the version table splices in (time
    * column renamed to the probe's, so the default version-time
    * name-match holds), the WHERE key equality moves into the ON clause,
    * and the next chaining iteration runs the standard rewrite.
    */
  private def lateralStep(spark: SparkSession, query: String,
      masked: String): Option[(String, Seq[String])] = {
    val m = LateralRe.findFirstMatchIn(masked).getOrElse(return None)
    val fn = fnRegistry.get(
      (System.identityHashCode(spark), m.group(1).toLowerCase))
      .getOrElse(return None)
    val (pa, ts) = (m.group(2), m.group(3))
    val ra = Option(m.group(4)).getOrElse(s"__ttf_a${fnSeq.incrementAndGet()}")
    def isRatesKey(side: String) =
      side.equalsIgnoreCase(fn.keyCol) ||
        side.equalsIgnoreCase(s"$ra.${fn.keyCol}")
    // the key predicate: first top-level WHERE/AND equality referencing
    // the function's key column (exactly one side)
    val term = WhereTermRe.findAllMatchIn(masked).find { t =>
      t.start > m.end && (isRatesKey(t.group(2)) ^ isRatesKey(t.group(3)))
    }.getOrElse(sys.error(
      s"LATERAL TABLE(${m.group(1)}(…)) needs a WHERE equality on the " +
        s"function's key column '${fn.keyCol}' (the reference's idiom: " +
        s"WHERE $pa.k = ${fn.keyCol})"))
    val probeExpr =
      if (isRatesKey(term.group(2))) term.group(3) else term.group(2)
    // version table with its time column renamed to the probe's — the
    // span's default version-time name-match then applies
    val src = spark.table(fn.view)
    val views = Seq.newBuilder[String]
    val rightView =
      if (fn.timeCol == ts) fn.view
      else {
        require(!src.columns.contains(ts),
          s"version table already has a column '$ts' distinct from its " +
            s"time column '${fn.timeCol}' — cannot align version time")
        val v = s"__ttf_r_${fnSeq.incrementAndGet()}"
        src.withColumnRenamed(fn.timeCol, ts).createOrReplaceTempView(v)
        views += v
        v
      }
    // two right-to-left edits: drop the WHERE key term, splice the join
    val afterTerm = masked.substring(term.end)
    val keepsWhere = term.group(1).equalsIgnoreCase("WHERE") &&
      "(?is)^\\s*AND\\b".r.findFirstMatchIn(afterTerm).isDefined
    val (termCut, cutLen) =
      if (keepsWhere) {
        val andLen = "(?is)^\\s*AND\\b".r.findFirstMatchIn(afterTerm).get.end
        (term.start + term.group(1).length, term.end - term.start -
          term.group(1).length + andLen)
      } else (term.start, term.end - term.start)
    var out = query.substring(0, termCut) +
      query.substring(termCut + cutLen)
    val join = s" JOIN $rightView FOR SYSTEM_TIME AS OF $pa.$ts AS $ra " +
      s"ON $probeExpr = $ra.${fn.keyCol}"
    out = out.substring(0, m.start) + join +
      out.substring(m.end)
    Some((out, views.result()))
  }

  private def rewriteSpan(spark: SparkSession, query: String, masked: String,
      m: scala.util.matching.Regex.Match): (String, Seq[String]) = {
    // the textual splice replaces the span with `FROM <view>` at ITS
    // nesting level only — a span inside a derived-table subquery would
    // splice at the wrong level, so reject it loudly
    val before = masked.substring(0, m.start)
    require(before.count(_ == '(') == before.count(_ == ')'),
      "FOR SYSTEM_TIME AS OF inside a subquery is not supported: run the " +
        "temporal join as the outer statement (or register the subquery " +
        "as a view first)")
    val (lt, la, rt) = (m.group(1), m.group(2), m.group(3))
    val (asAlias, tsCol, ra) = (m.group(4), m.group(5), m.group(6))
    require(asAlias == la,
      s"FOR SYSTEM_TIME AS OF must reference the probe side: $asAlias.$tsCol")
    require(la != ra, s"join aliases must differ, got $la twice")

    val (termSpans, onEnd) = scanConjunction(masked, m.end)
    val keys = Seq.newBuilder[(String, String)]
    val residuals = Seq.newBuilder[String]
    termSpans.foreach { case (a, b) =>
      val term = query.substring(a, b).trim
      term match {
        case EquiRe(qa, ca, qb, cb) if qa.equalsIgnoreCase(la) && qb.equalsIgnoreCase(ra) =>
          keys += ((ca, cb))
        case EquiRe(qa, ca, qb, cb) if qa.equalsIgnoreCase(ra) && qb.equalsIgnoreCase(la) =>
          keys += ((cb, ca))
        case "" => throw new IllegalArgumentException(
          "empty term in temporal-join ON conjunction")
        case _ => residuals += term
      }
    }
    val keyPairs = keys.result()
    require(keyPairs.nonEmpty,
      "temporal-join ON needs at least one equi-condition between the " +
        s"two aliases ($la, $ra)")

    val left = spark.table(lt)
    val right = spark.table(rt)
    require(left.isStreaming || !right.isStreaming,
      "temporal join with a streaming BUILD side needs a streaming probe " +
        "side too (a batch probe cannot wait on stream versions)")
    // version-time and watermark-delay hooks reachable from SQL text:
    // the session confs mirror the reference's per-table WATERMARK
    // declaration and table.exec.* options
    val rightTs = spark.conf
      .getOption("spark.graft.temporalJoin.rightTimeCol").filter(_.nonEmpty)
      .getOrElse {
        require(right.columns.contains(tsCol),
          s"right side $rt has no version-time column '$tsCol'; set " +
            "spark.graft.temporalJoin.rightTimeCol")
        tsCol
      }
    val wmDelay = spark.conf
      .getOption("spark.graft.temporalJoin.watermarkDelay")
      .filter(_.nonEmpty).getOrElse("0 seconds")

    // align key/ts names across sides through internal columns so the
    // join cores see one name each; dropped from the view
    val keyNames = keyPairs.indices.map(i => s"__tj_k$i")
    val left2 = keyPairs.zip(keyNames).foldLeft(left) {
      case (df, ((lk, _), n)) => df.withColumn(n, col(lk))
    }.withColumn("__tj_t", col(tsCol))
    val right2 = keyPairs.zip(keyNames).foldLeft(right) {
      case (df, ((_, rk), n)) => df.withColumn(n, col(rk))
    }.withColumn("__tj_t", col(rightTs))
    // batch routes to the union + carry-forward plan; stream-vs-stream to
    // the watermark-driven versioned-state operator
    // (StreamExecTemporalJoin); stream-vs-bounded to the initial-state
    // load of the dim's version history
    val joined =
      (if (left.isStreaming && right.isStreaming)
        graft.streaming.TemporalJoin.asOfStream(
          left2, right2, keyNames, "__tj_t", right.columns.toSeq, wmDelay)
      else if (left.isStreaming)
        graft.streaming.TemporalJoin.asOfStreamStatic(
          left2, right2, keyNames, "__tj_t", right.columns.toSeq, wmDelay)
      else
        AsOfJoin.asOf(left2, right2, keyNames, "__tj_t", right.columns.toSeq))
        .drop(keyNames :+ "__tj_t": _*)

    // residual predicates evaluate against the matched row in the r_
    // namespace (reference joinCondition semantics)
    val dequalify: String => String = seg => {
      val rewritten = s"""(?i)\\b$ra\\.(\\w+)""".r
        .replaceAllIn(seg, mm => s"r_${mm.group(1)}")
      s"""(?i)\\b$la\\.(\\w+)""".r
        .replaceAllIn(rewritten, mm => mm.group(1))
    }
    // residual terms dequalify OUTSIDE quoted segments only, like the
    // statement-level rewrite — 'r.secret' in a literal is content
    val filtered = residuals.result().foldLeft(joined) {
      (df, pred) =>
        df.where(expr(SqlText.rewriteOutsideQuotes(pred)(dequalify)))
    }

    val view = s"__tj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    filtered.createOrReplaceTempView(view)
    val spliced =
      query.substring(0, m.start) + s"FROM $view " + query.substring(onEnd)
    // qualifier rewrite over the remaining statement: right alias maps to
    // the r_ namespace, left alias qualifiers drop. Applied only OUTSIDE
    // quoted segments — an `alias.word` sequence inside a string literal
    // ('p.note') or backtick identifier is content, not a reference.
    (SqlText.rewriteOutsideQuotes(spliced)(dequalify), Seq(view))
  }
}
