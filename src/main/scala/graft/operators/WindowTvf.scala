package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

/** Window table-valued-function SQL front door — the reference's
  * `TUMBLE/HOP/CUMULATE/SESSION(TABLE t, DESCRIPTOR(ts), …)` syntax
  * (StreamExecWindowTableFunction.java:73; grammar in flink-sql-parser's
  * SqlWindowTableFunction): the TVF call annotates each input row with
  * `window_start`/`window_end`, and the rest of the statement is ordinary
  * SQL over that expanded table.
  *
  * Spark has no TVF syntax, so `step` rewrites the statement: the
  * `TABLE(TVF(…))` span is parsed, expanded into a DataFrame with the
  * window columns (built-in `window`-function bucketing for tumble, an
  * explode over the covering starts for hop, growing slice ends for
  * cumulate — the reference's slice model — and a lag/running-sum
  * sessionization for session), registered as a temp view, and the view
  * name is substituted back into the statement for `spark.sql`.
  *
  * Scale shape: tumble adds two columns (no shuffle); hop/cumulate
  * multiply rows by size/step BEFORE the downstream partial aggregation,
  * exactly the reference's per-slice expansion; session costs one
  * shuffle on the partition keys for the two analytic passes.
  */
object WindowTvf {

  /** One textual rewrite: text after the step, temp views it registered
    * (caller drops them after execution), and whether the step took the
    * batch session_window route (execution-fallback eligible).
    */
  private[graft] case class Step(text: String, views: Seq[String],
      batchSessionRoute: Boolean)

  /** Rewrite the statement's first TVF call to plain SQL WITHOUT
    * executing — the chaining unit [[graft.GraftSql]] composes. Returns
    * None when the statement has no TVF call. `forceExpand` skips the
    * session_window route (the execution-level fallback when that
    * rewrite loses an ORDER BY/HAVING output-name reference).
    */
  private[graft] def step(spark: SparkSession, query: String,
      forceExpand: Boolean): Option[Step] =
    findCall(query).map { call =>
      val (tableName, partCols) = parseTableArg(call)
      val df = spark.table(tableName)
      // SESSION statements in the pure window-aggregate shape route to the
      // built-in session_window group — the reference's TVF execution
      // merges exactly so (StreamExecWindowTableFunction.java:73 into the
      // window agg); on batch it HALVES the shuffle count vs the two
      // analytic passes (one session agg instead of lag + running-sum
      // windows). Statements that really need per-row annotation
      // (window_time, no window GROUP BY) fall back to the analytic
      // expansion on batch, and on a stream to the session-closing
      // transformWithState annotator (SessionWindows.annotate).
      val sessionRouted =
        if (call.fn == "SESSION" && !forceExpand)
          sessionWindowText(spark, query, call, tableName, partCols)
            .map(Step(_, Nil, batchSessionRoute = !df.isStreaming))
        else None
      sessionRouted.getOrElse {
        val expanded = expand(spark, call, df, partCols)
        val view = s"__tvf_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        expanded.createOrReplaceTempView(view)
        Step(query.substring(0, call.from) + view + query.substring(call.to),
          Seq(view), batchSessionRoute = false)
      }
    }

  /** Rewrite a pure-window-aggregate `SESSION(TABLE …)` statement into a
    * `session_window` aggregate: the TVF span becomes the raw table, the
    * GROUP BY's window_start/window_end pair becomes the session_window
    * call, and SELECT-list window columns read from its struct (keeping
    * user aliases; bare references get aliased back to their TVF names
    * so ORDER BY output-name references keep resolving). Returns None
    * when the statement is not that shape (references window_time, or
    * lacks the window GROUP BY).
    */
  private def sessionWindowText(spark: SparkSession, query: String,
      call: Call, tableName: String, partCols: Seq[String]): Option[String] = {
    if ("""(?i)\bwindow_time\b""".r
      .findFirstIn(SqlText.maskQuoted(query)).isDefined) return None
    val tsCol = descriptorCol(call)
    val gap = parseInterval(call.args(2))
    val spliced =
      query.substring(0, call.from) + tableName + query.substring(call.to)
    // the GROUP BY must carry both window bounds — the pure-window-agg
    // shape. Keyword/item matching runs on the quote-MASKED text (a
    // literal containing 'GROUP BY' or 'FROM' must not confuse the
    // rewrite); substrings are taken from the original by position.
    val maskedSpliced = SqlText.maskQuoted(spliced)
    val GroupByRe = """(?is)(GROUP\s+BY\s+)([^;]*?)(\s*(?:ORDER\s+BY|HAVING|LIMIT|$).*)""".r
    val m = GroupByRe.findFirstMatchIn(maskedSpliced).getOrElse(return None)
    val items = spliced.substring(m.start(2), m.end(2))
      .split(",").map(_.trim).filter(_.nonEmpty)
    if (!items.exists(_.equalsIgnoreCase("window_start")) ||
      !items.exists(_.equalsIgnoreCase("window_end"))) return None
    val kept = items.filterNot(i =>
      i.equalsIgnoreCase("window_start") || i.equalsIgnoreCase("window_end"))
    // session_window sessionizes per GROUP BY key set; the TVF contract
    // sessionizes per PARTITION BY. The rewrite is only sound when the
    // two key sets coincide — otherwise fall back to the analytic
    // expansion (batch) or the streaming per-row annotator.
    def base(s: String) = s.split('.').last.toLowerCase
    if (kept.map(base).toSet != partCols.map(base).toSet) return None
    val groupItems =
      (s"session_window($tsCol, '${gap.spark}')" +: kept).mkString(", ")
    val regrouped =
      spliced.substring(0, m.end(1)) + groupItems + spliced.substring(m.start(3))
    // rewrite window-column references in the SELECT…FROM segment only:
    // ORDER BY/HAVING resolve against the output aliases instead. The
    // split point is the FROM introducing the spliced table — the LAST
    // `FROM` before the TVF position, not the first in the statement
    // (EXTRACT/SUBSTRING/TRIM can put a FROM inside the select list).
    val fromIdx = """(?i)\bFROM\b""".r
      .findAllMatchIn(SqlText.maskQuoted(regrouped))
      .takeWhile(_.start < call.from).toSeq.lastOption
      .map(_.start).getOrElse(return None)
    val (selectSeg, rest) = regrouped.splitAt(fromIdx)
    def rewriteCol(seg: String, name: String, field: String): String = {
      // every reference becomes session_window.<field>; an output alias
      // (`AS <name>`) is appended only when the reference IS the entire
      // top-level select item (bounded by SELECT/DISTINCT/comma on the
      // left and comma/end-of-list on the right) — `window_start AS x`
      // keeps the user alias, references nested in a call or expression
      // (EXTRACT(HOUR FROM window_end), window_end - window_start AS d,
      // CASE WHEN window_start ... END x) must not grow an AS.
      // Matching and the boundary checks run on the quote-MASKED text so
      // literals neither get rewritten nor skew the paren depth; the
      // rewritten output is assembled from the original.
      val masked = SqlText.maskQuoted(seg)
      val re = s"""(?i)\\b$name\\b""".r
      val out = new StringBuilder
      var last = 0
      for (mm <- re.findAllMatchIn(masked)) {
        out ++= seg.substring(last, mm.start)
        val before = masked.substring(0, mm.start)
        val depth = before.count(_ == '(') - before.count(_ == ')')
        val left = before.trim.toUpperCase
        val leftBoundary = left.endsWith(",") ||
          left.endsWith("SELECT") || left.endsWith("DISTINCT")
        val right = masked.substring(mm.end).trim
        val rightBoundary = right.isEmpty || right.startsWith(",")
        out ++= s"session_window.$field"
        if (depth == 0 && leftBoundary && rightBoundary) out ++= s" AS $name"
        last = mm.end
      }
      out ++= seg.substring(last)
      out.toString
    }
    val rewritten =
      rewriteCol(rewriteCol(selectSeg, "window_start", "start"),
        "window_end", "end") + rest
    Some(rewritten)
  }

  // ------------------------------------------------------------- parsing

  private case class Call(fn: String, args: Seq[String], from: Int, to: Int)

  private val Head = """(?is)TABLE\s*\(\s*(TUMBLE|HOP|CUMULATE|SESSION)\s*\(""".r

  /** Locate the TABLE(TVF(…)) span and split its args at top level. */
  private def findCall(q: String): Option[Call] =
    Head.findFirstMatchIn(q).map { m =>
      var depth = 2 // inside TABLE( and TVF(
      var i = m.end
      val args = Seq.newBuilder[String]
      val cur = new StringBuilder
      var innerEnd = -1
      while (depth > 1 && i < q.length) {
        val ch = q.charAt(i)
        ch match {
          case '(' => depth += 1; cur += ch
          case ')' =>
            depth -= 1
            if (depth > 1) cur += ch else { args += cur.result().trim; innerEnd = i }
          case ',' if depth == 2 => args += cur.result().trim; cur.clear()
          case _ => cur += ch
        }
        i += 1
      }
      require(innerEnd >= 0, s"unbalanced parentheses in TVF call")
      // consume the TABLE(…) closer
      var j = innerEnd + 1
      while (j < q.length && q.charAt(j).isWhitespace) j += 1
      require(j < q.length && q.charAt(j) == ')',
        "TVF call must be wrapped as TABLE(TVF(…))")
      Call(m.group(1).toUpperCase, args.result(), m.start, j + 1)
    }

  private val TableRe =
    """(?is)TABLE\s+(\w+)(?:\s+PARTITION\s+BY\s+\(?\s*([\w\s,]+?)\s*\)?)?\s*""".r
  private val DescriptorRe = """(?is)DESCRIPTOR\s*\(\s*(\w+)\s*\)""".r
  private val IntervalRe =
    """(?is)INTERVAL\s+'(\d+)'\s+(SECOND|MINUTE|HOUR|DAY)S?""".r

  private case class Interval(n: Long, unit: String) {
    def spark: String = s"$n ${unit.toLowerCase}"
    def micros: Long = unit match {
      case "SECOND" => n * 1000000L
      case "MINUTE" => n * 60L * 1000000L
      case "HOUR" => n * 3600L * 1000000L
      case "DAY" => n * 86400L * 1000000L
    }
  }

  private def parseInterval(s: String): Interval = s match {
    case IntervalRe(n, u) => Interval(n.toLong, u.toUpperCase)
    case other => throw new IllegalArgumentException(
      s"expected INTERVAL '<n>' <unit>, got: $other")
  }

  // ----------------------------------------------------------- expansion

  private def parseTableArg(call: Call): (String, Seq[String]) =
    call.args.head match {
      case TableRe(name, parts) =>
        (name, Option(parts).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
      case other => throw new IllegalArgumentException(
        s"first TVF argument must be TABLE <name>, got: $other")
    }

  private def descriptorCol(call: Call): String = call.args(1) match {
    case DescriptorRe(c) => c
    case other => throw new IllegalArgumentException(
      s"second TVF argument must be DESCRIPTOR(<col>), got: $other")
  }

  private def expand(spark: SparkSession, call: Call, df: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val tsCol = descriptorCol(call)
    val ts = col(tsCol)

    call.fn match {
      case "TUMBLE" =>
        val size = parseInterval(call.args(2))
        // optional 4th arg: window OFFSET (the reference's TUMBLE(…,
        // INTERVAL offset) — SqlWindowTableFunction's optional align);
        // maps to the built-in window()'s startTime shift
        val w =
          if (call.args.length > 3)
            window(ts, size.spark, size.spark, parseInterval(call.args(3)).spark)
          else window(ts, size.spark)
        withTime(df.withColumn("window_start", w.getField("start"))
          .withColumn("window_end", w.getField("end")))

      case "HOP" =>
        val slide = parseInterval(call.args(2))
        val size = parseInterval(call.args(3))
        require(size.micros % slide.micros == 0,
          "HOP size must be a multiple of slide")
        // every window whose [start, start+size) covers the row: starts
        // descend from the row's slide-bucket in slide steps
        val bucket = window(ts, slide.spark).getField("start")
        df.withColumn("window_start", explode(sequence(
            bucket - expr(s"INTERVAL ${size.spark}") + expr(s"INTERVAL ${slide.spark}"),
            bucket, expr(s"INTERVAL ${slide.spark}"))))
          .withColumn("window_end", col("window_start") + expr(s"INTERVAL ${size.spark}"))
          .transform(withTime)

      case "CUMULATE" =>
        val step = parseInterval(call.args(2))
        val size = parseInterval(call.args(3))
        require(size.micros % step.micros == 0,
          "CUMULATE size must be a multiple of step")
        df.withColumn("window_start", window(ts, size.spark).getField("start"))
          .withColumn("window_end", explode(sequence(
            col("window_start") + expr(s"INTERVAL ${step.spark}"),
            col("window_start") + expr(s"INTERVAL ${size.spark}"),
            expr(s"INTERVAL ${step.spark}"))))
          .filter(col("window_end") > ts)
          .transform(withTime)

      case "SESSION" =>
        require(partCols.nonEmpty,
          "SESSION TVF requires TABLE <t> PARTITION BY <keys>")
        val gap = parseInterval(call.args(2))
        // streaming non-aggregate shape: per-row annotation via the
        // session-closing transformWithState operator (append-only once
        // a session can no longer grow) — the analytic lag/running-sum
        // expansion below is stream-illegal
        if (df.isStreaming)
          return graft.streaming.SessionWindows.annotate(
            df, partCols, tsCol, gap.spark)
        // lag/running-sum sessionization (the batch form of the
        // reference's MergingWindowSet): a row starts a new session when
        // it is more than `gap` after the previous row of its key
        val parts: Seq[Column] = partCols.map(col)
        val byTs = W.partitionBy(parts: _*).orderBy(ts)
        // timestamp difference as an interval (works for TIMESTAMP and
        // TIMESTAMP_NTZ alike, unlike unix_micros)
        val newSession = when(
          ts - lag(ts, 1).over(byTs) <= expr(s"INTERVAL ${gap.spark}"), 0L)
          .otherwise(1L)
        val sessioned = df
          .withColumn("__new_s", newSession)
          .withColumn("__sid", sum(col("__new_s"))
            .over(byTs.rowsBetween(W.unboundedPreceding, W.currentRow)))
        val bySession = W.partitionBy((parts :+ col("__sid")): _*)
        sessioned
          .withColumn("window_start", min(ts).over(bySession))
          .withColumn("window_end",
            max(ts).over(bySession) + expr(s"INTERVAL ${gap.spark}"))
          .drop("__new_s", "__sid")
          .transform(withTime)
    }
  }

  /** The reference's third TVF column: `window_time`, the window's
    * event-time attribute, defined as window_end - 1ms
    * (SqlWindowTableFunction docs / window TVF spec).
    */
  private def withTime(df: DataFrame): DataFrame =
    df.withColumn("window_time",
      col("window_end") - expr("INTERVAL 1 MILLISECOND"))
}
