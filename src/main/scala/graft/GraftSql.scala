package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

import graft.operators.{ConnectorDdl, MatchRecognizeSql, MaterializedTable, SqlHints, TemporalJoinSql, WindowTvf}

/** The single SQL entry point — the engine's analogue of the reference's
  * one parser front door (flink-sql-parser ParserImpl.java:91, which
  * accepts MATCH_RECOGNIZE, window TVFs, and FOR SYSTEM_TIME AS OF in one
  * grammar). A statement may use any combination of the three extended
  * constructs; each is rewritten in turn (MATCH_RECOGNIZE, then window
  * TVF calls, then temporal-join spans — re-checked in that order until
  * none remain), and the residual plain-Spark statement executes once. A
  * statement using none of them falls straight through to `spark.sql`.
  */
object GraftSql {

  private val StatementSetRe =
    """(?is)^\s*EXECUTE\s+STATEMENT\s+SET\s+BEGIN\s+(.*)\s+END\s*;?\s*$""".r
  private val ExplainRe =
    """(?is)^\s*EXPLAIN\s+(?:PLAN\s+FOR\s+)?(.*?)\s*;?\s*$""".r
  private val SetRe =
    """(?is)^\s*SET\s+'([^']+)'\s*=\s*'([^']*)'\s*;?\s*$""".r
  private val ResetRe =
    """(?is)^\s*RESET\s+'([^']+)'\s*;?\s*$""".r

  def sql(spark: SparkSession, query: String): DataFrame = {
    // first-use registration of the engine's SQL functions, each family
    // keyed by whether the registry's entry is OUR expression class (an
    // identity-hash set could collide with a GC'd session; a bare
    // functionExists check would be fooled by Spark's own builtin
    // to_protobuf/from_protobuf, which carry a descriptor-file
    // contract this engine's override replaces)
    def needsGraft(fn: String, cls: String): Boolean =
      !spark.sessionState.functionRegistry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fn))
        .exists(_.getClassName == cls)
    if (needsGraft("split_index",
        classOf[graft.functions.SplitIndex].getName))
      graft.functions.GraftFunctions.register(spark)
    if (needsGraft("from_protobuf",
        classOf[graft.sources.PbDecode].getName))
      graft.sources.ProtobufWire.register(spark)
    // EXECUTE STATEMENT SET BEGIN <insert>; <insert>; … END — the
    // reference's multi-sink statement set (SqlStatementSet): each
    // INSERT runs through this same entry. The reference's shared-scan
    // optimization maps to Spark's exchange/scan reuse within each job
    // plus the caller caching a shared source view when the inserts
    // genuinely read the same heavy input.
    query match {
      case StatementSetRe(body) =>
        // quote-aware split: a ';' inside a string literal is content,
        // not a statement separator
        val masked = graft.operators.SqlText.maskQuotedOpaque(body)
        val stmts = scala.collection.mutable.ArrayBuffer.empty[String]
        var start = 0
        masked.zipWithIndex.foreach { case (c, i) =>
          if (c == ';') { stmts += body.substring(start, i); start = i + 1 }
        }
        stmts += body.substring(start)
        stmts.map(_.trim).filter(_.nonEmpty).foreach(stmt => sql(spark, stmt))
        return spark.emptyDataFrame
      case _ => ()
    }
    // SET 'k' = 'v' / RESET 'k' (SqlSet/SqlReset — the reference's
    // session-config statements): session conf edits through the front
    // door; Spark's own unquoted SET syntax still falls through
    query match {
      case SetRe(k, v) => spark.conf.set(k, v); return spark.emptyDataFrame
      case ResetRe(k)  => spark.conf.unset(k); return spark.emptyDataFrame
      case _ => ()
    }
    // EXPLAIN [PLAN FOR] <query> (the reference's SqlRichExplain): the
    // inner statement runs through the full rewriter chain but only its
    // PLAN is returned — queries only; DDL/DML would execute on build
    query match {
      case ExplainRe(inner) if inner.nonEmpty &&
          !inner.matches("(?is)^\\s*EXPLAIN\\b.*") =>
        // whitelist query forms — building the inner statement EXECUTES
        // it for every DDL/DML the front door handles (DROP, ALTER,
        // CTAS, SET, materialized-table lifecycle, …), so anything that
        // is not a query is rejected rather than enumerated
        require(inner.matches("(?is)^[\\s(]*(SELECT|WITH|VALUES|TABLE|FROM)\\b.*"),
          "EXPLAIN supports queries here, not DDL/DML statements")
        val df = sql(spark, inner)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExtendedMode)
        import spark.implicits._
        return Seq(plan).toDF("plan")
      case _ => ()
    }
    // materialized-table and connector DDL/DML (CREATE … WITH
    // ('connector'=…), INSERT INTO a registered connector table, …):
    // their query parts re-enter this method, so the full extended
    // surface works inside them
    MaterializedTable.step(spark, query, sql)
      .orElse(ConnectorDdl.step(spark, query, sql))
      .getOrElse(run(spark, query, forceExpand = false))
  }

  private def run(spark: SparkSession, query: String,
      forceExpand: Boolean): DataFrame = {
    var text = query
    val views = scala.collection.mutable.Buffer.empty[String]
    var batchSessionRoute = false
    // a rewriter throwing mid-chain (e.g. a loud streaming-support error)
    // must not leak the views earlier steps registered
    try {
      var progressed = true
      while (progressed) {
        SqlHints.step(spark, text) match {
          case Some((t, vs)) => text = t; views ++= vs
          case None => MatchRecognizeSql.step(spark, text) match {
            case Some((t, vs)) => text = t; views ++= vs
            case None => WindowTvf.step(spark, text, forceExpand) match {
              case Some(s) =>
                text = s.text; views ++= s.views
                batchSessionRoute |= s.batchSessionRoute
              case None => TemporalJoinSql.step(spark, text) match {
                case Some((t, vs)) => text = t; views ++= vs
                case None => progressed = false
              }
            }
          }
        }
      }
    } catch {
      case e: Throwable =>
        views.foreach(spark.catalog.dropTempView)
        throw e
    }
    try spark.sql(text)
    catch {
      // a batch SESSION TVF that took the session_window route can lose
      // an output-name reference (window_start only inside SELECT
      // expressions leaves no alias for ORDER BY/HAVING) — re-run the
      // whole chain with the analytic expansion instead
      case e: AnalysisException if batchSessionRoute && !forceExpand =>
        views.foreach(spark.catalog.dropTempView)
        views.clear()
        run(spark, query, forceExpand = true)
    }
    finally views.foreach(spark.catalog.dropTempView)
  }
}
