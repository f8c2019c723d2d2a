package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Flink-style connector DDL front door — the reference's
  * `CREATE TABLE t (cols…, x AS expr, WATERMARK FOR ts AS ts - INTERVAL
  * '5' SECOND, PRIMARY KEY (k) NOT ENFORCED) WITH ('connector' = …)`
  * (flink-sql-parser `SqlCreateTable`; planner `CatalogSourceTable` /
  * `DynamicSourceUtils`) and the matching `INSERT INTO t <query>` —
  * every reference SQL job starts with exactly this statement pair.
  *
  * Spark mapping per connector:
  *   - `filesystem` (+ `path`, `format` = parquet/csv/json/orc): batch
  *     `spark.read` registered as a temp view; with `'scan.streaming' =
  *     'true'` a file-monitor `readStream` instead. A declared
  *     WATERMARK clause becomes `withWatermark` on the streaming read
  *     (recorded, inert, on batch — same as the reference, where
  *     watermarks only drive streaming execution). Computed columns
  *     (`name AS expr`) append as projections in declaration order.
  *   - `filesystem` with PRIMARY KEY: INSERT runs the keyed
  *     [[graft.sources.UpsertSink]] merge (bucketed dynamic overwrite)
  *     instead of an append — the upsert-sink materialization the
  *     reference routes through SinkUpsertMaterializer. Each INSERT gets
  *     a monotonically increasing seq, so later INSERTs win per key.
  *   - `datagen` (+ `number-of-rows`): a DETERMINISTIC stand-in for the
  *     reference's random generator (oracle-comparable by design):
  *     `fields.<col>.kind` = `sequence` (with `start`) counts up;
  *     anything else derives from a per-column hash of the row id.
  *   - `print` / `blackhole`: sink-only tables; INSERT collects to
  *     stdout / writes the noop format.
  *
  * Statements are routed here by [[graft.GraftSql]]; the INSERT's query
  * part goes back through the full GraftSql chain, so TVFs, temporal
  * joins and MATCH_RECOGNIZE all work inside an INSERT.
  */
object ConnectorDdl {

  case class TableDesc(name: String, fields: StructType,
      computed: Seq[(String, String)], watermark: Option[(String, String)],
      primaryKey: Seq[String], options: Map[String, String],
      partitions: Seq[String] = Seq.empty,
      insertSeq: java.util.concurrent.atomic.AtomicLong =
        new java.util.concurrent.atomic.AtomicLong(0L)) {
    def connector: String = options.getOrElse("connector",
      sys.error(s"table $name: missing 'connector' option"))
  }

  /** session-scoped registry: (sessionHash, lowercased name) → desc */
  private val registry = TrieMap.empty[(Int, String), TableDesc]
  private def key(spark: SparkSession, name: String) =
    (System.identityHashCode(spark), name.toLowerCase)

  def lookup(spark: SparkSession, name: String): Option[TableDesc] =
    registry.get(key(spark, name))

  // ------------------------------------------------------------ parsing

  private val CreateRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*\((.*)\)\s*WITH\s*\((.*)\)\s*;?\s*$""".r
  private val PartClauseRe =
    """(?is)PARTITIONED\s+BY\s*\(([^)]*)\)\s*""".r
  private val CreateLikeRe =
    """(?is)^\s*CREATE\s+(?:TEMPORARY\s+)?TABLE\s+([A-Za-z_][\w.]*)\s*(?:\((.*)\)\s*)?(?:WITH\s*\((.*)\)\s*)?LIKE\s+([A-Za-z_][\w.]*)\s*(?:\(\s*(INCLUDING|EXCLUDING)\s+OPTIONS\s*\))?\s*;?\s*$""".r
  private val InsertRe =
    """(?is)^\s*INSERT\s+(INTO|OVERWRITE)\s+([A-Za-z_][\w.]*)\s+(.*?)\s*;?\s*$""".r
  private val AlterRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+(SET|RESET)\s*\((.*)\)\s*;?\s*$""".r
  private val CompactRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+COMPACT\s*;?\s*$""".r
  private val AlterAddRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+ADD\s*\((.*)\)\s*;?\s*$""".r
  private val RenameRe =
    """(?is)^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+RENAME\s+TO\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r
  private val ShowPartsRe =
    """(?is)^\s*SHOW\s+PARTITIONS\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r
  private val CtasRe =
    """(?is)^\s*CREATE\s+TABLE\s+([A-Za-z_][\w.]*)\s+WITH\s*\((.*?)\)\s*AS\s+(SELECT\b.*|VALUES\b.*)$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*;?\s*$""".r
  private val InsertPartRe =
    """(?is)^\s*PARTITION\s*\(([^)]*)\)\s*(.*)$""".r
  private val DescribeRe =
    """(?is)^\s*DESC(?:RIBE)?\s+(?:EXTENDED\s+)?([A-Za-z_][\w.]*)\s*;?\s*$""".r
  private val ShowCreateRe =
    """(?is)^\s*SHOW\s+CREATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*;?\s*$""".r

  /** A DML statement pattern, matched against the QUOTE-MASKED text with
    * its groups sliced from the original: a ' WHERE ' inside a string
    * literal in a SET expression must not split the statement. Binds
    * like a Regex pattern (null for an absent optional group).
    */
  private final class DmlRe(re: scala.util.matching.Regex) {
    def unapplySeq(stmt: String): Option[List[String]] = {
      // strip the statement terminator FIRST: the mask blanks quoted
      // literals to spaces, and a trailing \s*;?\s* tail would swallow
      // them, truncating the sliced predicate spans
      val clean = stmt.replaceAll("\\s+$", "").stripSuffix(";")
        .replaceAll("\\s+$", "")
      re.findFirstMatchIn(SqlText.maskQuotedOpaque(clean)).map(m =>
        List.tabulate(m.groupCount)(i =>
          if (m.group(i + 1) == null) null
          else clean.substring(m.start(i + 1), m.end(i + 1))))
    }
  }
  private val TruncateRe =
    new DmlRe("""(?is)^\s*TRUNCATE\s+TABLE\s+([A-Za-z_][\w.]*)\s*$""".r)
  private val DeleteRe =
    new DmlRe("""(?is)^\s*DELETE\s+FROM\s+([A-Za-z_][\w.]*)(?:\s+WHERE\s+(.*))?$""".r)
  private val UpdateRe =
    new DmlRe("""(?is)^\s*UPDATE\s+([A-Za-z_][\w.]*)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$""".r)

  /** CREATE TABLE with a column body and WITH options, binding (name,
    * body, options, partition columns): a top-level `PARTITIONED BY
    * (…)` clause is pulled out first (the greedy column-body regex
    * cannot disambiguate it).
    */
  private object CreatePartRe {
    def unapply(stmt: String): Option[(String, String, String, Seq[String])] = {
      val (bare, partitions) =
        PartClauseRe.findFirstMatchIn(SqlText.maskQuoted(stmt)) match {
          case Some(m) =>
            (stmt.substring(0, m.start) + stmt.substring(m.end),
              stmt.substring(m.start(1), m.end(1))
                .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          case None => (stmt, Seq.empty)
        }
      bare match {
        case CreateRe(name, body, opts) => Some((name, body, opts, partitions))
        case _ => None
      }
    }
  }

  private val WatermarkRe =
    """(?is)^WATERMARK\s+FOR\s+(\w+)\s+AS\s+\w+\s*-\s*INTERVAL\s*'(\d+)'\s*(\w+)$""".r
  private val PkRe =
    """(?is)^PRIMARY\s+KEY\s*\(([^)]*)\)\s*(?:NOT\s+ENFORCED)?$""".r
  private val ComputedRe = """(?is)^(\w+)\s+AS\s+(.+)$""".r
  private val MetadataRe =
    """(?is)^(\w+)\s+(.+?)\s+METADATA(?:\s+FROM\s+'([^']+)')?(?:\s+VIRTUAL)?$""".r
  private val FieldRe = """(?is)^(\w+)\s+(.+?)(?:\s+NOT\s+NULL)?$""".r

  /** Metadata keys (SqlTableColumn.SqlMetadataColumn — the reference's
    * `col TYPE METADATA FROM 'key' [VIRTUAL]`) → Spark's file-source
    * `_metadata` struct fields. File-scoped keys only; a format with no
    * file identity (datagen) fails at read, loudly.
    */
  private val MetadataKeys = Map(
    "file.path" -> "_metadata.file_path",
    "file.name" -> "_metadata.file_name",
    "file.size" -> "_metadata.file_size",
    "file.modification-time" -> "_metadata.file_modification_time",
    "timestamp" -> "_metadata.file_modification_time")

  /** Run `stmt` if it is connector DDL/DML this object handles: CTAS,
    * the connector CREATE forms, and COMPACT/TRUNCATE/DELETE/UPDATE/
    * SHOW PARTITIONS/DESCRIBE/SHOW CREATE/ALTER/DROP/INSERT on a
    * REGISTERED connector table — unregistered names fall through to
    * spark.sql, so catalog tables keep their native DDL. A LIKE form is
    * claimed when its base is registered, so Spark-native `CREATE TABLE
    * x LIKE y` falls through too. `run` is the front-door SQL entry for
    * the query parts of CTAS and INSERT. None when the statement is not
    * this object's.
    */
  def step(spark: SparkSession, stmt: String,
      run: (SparkSession, String) => DataFrame): Option[DataFrame] = {
    object Registered {
      def unapply(name: String): Option[TableDesc] = lookup(spark, name)
    }
    def done(u: Unit): Option[DataFrame] = Some(spark.emptyDataFrame)
    stmt match {
      case CtasRe(name, opts, query) =>
        done(createTableAs(spark, name, opts, query, run))
      // a column body or WITH options is the CONNECTOR form of LIKE —
      // claim it even with an unregistered base so the user gets the
      // registry diagnostic, not a Spark parse error on invalid syntax
      case CreateLikeRe(name, body, opts, base, optMode)
          if body != null || opts != null || lookup(spark, base).isDefined =>
        done(createLike(spark, name, body, opts, base, optMode))
      case CreatePartRe(name, body, opts, partitions) => done {
        val p = parseBody(body)
        partitions.foreach(c => require(p.fields.exists(_.name == c),
          s"PARTITIONED BY column '$c' is not in the schema"))
        register(spark, TableDesc(name, StructType(p.fields), p.computed,
          p.watermark, p.pk, parseOptions(opts), partitions))
      }
      case CompactRe(name @ Registered(d)) => done(compactTable(spark, name, d))
      case TruncateRe(Registered(d)) => done(rewriteRows(spark, d, _.limit(0)))
      // SQL DELETE removes rows where the predicate is TRUE; a NULL
      // predicate keeps the row — null-safe equality, not not()
      case DeleteRe(Registered(d), pred) => done(rewriteRows(spark, d, df =>
        if (pred == null) df.limit(0) // DELETE all
        else df.filter(!(expr(pred) <=> lit(true)))))
      case UpdateRe(name @ Registered(d), sets, where) =>
        done(updateTable(spark, name, d, sets, where))
      case ShowPartsRe(name @ Registered(d)) =>
        Some(showPartitions(spark, name, d))
      case DescribeRe(Registered(d)) => Some(describeTable(spark, d))
      case ShowCreateRe(Registered(d)) => Some(showCreateTable(spark, d))
      case AlterRe(name @ Registered(d), verb, items) =>
        done(alterOptions(spark, name, d, verb, items))
      case AlterAddRe(name @ Registered(d), body) =>
        done(addColumns(spark, name, d, body))
      // ALTER TABLE t RENAME TO t2 — SqlAlterTableRename: registry move,
      // old view dropped, new view registered
      case RenameRe(name @ Registered(d), newName) => done {
        require(lookup(spark, newName).isEmpty, s"table $newName already exists")
        registry.remove(key(spark, name))
        spark.catalog.dropTempView(name)
        register(spark, d.copy(name = newName), fresh = false)
      }
      // DROP TABLE [IF EXISTS] t — unregister and drop the temp view
      case DropRe(_, name @ Registered(_)) => done {
        registry.remove(key(spark, name))
        spark.catalog.dropTempView(name)
      }
      case InsertRe(mode, name @ Registered(d), query) =>
        done(insertInto(spark, mode, name, d, query, run))
      case _ => None
    }
  }

  /** `ALTER TABLE t SET ('k'='v', …)` / `RESET ('k', …)` — the
    * reference's SqlAlterTableOptions/SqlAlterTableReset: table options
    * change in place and the readable view refreshes under the merged
    * options. RESET items are bare or quoted key names.
    */
  private def alterOptions(spark: SparkSession, name: String, d: TableDesc,
      verb: String, items: String): Unit = {
    val next =
      if (verb.equalsIgnoreCase("SET")) d.options ++ parseOptions(items)
      else d.options -- splitTop(items).map { k =>
        val t = k.trim
        if (t.length >= 2 && t.head == '\'' && t.last == '\'')
          t.substring(1, t.length - 1) else t
      }
    require(next.contains("connector"),
      s"$name: cannot RESET 'connector' — the table would lose its type")
    register(spark, d.copy(options = next), fresh = false)
  }

  /** `ALTER TABLE t ADD (col TYPE, c AS expr, …)` — SqlAlterTableAdd:
    * schema evolution by appending; parquet reads surface the new
    * physical column as NULL for pre-existing files.
    */
  private def addColumns(spark: SparkSession, name: String, d: TableDesc,
      body: String): Unit = {
    val p = parseBody(body)
    p.fields.foreach(f => require(!d.fields.fieldNames.contains(f.name),
      s"$name: column '${f.name}' already exists"))
    register(spark, d.copy(fields = StructType(d.fields.fields ++ p.fields),
      computed = d.computed ++ p.computed,
      watermark = p.watermark.orElse(d.watermark),
      primaryKey = if (p.pk.nonEmpty) p.pk else d.primaryKey),
      fresh = false)
  }

  /** CTAS (SqlCreateTableAs): `CREATE TABLE t WITH (…) AS <query>` —
    * the schema comes from the query, the first write materializes it.
    */
  private def createTableAs(spark: SparkSession, name: String, opts: String,
      query: String, run: (SparkSession, String) => DataFrame): Unit = {
    val options = parseOptions(opts)
    val df = run(spark, query)
    val desc = TableDesc(name, df.schema, Vector.empty, None, Nil, options)
    registry.put(key(spark, name), desc)
    desc.connector match {
      case "filesystem" =>
        val fmt = options.getOrElse("format", "parquet")
        df.write.format(fmt).options(formatOptions(desc, fmt))
          .mode("overwrite").save(options("path"))
        sourceFrame(spark, desc).createOrReplaceTempView(name)
      case c => sys.error(s"CTAS unsupported for connector '$c'")
    }
  }

  /** `ALTER TABLE t COMPACT` (SqlAlterTableCompact — the filesystem
    * connector's compaction statement): merge small files in place,
    * rename-safe, then refresh the view.
    */
  private def compactTable(spark: SparkSession, name: String,
      d: TableDesc): Unit = {
    require(d.connector == "filesystem", s"$name: COMPACT needs a filesystem table")
    require(d.options.getOrElse("format", "parquet") == "parquet",
      s"$name: COMPACT supports parquet tables")
    require(d.partitions.isEmpty,
      s"$name: COMPACT of partitioned tables is not supported (compact " +
        "partition directories individually)")
    val small = d.options.getOrElse("compaction.small-bytes",
      (16L * 1024 * 1024).toString).toLong
    val target = d.options.getOrElse("compaction.target-bytes",
      (128L * 1024 * 1024).toString).toLong
    graft.sources.FileCompaction.compactParquet(spark, d.options("path"),
      small, target)
    sourceFrame(spark, d).createOrReplaceTempView(name)
  }

  /** `SHOW PARTITIONS t` — partition directory values of a partitioned
    * filesystem table (SqlShowPartitions).
    */
  private def showPartitions(spark: SparkSession, name: String,
      d: TableDesc): DataFrame = {
    require(d.partitions.nonEmpty, s"$name is not partitioned")
    import spark.implicits._
    // walk one level per partition column — multi-column tables
    // nest (a=1/b=x), and only full-depth paths are partitions
    def walk(dir: java.io.File, depth: Int): Seq[String] = {
      val level = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.contains("="))
      if (depth == d.partitions.length - 1) level.map(_.getName).toSeq
      else level.toSeq.flatMap(f =>
        walk(f, depth + 1).map(f.getName + "/" + _))
    }
    walk(new java.io.File(d.options("path")), 0).sorted.toDF("partition")
  }

  /** Copy-on-write rewrite of a filesystem table's physical rows — the
    * execution shape of the reference's batch row-level DELETE/UPDATE
    * (SupportsRowLevelDelete/Update on copy-on-write connectors) and of
    * SqlTruncateTable: surviving rows materialize (eager localCheckpoint
    * — a read can never overwrite its own input files), the path is
    * overwritten, the view refreshes. At scale this is one full-table
    * job, exactly the cost the reference documents for copy-on-write.
    */
  private def rewriteRows(spark: SparkSession, d: TableDesc,
      f: DataFrame => DataFrame): Unit = {
    require(d.connector == "filesystem",
      s"${d.name}: row-level DML needs a filesystem table")
    require(d.primaryKey.isEmpty,
      s"${d.name}: row-level DML on PRIMARY KEY tables is not supported " +
        "(write a keyed changelog INSERT instead)")
    val fmt = d.options.getOrElse("format", "parquet")
    require(!CdcFormats.contains(fmt), s"${d.name}: CDC tables are read-only")
    // a never-written sink table has nothing to delete/update — no-op
    if (!new java.io.File(d.options("path")).exists()) return
    // PHYSICAL columns only — computed/metadata columns re-derive on read
    val physical = spark.read.schema(d.fields).format(fmt)
      .options(formatOptions(d, fmt)).load(d.options("path"))
    val next = f(physical).localCheckpoint(true)
    // pin STATIC overwrite: under a session-level 'dynamic'
    // partitionOverwriteMode (reachable via the front-door SET),
    // partitions whose rows were all deleted would be silently
    // retained and keep serving stale rows
    val w0 = next.write.format(fmt).options(formatOptions(d, fmt))
      .option("partitionOverwriteMode", "static").mode("overwrite")
    (if (d.partitions.nonEmpty) w0.partitionBy(d.partitions: _*) else w0)
      .save(d.options("path"))
    graft.sources.UpsertSink.release(next)
    sourceFrame(spark, d).createOrReplaceTempView(d.name)
  }

  /** Split SET assignments at top-level commas — parens and quotes only
    * ([[splitTop]] also tracks < > for MAP<...> type bodies, which would
    * miscount comparison operators inside SET expressions).
    */
  private def splitAssignments(sets: String): Seq[String] = {
    val masked = SqlText.maskQuotedOpaque(sets)
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    masked.zipWithIndex.foreach { case (c, i) =>
      if (c == '(') depth += 1
      else if (c == ')') depth -= 1
      else if (c == ',' && depth == 0) {
        parts += sets.substring(start, i); start = i + 1
      }
    }
    parts += sets.substring(start)
    parts.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `UPDATE t SET c = e, … [WHERE p]` (`whereOrNull` is the predicate
    * or null). */
  private def updateTable(spark: SparkSession, name: String, d: TableDesc,
      sets: String, whereOrNull: String): Unit = {
    val assignments = splitAssignments(sets).map { a =>
      val i = SqlText.maskQuoted(a).indexOf('=')
      require(i > 0, s"bad SET assignment: $a")
      val c = a.substring(0, i).trim
      require(d.fields.fieldNames.contains(c),
        s"$name: SET target '$c' is not a physical column")
      c -> a.substring(i + 1).trim
    }
    val dup = assignments.groupBy(_._1).collectFirst {
      case (c, as) if as.length > 1 => c }
    require(dup.isEmpty, s"$name: column '${dup.get}' assigned twice")
    val cond = Option(whereOrNull).map(expr).getOrElse(lit(true))
    val byCol = assignments.toMap
    // ONE projection over the ORIGINAL frame: every SET expression
    // and the WHERE condition see the pre-update snapshot (SQL
    // semantics) — a sequential withColumn fold would let later
    // assignments read already-updated values
    rewriteRows(spark, d, df => df.select(d.fields.fields.toSeq.map {
      f => byCol.get(f.name) match {
        case Some(e) => when(cond, expr(e).cast(f.dataType))
          .otherwise(col(f.name)).as(f.name)
        case None => col(f.name)
      }
    }: _*))
  }

  /** `DESCRIBE t` for a registered connector table — one row per
    * column in Spark's (col_name, data_type, comment) shape, with
    * computed/watermark/key/partition items annotated.
    */
  private def describeTable(spark: SparkSession, d: TableDesc): DataFrame = {
    val rows =
      d.fields.fields.toSeq.map(f => (f.name, f.dataType.sql.toLowerCase,
        if (d.partitions.contains(f.name)) "partition key" else "physical")) ++
      d.computed.map { case (n, e) => (n, "", s"computed: $e") } ++
      d.watermark.map { case (c, delay) =>
        ("WATERMARK", "", s"$c - INTERVAL '$delay'") }.toSeq ++
      (if (d.primaryKey.nonEmpty)
        Seq(("PRIMARY KEY", "", d.primaryKey.mkString(", ")))
      else Seq.empty)
    import spark.implicits._
    rows.toDF("col_name", "data_type", "comment")
  }

  /** `SHOW CREATE TABLE t` (SqlShowCreateTable) — the DDL text
    * reconstructed from the registry (metadata columns reconstruct as
    * their computed `_metadata` form).
    */
  private def showCreateTable(spark: SparkSession, d: TableDesc): DataFrame = {
    val items =
      d.fields.fields.toSeq.map(f => s"  ${f.name} ${f.dataType.sql}") ++
      d.computed.map { case (n, e) => s"  $n AS $e" } ++
      d.watermark.map { case (c, delay) =>
        val Array(n, unit) = delay.split(" ", 2)
        s"  WATERMARK FOR $c AS $c - INTERVAL '$n' ${unit.toUpperCase}"
      }.toSeq ++
      (if (d.primaryKey.nonEmpty)
        Seq(s"  PRIMARY KEY (${d.primaryKey.mkString(", ")}) NOT ENFORCED")
      else Seq.empty)
    val part =
      if (d.partitions.nonEmpty)
        s"\nPARTITIONED BY (${d.partitions.mkString(", ")})"
      else ""
    // escape quotes AND backslashes so option values (paths, csv
    // delimiters, escape chars) round-trip as executable DDL — the
    // quote-span scanner treats \ as an escape, so a bare trailing
    // backslash would swallow the closing quote
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "''")
    val opts = d.options.toSeq.sortBy(_._1)
      .map { case (k, v) => s"'${esc(k)}' = '${esc(v)}'" }.mkString(",\n  ")
    val ddl = s"CREATE TABLE ${d.name} (\n" + items.mkString(",\n") +
      s"\n)$part WITH (\n  $opts\n)"
    import spark.implicits._
    Seq(ddl).toDF("result")
  }

  /** Split at top-level commas (quote- and paren-aware). */
  private def splitTop(s: String): Seq[String] = {
    val masked = SqlText.maskQuoted(s)
    val parts = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    masked.zipWithIndex.foreach { case (c, i) =>
      if (c == '(' || c == '<') depth += 1
      else if (c == ')' || c == '>') depth -= 1
      else if (c == ',' && depth == 0) { parts += s.substring(start, i); start = i + 1 }
    }
    parts += s.substring(start)
    parts.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Flink type → Spark DDL type (precision on timestamps dropped —
    * Spark timestamps are micros; TIMESTAMP_LTZ folds to timestamp).
    */
  private def sparkType(t: String): DataType = {
    val norm = t.trim
      .replaceAll("(?i)TIMESTAMP_LTZ(\\(\\d+\\))?", "TIMESTAMP")
      .replaceAll("(?i)TIMESTAMP(\\(\\d+\\))", "TIMESTAMP")
      .replaceAll("(?i)^BYTES$", "BINARY")
      .replaceAll("(?i)^RAW$", "BINARY")
    org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType(norm)
  }

  private def unquote(s: String): String = {
    val t = s.trim
    if (t.length >= 2 && t.head == '\'' && t.last == '\'') {
      // linear decode: doubled '' is the SQL escape for one quote, and
      // \x is the parser-level escape (SqlText.quotedSpans treats \ as
      // an escape, so SHOW CREATE doubles backslashes) — a replace
      // chain would mis-handle sequences like \\'' at span edges
      val body = t.substring(1, t.length - 1)
      val out = new StringBuilder(body.length)
      var i = 0
      while (i < body.length) {
        val c = body.charAt(i)
        // only \\ and \' decode — a backslash before any OTHER char is
        // literal content ('C:\tmp' keeps its backslash)
        if (c == '\\' && i + 1 < body.length &&
            (body.charAt(i + 1) == '\\' || body.charAt(i + 1) == '\'')) {
          out += body.charAt(i + 1); i += 2
        } else if (c == '\'' && i + 1 < body.length &&
            body.charAt(i + 1) == '\'') {
          out += '\''; i += 2
        } else { out += c; i += 1 }
      }
      out.toString
    } else sys.error(s"WITH option piece not quoted: $s")
  }

  private[operators] def parseOptions(opts: String): Map[String, String] =
    splitTop(opts).map { kv =>
      val i = SqlText.maskQuoted(kv).indexOf('=')
      require(i > 0, s"bad WITH option: $kv")
      unquote(kv.substring(0, i)) -> unquote(kv.substring(i + 1))
    }.toMap

  private case class ParsedBody(fields: Vector[StructField],
      computed: Vector[(String, String)],
      watermark: Option[(String, String)], pk: Seq[String])

  private def parseBody(body: String): ParsedBody = {
    var fields = Vector.empty[StructField]
    var computed = Vector.empty[(String, String)]
    var watermark: Option[(String, String)] = None
    var pk = Seq.empty[String]
    splitTop(body).foreach {
      case WatermarkRe(c, n, unit) =>
        watermark = Some((c, s"$n ${unit.toLowerCase}"))
      case PkRe(cols) =>
        pk = cols.split(",").map(_.trim).toSeq
      case ComputedRe(n, expr) => // the AS keyword disambiguates from fields
        // PROCTIME() (the reference's processing-time attribute,
        // SqlProctimeFunction) maps to the engine's clock function
        computed :+= ((n, "(?i)\\bPROCTIME\\s*\\(\\s*\\)".r
          .replaceAllIn(expr.trim, "current_timestamp()")))
      case MetadataRe(n, tpe, keyOrNull) =>
        val key = Option(keyOrNull).getOrElse(n)
        val src = MetadataKeys.getOrElse(key,
          sys.error(s"unsupported METADATA key '$key' (supported: " +
            MetadataKeys.keys.toSeq.sorted.mkString(", ") + ")"))
        computed :+= ((n, s"CAST($src AS ${sparkType(tpe).sql})"))
      case FieldRe(n, tpe) =>
        fields :+= StructField(n, sparkType(tpe))
      case other => sys.error(s"unrecognized CREATE TABLE item: $other")
    }
    ParsedBody(fields, computed, watermark, pk)
  }

  private def register(spark: SparkSession, desc: TableDesc,
      fresh: Boolean = true): Unit = {
    registry.put(key(spark, desc.name), desc)
    desc.connector match {
      // a CDC-format table is a SOURCE even with a PRIMARY KEY (the key
      // drives materialization, not upsert-sink routing)
      case "filesystem" if desc.primaryKey.isEmpty ||
          CdcFormats.contains(desc.options.getOrElse("format", "parquet")) =>
        if (new java.io.File(desc.options.getOrElse("path",
            sys.error(s"${desc.name}: filesystem needs 'path'"))).exists())
          sourceFrame(spark, desc).createOrReplaceTempView(desc.name)
        // else: sink-only for now; a later INSERT materializes it
      case "filesystem" =>
        // FRESH CREATE of a PK table: the view appears after the first
        // INSERT (whatever files sit at the path belong to a previous
        // life of the directory, not this table). A RE-registration
        // (ALTER SET/ADD, RENAME) of an already-materialized table must
        // refresh/recreate the view, or the new name serves nothing and
        // the old options keep serving.
        val path = desc.options.getOrElse("path",
          sys.error(s"${desc.name}: filesystem needs 'path'"))
        val dir = new java.io.File(path)
        if (!fresh && dir.exists() && Option(dir.list()).exists(_.nonEmpty))
          graft.sources.UpsertSink.read(spark, path)
            .drop("__ddl_seq").createOrReplaceTempView(desc.name)
      case "datagen" =>
        datagenFrame(spark, desc).createOrReplaceTempView(desc.name)
      case "print" | "blackhole" => () // sink-only
      case c => sys.error(s"unsupported connector '$c'")
    }
  }

  /** `CREATE TABLE t [(…)] [WITH (…)] LIKE base [(INCLUDING|EXCLUDING
    * OPTIONS)]` (SqlCreateTableLike): the new table inherits the base's
    * schema, computed columns, watermark, primary key, partitions and —
    * unless `(EXCLUDING OPTIONS)` — its WITH options; new columns
    * append, new options override.
    */
  private def createLike(spark: SparkSession, name: String,
      bodyOrNull: String, optsOrNull: String, baseName: String,
      optMode: String): Unit = {
    val base = lookup(spark, baseName).getOrElse(
      sys.error(s"LIKE base '$baseName' is not a registered connector table"))
    val extra = Option(bodyOrNull).map(parseBody)
      .getOrElse(ParsedBody(Vector.empty, Vector.empty, None, Nil))
    val newOpts = Option(optsOrNull).map(parseOptions).getOrElse(Map.empty)
    val baseOpts =
      if (Option(optMode).exists(_.equalsIgnoreCase("EXCLUDING")))
        Map.empty[String, String]
      else base.options
    register(spark, TableDesc(name,
      StructType(base.fields.fields ++ extra.fields),
      base.computed ++ extra.computed,
      extra.watermark.orElse(base.watermark),
      if (extra.pk.nonEmpty) extra.pk else base.primaryKey,
      baseOpts ++ newOpts, base.partitions))
  }

  /** Re-read a registered table with per-statement option overrides —
    * the consumer behind the `OPTIONS(…)` dynamic-table-options hint
    * ([[SqlHints]]); the registry entry itself is untouched.
    */
  def frameWithOptions(spark: SparkSession, name: String,
      overrides: Map[String, String]): DataFrame = {
    val d = lookup(spark, name).getOrElse(
      sys.error(s"$name is not a registered connector table"))
    val merged = d.copy(options = d.options ++ overrides)
    merged.connector match {
      case "filesystem" => sourceFrame(spark, merged)
      case "datagen"    => datagenFrame(spark, merged)
      case c => sys.error(s"OPTIONS hint unsupported for connector '$c'")
    }
  }

  /** Upsert ordering column for INSERTs into a PRIMARY KEY table: the
    * per-statement/per-batch sequence composed with a monotone
    * intra-batch tiebreaker (struct ordering is lexicographic, so the
    * batch seq dominates). Without the tiebreaker, an insert-only batch
    * holding duplicate keys would pick its winner nondeterministically
    * (every row shares one seq and mergeBatch's row_number sees ties).
    * Caveat: the intra-batch tiebreaker is (partitionId, offset) order,
    * so "last duplicate wins" within one INSERT follows the plan's
    * partition layout, not statement text order, when a shuffle or
    * nondeterministic repartition sits upstream — the same arrival-order
    * semantics as the reference's SinkUpsertMaterializer
    * (flink-table-runtime SinkUpsertMaterializer.java). Deterministic
    * for a fixed plan over fixed files, which is what the specs pin.
    */
  private def ddlSeq(seq: Long): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.struct(
      lit(seq).as("batch"),
      org.apache.spark.sql.functions.monotonically_increasing_id().as("off"))

  private val CdcFormats =
    Set("debezium-json", "canal-json", "maxwell-json", "ogg-json")

  /** Format-scoped options (`'<fmt>.<key>' = '<v>'` — the reference's
    * per-format option namespace, e.g. flink-csv's `csv.field-delimiter`)
    * pass through to the Spark datasource with the prefix stripped; the
    * handful of Flink-spelled keys with a direct Spark name translate.
    * Covers the flink-compress story too: `'csv.compression' = 'gzip'`
    * writes codec'd files, and Spark reads them back transparently.
    */
  private val FormatOptionNames = Map("field-delimiter" -> "sep")
  private def formatOptions(d: TableDesc, fmt: String): Map[String, String] =
    d.options.collect {
      case (k, v) if k.startsWith(fmt + ".") =>
        val bare = k.stripPrefix(fmt + ".")
        FormatOptionNames.getOrElse(bare, bare) -> v
    }

  /** The readable DataFrame for a filesystem table. */
  private def sourceFrame(spark: SparkSession, d: TableDesc): DataFrame = {
    val fmt = d.options.getOrElse("format", "parquet")
    val path = d.options("path")
    val streaming = d.options.get("scan.streaming").contains("true")
    if (CdcFormats.contains(fmt)) return cdcFrame(spark, d, fmt, streaming)
    val fopts = formatOptions(d, fmt)
    val base0 =
      if (streaming) spark.readStream.schema(d.fields).format(fmt)
        .options(fopts).load(path)
      else spark.read.schema(d.fields).format(fmt).options(fopts).load(path)
    val withComputed = d.computed.foldLeft(base0) { case (df, (n, e)) =>
      df.withColumn(n, expr(e))
    }
    d.watermark match {
      case Some((c, delay)) if streaming => withComputed.withWatermark(c, delay)
      case _ => withComputed // batch: watermark recorded but inert
    }
  }

  /** CDC-format table (the reference's `'format' = 'debezium-json'`
    * family on a table definition — DebeziumJsonFormatFactory etc.):
    * the path holds one JSON envelope per line; the declared columns
    * are the PAYLOAD schema. A batch scan of a PRIMARY KEY table
    * materializes to current state (keep-last by the envelope's
    * commit-time `ts_ms`, deletes removed — the changelog-source
    * contract); without a key, and for every streaming scan, the
    * decoded changelog itself is the table (`__rowkind` + `ts_ms`
    * columns exposed), feeding retract-aware consumers downstream.
    */
  private def cdcFrame(spark: SparkSession, d: TableDesc, fmt: String,
      streaming: Boolean): DataFrame = {
    val path = d.options("path")
    val raw =
      if (streaming) spark.readStream.text(path) else spark.read.text(path)
    val decoded = fmt match {
      case "debezium-json" =>
        graft.sources.ChangelogJson.debezium(raw, "value", d.fields)
      case "canal-json" =>
        graft.sources.ChangelogJson.canal(raw, "value", d.fields)
      case "maxwell-json" =>
        graft.sources.ChangelogJson.maxwell(raw, "value", d.fields)
      case "ogg-json" =>
        graft.sources.ChangelogJson.ogg(raw, "value", d.fields)
    }
    if (!streaming && d.primaryKey.nonEmpty)
      graft.streaming.Changelog.materialize(decoded, d.primaryKey, "ts_ms")
        .drop("ts_ms")
    else decoded
  }

  /** Deterministic datagen (documented stand-in for the reference's
    * random generator — reproducibility is a feature here). With
    * `'rows-per-second'` set the table is an UNBOUNDED STREAM on
    * Spark's rate source (the reference's streaming datagen mode) —
    * same per-field derivation off the monotone id, so the stream's
    * content is deterministic in the id even though its pacing is not.
    */
  private def datagenFrame(spark: SparkSession, d: TableDesc): DataFrame = {
    val rps = d.options.get("rows-per-second")
    val base = rps match {
      case Some(r) =>
        spark.readStream.format("rate").option("rowsPerSecond", r)
          .load().select(col("value").as("__id"))
      case None =>
        spark.range(d.options.getOrElse("number-of-rows", "1000").toLong)
          .toDF("__id")
    }
    val projected = d.fields.fields.foldLeft(base) { case (df, f) =>
      val kind = d.options.getOrElse(s"fields.${f.name}.kind", "random")
      val start = d.options.getOrElse(s"fields.${f.name}.start", "0").toLong
      val c = kind match {
        case "sequence" => (col("__id") + lit(start)).cast(f.dataType)
        case _ => f.dataType match {
          case StringType => md5(concat(lit(f.name), col("__id").cast("string")))
          case t => pmod(xxhash64(lit(f.name), col("__id")), lit(1000000L)).cast(t)
        }
      }
      df.withColumn(f.name, c)
    }
    projected.drop("__id")
  }

  /** Execute `INSERT INTO/OVERWRITE <table> [PARTITION (c='v', …)]
    * <query>` — static partition values (SqlInsert static partitions)
    * become literal columns appended to the query result.
    */
  private def insertInto(spark: SparkSession, mode: String, name: String,
      d: TableDesc, query0: String,
      run: (SparkSession, String) => DataFrame): Unit = {
    val (query, static) = query0 match {
      case InsertPartRe(pairs, rest) =>
        (rest, pairs.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
          val i = p.indexOf('=')
          require(i > 0, s"bad static partition spec: $p")
          val v = p.substring(i + 1).trim
          p.substring(0, i).trim ->
            (if (v.length >= 2 && v.head == '\'' && v.last == '\'')
              v.substring(1, v.length - 1) else v)
        })
      case _ => (query0, Seq.empty)
    }
    // SQL INSERT semantics: the query's columns map POSITIONALLY to
    // the table's declared (non-static) columns and CAST to their
    // types — without this a literal like 1.0 (DECIMAL(2,1)) would be
    // stored as decimal while the table schema reads DOUBLE, and the
    // schema-mismatch read reinterprets the unscaled representation
    static.foreach { case (c, _) =>
      require(d.partitions.contains(c),
        s"static partition '$c' is not a partition column of $name")
    }
    val targets = d.fields.fields.toSeq
      .filterNot(f => static.exists(_._1 == f.name))
    val raw = run(spark, query)
    require(raw.columns.length == targets.length,
      s"INSERT INTO $name: query produces ${raw.columns.length} columns, " +
        s"table expects ${targets.length}" +
        (if (static.nonEmpty) " (after static partitions)" else ""))
    val aligned = raw.select(raw.columns.zip(targets).map {
      // backtick-quote: an unaliased literal column is NAMED like
      // "9.0", which a bare col() would parse as a field path
      case (c, f) => col(s"`$c`").cast(f.dataType).as(f.name)
    }: _*)
    val df = static.foldLeft(aligned) { case (acc, (c, v)) =>
      val f = d.fields.find(_.name == c).getOrElse(
        sys.error(s"static partition '$c' is not in $name's schema"))
      acc.withColumn(c, lit(v).cast(f.dataType))
    }.select(d.fields.fieldNames.map(col).toSeq: _*)
    if (CdcFormats.contains(d.options.getOrElse("format", "parquet")))
      sys.error(s"$name: CDC-format tables are read-only here — write " +
        "envelopes with the producing system, or use a parquet/csv sink")
    d.connector match {
      case "print" =>
        // print PER PARTITION on the executors (the reference's
        // PrintSinkFunction prints per task manager) — never a
        // driver-side collect, which would OOM on a big INSERT
        if (df.isStreaming) {
          // foreachBatch + executor-side print — the console sink
          // truncates to 20 rows/20 chars AND collects each batch to
          // the driver, both wrong for a sink of record
          val q = df.writeStream
            .option("checkpointLocation", graft.queries.Q.scratchDir(s"print_${name}_ckpt"))
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.foreachPartition {
                (it: Iterator[org.apache.spark.sql.Row]) =>
                  it.foreach(r =>
                    System.out.println(s"+I[${r.mkString(", ")}]"))
              }
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } else df.foreachPartition {
          // System.out (not Scala's Console-cached println): read
          // dynamically per call, so the task-thread output lands on
          // the process's CURRENT stdout
          (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach(r =>
              System.out.println(s"+I[${r.mkString(", ")}]"))
        }
      case "blackhole" =>
        if (df.isStreaming) {
          // draining a stream into a blackhole is the reference's
          // standard smoke-job shape — use the streaming noop sink
          val q = df.writeStream.format("noop")
            .option("checkpointLocation", graft.queries.Q.scratchDir(s"bh_${name}_ckpt"))
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        } else df.write.format("noop").mode("overwrite").save()
      case "filesystem" if d.primaryKey.nonEmpty && !df.isStreaming =>
        val seq = d.insertSeq.incrementAndGet()
        graft.sources.UpsertSink.mergeBatch(spark,
          df.withColumn("__ddl_seq", ddlSeq(seq)), d.primaryKey, "__ddl_seq",
          d.options("path"),
          d.options.getOrElse("sink.buckets", "8").toInt)
        graft.sources.UpsertSink.read(spark, d.options("path"))
          .drop("__ddl_seq").createOrReplaceTempView(name)
      case "filesystem" if df.isStreaming && d.primaryKey.nonEmpty =>
        // streaming INSERT into a PRIMARY KEY table: changelog-mode
        // inference (the reference's FlinkChangelogModeInferenceProgram
        // decision) routes an UPDATING query through the keyed upsert
        // merge — each micro-batch carries the latest row per key
        // (Update mode), merged last-writer-wins via the bucketed
        // UpsertSink. An insert-only query appends through the same
        // merge (new keys only), so both modes land on the keyed store.
        val inf = graft.streaming.ChangelogInference.infer(df)
        val mode =
          if (inf.needsRowKind) org.apache.spark.sql.streaming.OutputMode.Update()
          else org.apache.spark.sql.streaming.OutputMode.Append()
        val ckpt = d.options.getOrElse("sink.checkpoint",
          graft.queries.Q.scratchDir(s"ddl_${name}_ckpt"))
        val path = d.options("path")
        val buckets = d.options.getOrElse("sink.buckets", "8").toInt
        val pk = d.primaryKey
        val q = df.writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val seq = d.insertSeq.incrementAndGet()
            graft.sources.UpsertSink.mergeBatch(batch.sparkSession,
              batch.withColumn("__ddl_seq", ddlSeq(seq)), pk, "__ddl_seq",
              path, buckets)
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        graft.sources.UpsertSink.read(spark, path)
          .drop("__ddl_seq").createOrReplaceTempView(name)
      case "filesystem" if df.isStreaming =>
        // a streaming INSERT INTO is the reference's job shape: the
        // statement starts a continuous write. Bounded-source runs
        // (file-monitor over a finite dir) drain via AvailableNow and
        // return when caught up; an unbounded source keeps running —
        // the caller holds the query handle via spark.streams.
        // Changelog-mode inference gates the append file sink: an
        // UPDATING query (unwindowed aggregate, arbitrary stateful op)
        // cannot append to a keyless file table — the reference's
        // planner rejects exactly this ("Table sink doesn't support
        // consuming update changes"); declare a PRIMARY KEY to route
        // through the upsert materialization instead.
        val inf = graft.streaming.ChangelogInference.infer(df)
        if (inf.needsRowKind)
          sys.error(s"Table sink '$name' doesn't support consuming " +
            "update changes which is produced by this streaming query " +
            "(unwindowed aggregate / stateful operator). Declare a " +
            "PRIMARY KEY on the table for upsert materialization, or " +
            "make the query insert-only (window the aggregate on event " +
            "time).")
        val fmt = d.options.getOrElse("format", "parquet")
        val ckpt = d.options.getOrElse("sink.checkpoint",
          graft.queries.Q.scratchDir(s"ddl_${name}_ckpt"))
        val ws0 = df.writeStream.format(fmt)
          .options(formatOptions(d, fmt))
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        val q = (if (d.partitions.nonEmpty)
          ws0.partitionBy(d.partitions: _*) else ws0)
          .start(d.options("path"))
        q.awaitTermination()
        sourceFrame(spark, d.copy(options = d.options - "scan.streaming"))
          .createOrReplaceTempView(name)
      case "filesystem" =>
        val fmt = d.options.getOrElse("format", "parquet")
        val w0 = df.write.format(fmt).options(formatOptions(d, fmt))
          .mode(if (mode.equalsIgnoreCase("OVERWRITE")) "overwrite" else "append")
        // partitioned OVERWRITE replaces only the partitions the
        // query produced (the reference's dynamic-partition overwrite;
        // a static PARTITION clause pins exactly one of them)
        val w = if (d.partitions.nonEmpty)
          w0.partitionBy(d.partitions: _*)
            .option("partitionOverwriteMode", "dynamic")
        else w0
        w.save(d.options("path"))
        sourceFrame(spark, d).createOrReplaceTempView(name)
      case c => sys.error(s"connector '$c' is not writable")
    }
  }
}
