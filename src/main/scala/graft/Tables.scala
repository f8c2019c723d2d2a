package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. These are the inputs for every
  * `SparkEntry.queries` entry and for the DuckDB oracle, so the load path must
  * stay a plain parquet scan (on the file's own schema, see [[scan]]) —
  * Catalyst then gets full pushdown (filters, column pruning) into the file
  * source. The `events.ts` decode lives here for both engines: [[load]]
  * for Spark, [[duckEvents]] for every DuckDB oracle.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Two memos, one contract: the testdata files do not change during a
    * JVM's lifetime (same contract as StreamQueries.sortedEventsCache).
    *
    *  - `schemaCache`, keyed by file path, JVM-wide: the parquet schema
    *    Spark infers from the file's footer. Inference
    *    (`ParquetUtils.inferSchema` → `mergeSchemasInParallel`) runs one
    *    Spark job per table even for a single file, so without it every
    *    new session re-ran ten jobs to re-read footers this JVM had
    *    already read. One schema per path holds for every session because
    *    the only parquet-inference conf any session recipe sets is
    *    `nanosAsLong`, which [[scan]] sets itself before inferring.
    *  - `frameCache`, keyed by (session, sfDir, table): the frame built on
    *    that schema. Frames are bound to their session, so a stopped
    *    session's plans are never served to a live one. The SQL corpora
    *    call [[registerAll]] (10 loads) once per query; a DataFrame is a
    *    lazy plan, not data, so reusing it never caches rows, every action
    *    still scans the parquet input, and Catalyst pushdown/pruning are
    *    unchanged (same LogicalRelation).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  private val frameCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    frameCache.computeIfAbsent((spark, sfDir, name),
      { case (s, d, n) => loadUncached(s, d, n) })

  private def loadUncached(spark: SparkSession, sfDir: String,
      name: String): DataFrame = {
    // events.ts has shipped in two parquet encodings across testdata
    // generations: TIMESTAMP(NANOS) (which Spark's microsecond TimestampType
    // cannot represent — read as raw int64 and truncate), and plain
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    // TIMESTAMP_NTZ directly). Detect from the scanned schema so either
    // generation loads. This is the Spark half of the decode; [[duckEvents]]
    // is the DuckDB half, and the two must truncate alike.
    val raw = scan(spark, s"$sfDir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.LongType
      raw.schema("ts").dataType match {
        case LongType =>
          // integer DIV, not `/`: epoch-nanos exceed double's 53-bit
          // mantissa, so floating division is off by up to ±1µs.
          raw.withColumn(
            "ts",
            timestamp_micros(expr("ts DIV 1000L")).cast("timestamp_ntz"))
        case _ =>
          // already a timestamp; normalize to timestamp_ntz so downstream
          // window/CEP logic and parquet output see one representation.
          raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    } else raw
  }

  /** The DuckDB half of the `events.ts` decode in [[loadUncached]]: a
    * parenthesised relation that stands in for `events` anywhere in an
    * oracle: as a CTE body, or in `FROM` with the oracle's filter. It has
    * all six columns, with `ts` a microsecond TIMESTAMP under either
    * parquet encoding: `epoch_ns` reads both, and integer `//` truncates
    * NANOS exactly as Spark's `ts DIV 1000L`. An oracle whose output is
    * `*` over it lists its columns, or `props` leaks into the result.
    */
  val duckEvents: String =
    "(SELECT event_id, user_id, make_timestamp(epoch_ns(ts) // 1000) AS ts, " +
      "event_type, value, props FROM events)"

  /** The parquet file at `path`, read on its memoized schema: the first
    * call for a path infers it, every call (the first included) then
    * reads with `spark.read.schema(…)`, so there is one read path.
    */
  private[graft] def scan(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** Register each table as a temp view so `spark.sql` queries can mirror the
    * DuckDB oracle SQL verbatim.
    *
    * The SQL corpora call this once per query (~180 keys per Bench run),
    * and re-registering the ten views costs ~29 ms warm
    * (plans/r20/register_probe.txt: catalog writes, not I/O). So it first
    * checks the catalog itself: if every name's temp view still holds this
    * session's memoized [[load]] frame for `sfDir` (a catalog lookup and a
    * reference compare, no analysis), it is a no-op. Otherwise — a view
    * replaced or dropped by anyone, or a different sfDir — all ten are
    * re-registered. No caller has to invalidate anything.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val frames = names.map(n => n -> load(spark, sfDir, n))
    val catalog = spark.sessionState.catalog
    val current = frames.forall { case (n, df) =>
      catalog.getTempView(n).exists(_.child eq df.queryExecution.analyzed)
    }
    if (!current) frames.foreach { case (n, df) => df.createOrReplaceTempView(n) }
  }
}
