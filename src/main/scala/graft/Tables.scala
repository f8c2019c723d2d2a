package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. These are the inputs for every
  * `SparkEntry.queries` entry and for the DuckDB oracle, so the load path must
  * stay a plain parquet scan — Catalyst then gets full pushdown (filters,
  * column pruning) into the file source.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Memoized analyzed plans per (session, sfDir, table). `spark.read
    * .parquet` builds a fresh FileIndex and re-infers the schema from the
    * parquet footer on EVERY call, and the SQL corpora call
    * [[registerAll]] (10 loads) once per query — ~1,600 redundant
    * footer/listing rounds per Bench run. A DataFrame is a lazy plan,
    * not data: reusing it never caches rows, every action still scans
    * the parquet input, and Catalyst pushdown/pruning are unchanged
    * (same LogicalRelation). Entries are per-session, so a stopped
    * session's plans are never served to a live one; the testdata dirs
    * are immutable for a Verify/Bench JVM's lifetime (same contract as
    * StreamQueries.sortedEventsCache).
    */
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
    // generation loads; DuckDB's oracle-side make_timestamp(epoch_ns(ts)//1000)
    // is an identity under both.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
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

  /** Last sfDir whose views were registered, per session. Registering the
    * ten views costs ~29 ms warm (plans/r20/register_probe.txt: catalog
    * writes, not I/O) and the SQL corpora call [[registerAll]] once per query — ~5-6 s
    * of pure re-registration per Bench run (~180 calling keys). The views are only ever the
    * memoized [[load]] frames, so a repeat call with the same (session,
    * sfDir) is an exact no-op; a different sfDir (Bench's sf0.001 warmup →
    * sf0.1 run) re-registers. Anything that overwrites one of the ten view
    * names outside this method (ScaleProbes.registerReplicated is the one
    * site) must call [[invalidateRegistered]] so the next registerAll
    * restores the real tables.
    */
  private val registeredFor =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register each table as a temp view so `spark.sql` queries can mirror the
    * DuckDB oracle SQL verbatim.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    if (registeredFor.get(spark) != sfDir) {
      names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
      registeredFor.put(spark, sfDir)
    }

  /** A caller replaced/dropped one of the [[names]] views directly: the
    * next [[registerAll]] on this session must re-register instead of
    * memo-hitting.
    */
  def invalidateRegistered(spark: SparkSession): Unit =
    registeredFor.remove(spark)
}
