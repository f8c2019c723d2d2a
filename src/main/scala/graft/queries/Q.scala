package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Shared helpers for the oracle-checked query inventory.
  *
  * Cross-engine determinism rules (Spark result must hash-match DuckDB):
  *   - Sums/averages of doubles go through bounded-precision decimals so the
  *     arithmetic is exact in both engines, then a single final cast to
  *     double (IEEE round-to-nearest gives identical bits for the same exact
  *     decimal). Precisions are kept small enough that no intermediate
  *     exceeds DECIMAL(38,_) in either engine.
  *   - Every query output carries a deterministic total ORDER BY.
  *   - Derived integers are cast to BIGINT on both sides.
  *   - Both engines decode `events.ts` in [[graft.Tables]]: Spark reads it
  *     through [[t]], and an oracle reads it through
  *     [[graft.Tables.duckEvents]] in place of `events`, never by its own
  *     `epoch_ns` arithmetic (RegistrySpec pins this).
  */
object Q {
  type QFn = (SparkSession, String) => DataFrame

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /** Exact decimal view of a 2-dp monetary/quantity double. */
  def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Exact decimal sum of a 2-dp double, returned as double. */
  def dsum(c: Column): Column = sum(dec2(c)).cast(DoubleType)

  /** Oracle-side equivalent of [[dsum]]. */
  def dsumSql(col: String): String =
    s"CAST(SUM(CAST($col AS DECIMAL(12,2))) AS DOUBLE)"

  /** Run `body` with the given session conf keys set, then restore each
    * key's previous value — or unset it if it had none — even when
    * `body` throws. The one save/set/restore window for session conf.
    */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Best-effort recursive delete (deepest first) — shared by every
    * scratch-dir consumer so the idiom can't drift.
    */
  def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case _: Throwable => () }

  /** Per-run scratch dir reaped at JVM exit. ONE shutdown hook drains
    * the queue — per-call hooks pin a Thread each in the JVM's hook set,
    * which a long Bench/Verify session accumulates by the hundred.
    */
  private val scratchDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val scratchHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => scratchDirs.forEach(deleteRecursively(_))))
  def scratchDir(prefix: String): String = {
    scratchHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(dir)
    dir.toString
  }
}
