package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import perfbench.{OpRecord, Tracer}

/** Shared local SparkSession for operator specs (shared across suites,
  * so no suite stops it). RocksDB state store is required by
  * transformWithState. Every spec temp dir comes from [[tmpDir]], a
  * [[graft.queries.Q.scratchDir]] reaped at JVM exit.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String = graft.queries.Q.scratchDir(prefix)

  /** Spark jobs started by `body` on this thread, as perfbench's
    * [[Tracer]] counts them: the body's jobs carry its op id, and
    * `detach` drains the listener bus before the count is read.
    */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tracer = new Tracer(spark)
    sc.setLocalProperty(Tracer.OpProperty, "1")
    tracer.install()
    val startMs = System.currentTimeMillis()
    try body
    finally {
      sc.setLocalProperty(Tracer.OpProperty, null)
      tracer.detach()
    }
    val op = OpRecord(1, "body", "spec", startMs, System.currentTimeMillis(),
      0.0, 0.0, 0L, "", "", 0L, 0L, 0.0)
    tracer.layers(Seq(op), 0.0, 1)("spark.jobs").toInt
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.warehouse.dir",
        graft.queries.Q.scratchDir("graft-warehouse"))
      .config("spark.sql.autoBroadcastJoinThreshold", "10MB")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
