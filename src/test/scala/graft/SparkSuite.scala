package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs (shared across suites,
  * so no suite stops it). RocksDB state store is required by
  * transformWithState. Every spec temp dir comes from [[tmpDir]], a
  * [[graft.queries.Q.scratchDir]] reaped at JVM exit.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session

  def tmpDir(prefix: String): String = graft.queries.Q.scratchDir(prefix)
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
