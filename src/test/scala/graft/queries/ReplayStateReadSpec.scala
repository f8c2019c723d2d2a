package graft.queries

import org.apache.spark.sql.Encoders

import graft.SparkSuite
import graft.streaming.{StateBootstrap, StateReader}
import graft.streaming.StateBootstrap.{BIn, BInit}

/** An offline statestore read of a replay's retained checkpoint must not
  * change the calling session's conf: Spark logs "Updating the value of
  * conf 'spark.sql.streaming.stateStore.providerClass' in current
  * session" during such a read, and a session left on the checkpoint's
  * provider would silently change the store of its next stateful query.
  */
class ReplayStateReadSpec extends SparkSuite {
  import spark.implicits._

  test("reading a retained RocksDB replay checkpoint keeps the session's state-store provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs =
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    Q.withConf(spark, key -> hdfs) {
      val ckpt = tmpDir("replay_state_read") + "/ckpt"
      StreamQueries.replay(spark,
        Seq(Seq(BIn("a", 5L), BIn("b", 7L)), Seq(BIn("a", 3L))),
        keepCheckpoint = Some(ckpt))(
        StateBootstrap.agg(_, spark.emptyDataset(Encoders.product[BInit])))
      assert(spark.conf.get(key) == hdfs)
      val acc = StateReader.stateVar(spark, ckpt, "acc")
        .select($"key.value", $"value.n", $"value.cents")
        .as[(String, Long, Long)].collect().toSet
      assert(acc == Set(("a", 2L, 8L), ("b", 1L, 7L)))
      assert(spark.conf.get(key) == hdfs)
    }
  }
}
