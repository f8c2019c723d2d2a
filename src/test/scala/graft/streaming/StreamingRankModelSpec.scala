package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Model-based randomized check of the SQL rank rewrite: random upsert/
  * delete changelogs through the RowTopNProcessor must fold to exactly
  * the batch `ROW_NUMBER() <= n` result over the final table state —
  * the dynamic-table contract the reference's retracting top-n function
  * guarantees.
  */
class StreamingRankModelSpec extends SparkSuite {
  import spark.implicits._

  private val N = 2

  private def runCase(seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Byte, String, Long, Long)]
    val named = input.toDS().toDF(Changelog.RowKindCol, "key", "id", "sort")
    val w = Window.partitionBy("key").orderBy("sort")
    val out = StreamingRank.rewrite(
      named.withColumn("rn", row_number().over(w)).filter($"rn" <= N).drop("rn"))
    val name = s"rankmodel_${seed}_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()

    // the model: authoritative upsert state per (key, id)
    val state = scala.collection.mutable.Map.empty[(String, Long), Long]
    try {
      (1 to 6).foreach { _ =>
        val ops = (1 to 1 + rnd.nextInt(3)).map { _ =>
          val key = s"k${1 + rnd.nextInt(2)}"
          val id = 1L + rnd.nextInt(6)
          if (rnd.nextInt(4) == 0 && state.contains((key, id))) {
            state.remove((key, id))
            (Changelog.Delete, key, id, 0L)
          } else {
            val sort = rnd.nextInt(100).toLong
            state((key, id)) = sort
            (Changelog.Insert, key, id, sort)
          }
        }
        input.addData(ops)
        q.processAllAvailable()
      }

      // fold the emitted changelog to the visible top-n per key
      val visible = scala.collection.mutable.Map.empty[(String, Long), Long]
      spark.table(name).collect().foreach { r =>
        val (kind, key, id, sort) =
          (r.getByte(0), r.getString(1), r.getLong(2), r.getLong(3))
        kind match {
          case Changelog.Insert | Changelog.UpdateAfter =>
            visible((key, id)) = sort
          case Changelog.Delete | Changelog.UpdateBefore =>
            visible.remove((key, id))
        }
      }

      // the batch oracle: rank over the final authoritative state
      val expected = state.toSeq
        .groupBy(_._1._1)
        .flatMap { case (_, rows) =>
          rows.sortBy { case ((_, id), sort) => (sort, id) }.take(N)
        }
        .map { case ((k, id), sort) => ((k, id), sort) }
        .toMap
      assert(visible.toMap == expected,
        s"seed $seed: folded $visible != batch rank $expected of $state")
    } finally q.stop()
  }

  test("random changelogs fold to the batch rank of the final state") {
    Seq(1L, 7L, 42L, 1234L, 99999L).foreach(runCase)
  }
}
