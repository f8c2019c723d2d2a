package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The streaming rank operators and their SQL-pattern recognition: the
  * top-n operator's DataFrame entry ([[StreamingRank.topN]]) pins the
  * rank-movement cascades, and the idiomatic `ROW_NUMBER() OVER (…) <= n`
  * filter — which Spark itself rejects on a stream — routes to the
  * top-n / dedup processors and emits the same changelog sequences.
  */
class StreamingRankSpec extends SparkSuite {
  import spark.implicits._

  /** Drive `pipeline` over batches of input rows; returns rows per batch. */
  private def runRows[I: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[I]],
      pipeline: DataFrame => DataFrame): Seq[Seq[Row]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    val out = pipeline(input.toDS().toDF())
    val name = s"rank_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", tmpDir("ckpt")).start()
    try {
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
      var seen = 0
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        val all = spark.table(name).collect().toSeq
        emitted += all.drop(seen)
        seen = all.length
      }
      emitted.toSeq
    } finally q.stop()
  }

  /** [[StreamingRank.topN]] (top-2 by ascending sort) over batches of
    * (__rowkind, key, id, sort) changes; returns rows per batch.
    */
  private def runTop2(batches: Seq[Seq[(Byte, String, Long, Long)]]): Seq[Seq[Row]] =
    runRows(batches, df => StreamingRank.topN(
      df.toDF(Changelog.RowKindCol, "key", "id", "sort"),
      Seq("key"), Seq(("sort", true)), 2))

  test("update/delete cascades through the visible top-2") {
    val out = runTop2(Seq(
      Seq((Changelog.Insert, "k", 1L, 30L), (Changelog.Insert, "k", 2L, 10L)),
      Seq((Changelog.UpdateAfter, "k", 1L, 5L)),  // 1 moves to front
      Seq((Changelog.Insert, "k", 3L, 7L)),       // 3 evicts 2
      Seq((Changelog.Delete, "k", 1L, 0L))))      // delete promotes 2
    def c(kind: Byte, id: Long, sort: Long) = Row(kind, "k", id, sort)
    assert(out(0) == Seq(c(Changelog.Insert, 1, 30), c(Changelog.Insert, 2, 10)))
    assert(out(1) == Seq(
      c(Changelog.UpdateBefore, 1, 30), c(Changelog.UpdateAfter, 1, 5)))
    assert(out(2) == Seq(
      c(Changelog.Delete, 2, 10), c(Changelog.Insert, 3, 7)))
    assert(out(3) == Seq(
      c(Changelog.Delete, 1, 5), c(Changelog.Insert, 2, 10)))
  }

  test("row outside the top-n emits nothing until it becomes visible") {
    val out = runTop2(Seq(
      Seq((Changelog.Insert, "k", 1L, 1L), (Changelog.Insert, "k", 2L, 2L),
        (Changelog.Insert, "k", 3L, 9L)),          // 3 invisible
      Seq((Changelog.UpdateAfter, "k", 3L, 0L))))  // 3 jumps to #1
    def c(kind: Byte, id: Long, sort: Long) = Row(kind, "k", id, sort)
    assert(out(0) == Seq(c(Changelog.Insert, 1, 1), c(Changelog.Insert, 2, 2)))
    assert(out(1) == Seq(c(Changelog.Delete, 2, 2), c(Changelog.Insert, 3, 0)))
  }

  test("rn <= 2 over a changelog stream matches the top-n operator pins") {
    // same scenario as "update/delete cascades through the visible
    // top-2", through the SQL pattern: tuples are (__rowkind, key, id, sort)
    val batches = Seq(
      Seq((Changelog.Insert, "k", 1L, 30L), (Changelog.Insert, "k", 2L, 10L)),
      Seq((Changelog.UpdateAfter, "k", 1L, 5L)),  // 1 moves to front
      Seq((Changelog.Insert, "k", 3L, 7L)),       // 3 evicts 2
      Seq((Changelog.Delete, "k", 1L, 0L)))       // delete promotes 2
    val out = runRows(batches, df => {
      val named = df.toDF(Changelog.RowKindCol, "key", "id", "sort")
      val w = Window.partitionBy("key").orderBy("sort")
      StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" <= 2).drop("rn"))
    })
    def c(kind: Byte, id: Long, sort: Long) = Row(kind, "k", id, sort)
    assert(out(0) == Seq(c(Changelog.Insert, 1, 30), c(Changelog.Insert, 2, 10)))
    assert(out(1) == Seq(
      c(Changelog.UpdateBefore, 1, 30), c(Changelog.UpdateAfter, 1, 5)))
    assert(out(2) == Seq(
      c(Changelog.Delete, 2, 10), c(Changelog.Insert, 3, 7)))
    assert(out(3) == Seq(
      c(Changelog.Delete, 1, 5), c(Changelog.Insert, 2, 10)))
  }

  test("append-only input needs no id column and no __rowkind") {
    // "row outside the top-n emits nothing …" adapted to append-only:
    // (key, name, sort) — note: no LongType id, ids synthesize by arrival
    val batches = Seq(
      Seq(("k", "a", 1L), ("k", "b", 2L), ("k", "c", 9L)), // c invisible
      Seq(("k", "d", 0L)))                                 // d enters at #1
    val out = runRows(batches, df => {
      val named = df.toDF("key", "name", "sort")
      val w = Window.partitionBy($"key").orderBy($"sort")
      StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" < 3))
    })
    assert(out(0) == Seq(
      Row(Changelog.Insert, "k", "a", 1L), Row(Changelog.Insert, "k", "b", 2L)))
    assert(out(1) == Seq(
      Row(Changelog.Delete, "k", "b", 2L), Row(Changelog.Insert, "k", "d", 0L)))
  }

  test("rn = 1 ordered by event time ASC routes to keep-first dedup") {
    val t = (ms: Long) => new Timestamp(ms)
    val batches = Seq(
      Seq(("a", t(10), "first-a"), ("b", t(20), "first-b")),
      Seq(("a", t(30), "late-a")))
    val out = runRows(batches, df => {
      val named = df.toDF("key", "ts", "payload")
      val w = Window.partitionBy("key").orderBy("ts")
      StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn"))
    })
    // insert-only output: first row per key wins, later rows dropped
    assert(out(0).toSet == Set(
      Row("a", t(10), "first-a"), Row("b", t(20), "first-b")))
    assert(out(1).isEmpty)
  }

  test("rn = 1 ordered by event time DESC routes to keep-last (retracts)") {
    val t = (ms: Long) => new Timestamp(ms)
    val batches = Seq(
      Seq(("a", t(10), "v1")),
      Seq(("a", t(30), "v2")))
    val out = runRows(batches, df => {
      val named = df.toDF("key", "ts", "payload")
      val w = Window.partitionBy("key").orderBy($"ts".desc)
      StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn"))
    })
    assert(out(0) == Seq(Row(Changelog.Insert, "a", t(10), "v1")))
    assert(out(1) == Seq(
      Row(Changelog.UpdateBefore, "a", t(10), "v1"),
      Row(Changelog.UpdateAfter, "a", t(30), "v2")))
  }

  test("expression partition/order keys route via projected helper columns") {
    // PARTITION BY upper(cat) ORDER BY sort * -1 — neither key is a plain
    // column; helpers materialize them and are dropped from the output
    val batches = Seq(
      Seq(("A", "y", 2L, 20L), ("a", "x", 1L, 10L), ("b", "z", 3L, 5L)),
      Seq(("a", "w", 4L, 30L))) // 30*-1=-30 ranks first in upper-cat A
    val out = runRows(batches, df => {
      val named = df.toDF("cat", "name", "id", "sort")
      val w = Window.partitionBy(upper($"cat")).orderBy($"sort" * -1)
      StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" <= 1).drop("rn"))
    })
    // key A: 20 > 10 so id 2 wins batch 1; key B: id 3
    assert(out(0).toSet == Set(
      Row(Changelog.Insert, "A", "y", 2L, 20L),
      Row(Changelog.Insert, "b", "z", 3L, 5L)))
    // id 4 (sort 30) dethrones id 2 in key A
    assert(out(1).toSet == Set(
      Row(Changelog.Delete, "A", "y", 2L, 20L),
      Row(Changelog.Insert, "a", "w", 4L, 30L)))
  }

  test("stateTtl evicts idle rank state (RowTopNProcessor)") {
    // TTL runs on processing time: with TimeMode.ProcessingTime the query
    // schedules micro-batches continuously, so poll the sink (ProcessOpsSpec
    // pattern) instead of relying on processAllAvailable's latch
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long)]
    val named = input.toDS().toDF("key", "id", "sort")
    val w = Window.partitionBy("key").orderBy("sort")
    val out = StreamingRank.rewrite(
      named.withColumn("rn", row_number().over(w)).filter($"rn" <= 1).drop("rn"),
      stateTtl = Some(java.time.Duration.ofMillis(500)))
    val name = s"rankttl_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
      .option("checkpointLocation", tmpDir("ckpt")).start()
    def await(cond: () => Boolean, deadlineMs: Long = 30000): Boolean = {
      val until = System.currentTimeMillis() + deadlineMs
      var ok = cond()
      while (!ok && System.currentTimeMillis() < until) { Thread.sleep(100); ok = cond() }
      ok
    }
    try {
      input.addData(Seq(("k", 1L, 10L)))
      assert(await(() => spark.table(name).count() == 1))
      assert(spark.table(name).collect().head ==
        Row(Changelog.Insert, "k", 1L, 10L))
      Thread.sleep(1200) // well past the 500ms TTL
      // id 2 sorts WORSE than id 1 — with live state it would rank 2 and
      // emit nothing; after eviction it is the whole key's state and wins
      input.addData(Seq(("k", 2L, 20L)))
      assert(await(() => spark.table(name).count() == 2))
      val rows = spark.table(name).collect().toSeq
      assert(rows.last == Row(Changelog.Insert, "k", 2L, 20L),
        s"expected fresh insert after TTL eviction, got $rows")
    } finally q.stop()
  }

  test("stateTtl evicts idle keep-first and keep-last state") {
    // rn = 1 by event time routes to the dedup processors; with a TTL a
    // key's state expires on processing time, so its next row is a FIRST
    // row again: keep-first emits it (instead of dropping it) and
    // keep-last emits +I (instead of a -U/+U pair). Polled like the
    // top-n TTL test above.
    val t = (ms: Long) => new Timestamp(ms)
    def run(asc: Boolean): Seq[Row] = {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(String, Timestamp, String)]
      val named = input.toDS().toDF("key", "ts", "payload")
      val w = Window.partitionBy("key").orderBy(if (asc) $"ts".asc else $"ts".desc)
      val out = StreamingRank.rewrite(
        named.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn"),
        stateTtl = Some(java.time.Duration.ofMillis(500)))
      val name = s"dedupttl_${System.nanoTime()}"
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100))
        .option("checkpointLocation", tmpDir("ckpt")).start()
      def await(n: Int, deadlineMs: Long = 30000): Boolean = {
        val until = System.currentTimeMillis() + deadlineMs
        var ok = spark.table(name).count() >= n
        while (!ok && System.currentTimeMillis() < until) {
          Thread.sleep(100); ok = spark.table(name).count() >= n
        }
        ok
      }
      try {
        input.addData(Seq(("a", t(10), "v1")))
        assert(await(1))
        Thread.sleep(1200) // well past the 500ms TTL
        input.addData(Seq(("a", t(30), "v2")))
        assert(await(2))
        Thread.sleep(500) // a stray third row would land here
        spark.table(name).collect().toSeq
      } finally q.stop()
    }
    // keep-first: the post-expiry row is the key's first row again
    assert(run(asc = true) == Seq(Row("a", t(10), "v1"), Row("a", t(30), "v2")))
    // keep-last: +I, and after expiry +I again — no retraction of v1
    assert(run(asc = false) == Seq(
      Row(Changelog.Insert, "a", t(10), "v1"),
      Row(Changelog.Insert, "a", t(30), "v2")))
  }

  test("a non-rank filter is rejected with a clear error") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val df = input.toDS().toDF("key", "v").filter($"v" > 3)
    val err = intercept[IllegalArgumentException] { StreamingRank.rewrite(df) }
    assert(err.getMessage.contains("not a streaming rank pattern"))
  }
}
