package graft.streaming

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Windowed streaming coGroup (streaming/CoGroup): both-side buffering,
  * one-sided keys (the capability a join lacks), watermark-driven fire,
  * and the TYPED union payload (no JSON anywhere — callbacks receive
  * rows with the sides' real column types).
  */
class CoGroupSpec extends SparkSuite {
  import spark.implicits._

  private def ts(min: Int): java.sql.Timestamp =
    new java.sql.Timestamp(min * 60000L)

  test("tumbling coGroup sees both buffers, including one-sided keys") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    val ev = input.toDS().toDF("k", "ts", "v")
    val left = ev.filter($"v" % 2 === 0)
    val right = ev.filter($"v" % 2 === 1)
    val outSchema = StructType(Seq(
      StructField("k", StringType), StructField("win", LongType),
      StructField("nl", LongType), StructField("nr", LongType)))
    val out = CoGroup.tumbling(left, right, Seq("k"), "ts",
      600000L, "0 seconds",
      (key, win, ls, rs) => {
        // typed-payload pin: buffered rows carry REAL types — a Long
        // `v` (sum it arithmetically, no casts) and a Timestamp `ts`.
        // Under the old JSON codec these getAs calls would throw
        // ClassCastException and fail the query.
        (ls ++ rs).foreach { r =>
          assert(r.getAs[Any]("v").isInstanceOf[Long])
          assert(r.getAs[Any]("ts").isInstanceOf[java.sql.Timestamp])
        }
        val vsum = (ls ++ rs).map(_.getAs[Long]("v")).sum
        assert(vsum >= 0L)
        Iterator.single(new GenericRow(
          Array[Any](key, win, ls.length.toLong, rs.length.toLong)))
      },
      outSchema)
    // codec pin: the plan shuffles a typed union struct, not JSON text
    assert(!out.queryExecution.analyzed.toString.contains("to_json"),
      "coGroup payload must be a typed union struct, not to_json text")
    val name = "cogroup_sink"
    val ckpt = java.nio.file.Paths.get(tmpDir("cogroup_ckpt"))
    // SparkSuite's shared session already pins the RocksDB provider
    // (transformWithState requires it) — never set/unset it here, an
    // unset would strip the suite-wide conf for every later suite
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      // window [0,10): a has left+right, b right-only, c left-only
      input.addData(Seq(("a", ts(1), 2L), ("a", ts(2), 3L),
        ("b", ts(3), 5L), ("c", ts(4), 4L)))
      q.processAllAvailable()
      // watermark advance fires the first window
      input.addData(Seq(("a", ts(25), 8L)))
      q.processAllAvailable()
      input.addData(Seq(("z", ts(60), 0L)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(rows.contains(("a", 0L, 1L, 1L))) // both sides together
      assert(rows.contains(("b", 0L, 0L, 1L))) // right-only key emits
      assert(rows.contains(("c", 0L, 1L, 0L))) // left-only key emits
      assert(rows.contains(("a", 1200000L, 1L, 0L)))
      // late row for the fired [0,10) window is dropped, not re-fired
      input.addData(Seq(("a", ts(5), 6L)))
      input.addData(Seq(("z", ts(90), 0L)))
      q.processAllAvailable()
      val after = spark.table(name)
        .as[(String, Long, Long, Long)].collect()
        .count { case (k, w, _, _) => k == "a" && w == 0L }
      assert(after == 1)
    } finally {
      q.stop()
      graft.queries.Q.deleteRecursively(ckpt)
    }
  }

  test("sliding coGroup assigns each record to every covering window") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    val ev = input.toDS().toDF("k", "ts", "v")
    val left = ev.filter($"v" % 2 === 0)
    val right = ev.filter($"v" % 2 === 1)
    val outSchema = StructType(Seq(
      StructField("k", StringType), StructField("win", LongType),
      StructField("nl", LongType), StructField("nr", LongType)))
    // size 20 min, slide 10 min → every record lands in 2 windows
    val out = CoGroup.sliding(left, right, Seq("k"), "ts",
      1200000L, 600000L, "0 seconds",
      (key, win, ls, rs) => Iterator.single(new GenericRow(
        Array[Any](key, win, ls.length.toLong, rs.length.toLong))),
      outSchema)
    val name = "cogroup_slide_sink"
    val ckpt = java.nio.file.Paths.get(tmpDir("cogroup_slide_ckpt"))
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      // a@15min: covering windows start at 10min and 20min... for
      // size 20/slide 10 a ts of 15 min covers starts {0, 10} min
      input.addData(Seq(("a", ts(15), 2L), ("a", ts(16), 3L)))
      q.processAllAvailable()
      input.addData(Seq(("z", ts(90), 0L)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[(String, Long, Long, Long)].collect().toSet
      // both records appear TOGETHER in both covering windows
      assert(rows.contains(("a", 0L, 1L, 1L)))
      assert(rows.contains(("a", 600000L, 1L, 1L)))
      assert(!rows.exists { case (k, w, _, _) => k == "a" && w == 1200000L })
    } finally {
      q.stop()
      graft.queries.Q.deleteRecursively(ckpt)
    }
  }

  test("composite keys with null or separator-bearing components stay distinct") {
    // the composite key codec (StreamKeys.text, to_json-based) must keep
    // distinct keys distinct for BOTH failure modes ad-hoc text codecs
    // hit: null components (concat_ws skips nulls) and component values
    // containing the would-be separator byte — ("a\u0001b", "c") vs
    // ("a", "b\u0001c") collide under a \u0001-joined encoding
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Int, java.sql.Timestamp, Long)]
    val sep = "\u0001"
    val ev = input.toDS().toDF("id", "ts", "v")
      .withColumn("k1", org.apache.spark.sql.functions
        .when($"id" === 1, "a").otherwise(org.apache.spark.sql.functions
          .when($"id" === 3, "a")
          .when($"id" === 4, s"a${sep}b")
          .when($"id" === 5, "a").cast("string")))
      .withColumn("k2", org.apache.spark.sql.functions
        .when($"id" === 2, "a").otherwise(org.apache.spark.sql.functions
          .when($"id" === 3, "b")
          .when($"id" === 4, "c")
          .when($"id" === 5, s"b${sep}c").cast("string")))
    // id=1 → ("a", null); id=2 → (null, "a"); id=3 → ("a", "b");
    // id=4 → ("a\u0001b", "c"); id=5 → ("a", "b\u0001c")
    val left = ev.filter($"v" % 2 === 0)
    val right = ev.filter($"v" % 2 === 1)
    val outSchema = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType)))
    val out = CoGroup.tumbling(left, right, Seq("k1", "k2"), "ts",
      600000L, "0 seconds",
      (key, _, ls, rs) => Iterator.single(new GenericRow(
        Array[Any](key, (ls.length + rs.length).toLong))),
      outSchema)
    val name = "cogroup_nullkey_sink"
    val ckpt = java.nio.file.Paths.get(tmpDir("cogroup_nullkey"))
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(Seq((1, ts(1), 2L), (2, ts(2), 4L), (3, ts(3), 6L),
        (4, ts(4), 8L), (5, ts(5), 10L)))
      q.processAllAvailable()
      input.addData(Seq((0, ts(60), 0L)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long)].collect()
        .filter(_._2 > 0)
      // five distinct non-empty groups, each with exactly one row —
      // neither null components nor separator-bearing values collide
      assert(rows.count(_._2 == 1L) >= 5,
        s"expected 5 singleton groups, got ${rows.toSeq}")
      assert(!rows.exists(_._2 > 1L),
        s"composite keys collided: ${rows.toSeq}")
    } finally {
      q.stop()
      graft.queries.Q.deleteRecursively(ckpt)
    }
  }

  test("coGroup buffers sides with different schemas typed end-to-end") {
    // left and right carry DIFFERENT columns (the TaggedUnion point):
    // the union row holds two nullable structs, exactly one non-null,
    // and each callback buffer exposes its own side's schema
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Long)]
    val ev = input.toDS().toDF("k", "ts", "v")
    val left = ev.filter($"v" % 2 === 0)
      .select($"k", $"ts", ($"v" * 10).as("lv"),
        org.apache.spark.sql.functions.lit("L").as("tagL"))
    val right = ev.filter($"v" % 2 === 1)
      .select($"k", $"ts", ($"v".cast("double") / 2).as("rv"))
    val outSchema = StructType(Seq(
      StructField("k", StringType), StructField("win", LongType),
      StructField("lsum", LongType), StructField("rsum", DoubleType)))
    val out = CoGroup.tumbling(left, right, Seq("k"), "ts",
      600000L, "0 seconds",
      (key, win, ls, rs) => {
        ls.foreach(r => assert(r.getAs[String]("tagL") == "L"))
        Iterator.single(new GenericRow(Array[Any](key, win,
          ls.map(_.getAs[Long]("lv")).sum,
          rs.map(_.getAs[Double]("rv")).sum)))
      },
      outSchema)
    val name = "cogroup_hetero_sink"
    val ckpt = java.nio.file.Paths.get(tmpDir("cogroup_hetero_ckpt"))
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", ckpt.toString).start()
    try {
      input.addData(Seq(("a", ts(1), 2L), ("a", ts(2), 3L), ("a", ts(3), 5L)))
      q.processAllAvailable()
      input.addData(Seq(("z", ts(60), 0L)))
      q.processAllAvailable()
      val rows = spark.table(name)
        .as[(String, Long, Long, Double)].collect().toSet
      assert(rows.contains(("a", 0L, 20L, 4.0)))
    } finally {
      q.stop()
      graft.queries.Q.deleteRecursively(ckpt)
    }
  }
}
