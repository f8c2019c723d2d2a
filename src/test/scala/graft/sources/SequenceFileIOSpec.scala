package graft.sources


import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** SequenceFile format round-trip: Writable pair layout, splittable
  * multi-part reads, and the key-only fast path.
  */
class SequenceFileIOSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("write/read round-trips a table through (LongWritable, Text) pairs") {
    val dir = tmpDir("seqfile") + "/nation"
    val nation = Tables.load(spark, sf, "nation")
    SequenceFileIO.write(nation.repartition(3), dir, keyCol = "n_nationkey")
    val back = SequenceFileIO.read(spark, dir, nation.schema)
    assert(back.schema == nation.schema)
    val a = nation.orderBy($"n_nationkey").collect().toSeq
    val b = back.orderBy($"n_nationkey").collect().toSeq
    assert(a == b)
    // 3 partitions -> 3 part files (map-only write, no shuffle)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(parts == 3)
  }

  test("key-only read skips JSON deserialization and returns the key column") {
    val dir = tmpDir("seqfile") + "/keys"
    val nation = Tables.load(spark, sf, "nation")
    SequenceFileIO.write(nation, dir, keyCol = "n_nationkey")
    val keys = SequenceFileIO.readKeys(spark, dir)
      .as[Long].collect().toSet
    assert(keys == nation.select($"n_nationkey").as[Long].collect().toSet)
  }

  test("timestamps keep microsecond precision through the JSON value") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456")))
      .toDF("id", "ts")
    val dir = tmpDir("seqfile") + "/ts"
    SequenceFileIO.write(df, dir, keyCol = "id")
    val back = SequenceFileIO.read(spark, dir, df.schema).collect().head
    assert(back.getTimestamp(1) ==
      java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"))
  }

  test("null key column fails with a clear error") {
    val df = Seq((Some(1L), "a"), (None, "b")).toDF("id", "s")
    val dir = tmpDir("seqfile") + "/nullkey"
    val e = intercept[Exception] { SequenceFileIO.write(df, dir, keyCol = "id") }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("key column 'id' is NULL")))
  }

  test("nulls and nested values survive the JSON value round-trip") {
    val df = Seq(
      (1L, Some("a"), Seq(1, 2)),
      (2L, None, Seq.empty[Int])
    ).toDF("id", "s", "xs")
    val dir = tmpDir("seqfile") + "/nulls"
    SequenceFileIO.write(df, dir, keyCol = "id")
    val back = SequenceFileIO.read(spark, dir, df.schema)
      .orderBy($"id").collect().toSeq
    assert(back.map(_.getLong(0)) == Seq(1L, 2L))
    assert(back(1).isNullAt(1))
    assert(back(0).getSeq[Int](2) == Seq(1, 2))
  }
}
