package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Avro container-file round-trips via avro-mapred (no spark-avro module):
  * table round-trip, nullable/array/nested/timestamp types, splittable
  * multi-part layout.
  */
class AvroIOSpec extends SparkSuite {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("round-trips a TPC-H table through Avro container files") {
    val dir = tmpDir("avro") + "/supplier"
    val supplier = Tables.load(spark, sf, "supplier")
    AvroIO.write(supplier.repartition(2), dir)
    val back = AvroIO.read(spark, dir, supplier.schema)
    assert(back.schema == supplier.schema)
    assert(back.orderBy($"s_suppkey").collect().toSeq ==
      supplier.orderBy($"s_suppkey").collect().toSeq)
    val parts = new java.io.File(dir).listFiles().count(_.getName.endsWith(".avro"))
    assert(parts == 2)
  }

  test("nullable, array, nested-struct and timestamp fields survive") {
    val df = Seq(
      (1L, Some("a"), Seq(1.5, 2.5), Timestamp.valueOf("2026-01-02 03:04:05.123456")),
      (2L, None, Seq.empty[Double], Timestamp.valueOf("1969-12-31 23:59:59.999999"))
    ).toDF("id", "s", "xs", "ts")
      .withColumn("nested", struct($"id".as("k"), $"s".as("v")))
    val dir = tmpDir("avro") + "/mixed"
    AvroIO.write(df, dir)
    val back = AvroIO.read(spark, dir, df.schema).orderBy($"id").collect().toSeq
    assert(back.map(_.getLong(0)) == Seq(1L, 2L))
    assert(back(1).isNullAt(1))
    assert(back(0).getSeq[Double](2) == Seq(1.5, 2.5))
    // micros precision round-trips (including pre-epoch)
    assert(back(0).getTimestamp(3) == Timestamp.valueOf("2026-01-02 03:04:05.123456"))
    assert(back(1).getTimestamp(3) == Timestamp.valueOf("1969-12-31 23:59:59.999999"))
    assert(back(0).getStruct(4) == Row(1L, "a"))
  }

  test("generated avro schema marks nullable fields as null unions") {
    val st = Seq((1L, Option("x"))).toDF("id", "s").schema
    val avro = AvroIO.toAvroSchema(st)
    assert(avro.getField("s").schema().getType.name() == "UNION")
    assert(avro.getField("s").schema().getTypes.size() == 2)
  }
}
