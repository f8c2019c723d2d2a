package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.queries.{JoinQueries, PipelineQueries, TpcdsQueries}

/** Pins `SparkEntry.sortOnce`: a key whose result ends in a global
  * `ORDER BY` is sorted in one partition, with no range exchange and so
  * no sampling job, and returns the rows of its module's range sort in
  * the same order; every other plan comes back as the same object.
  */
class SortOnceSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def entry(key: String): DataFrame = SparkEntry.queries(key)(spark, sf)

  test("a root ORDER BY plans no range exchange and its collect starts one job") {
    val df = entry("q_text_stats")
    df.collect() // finalizes the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), s"range sort left in: $plan")
    val again = entry("q_text_stats")
    assert(jobsStartedBy(again.collect()) == 1,
      "a sampling job and a shuffle map stage job are back before the sort")
  }

  test("rows and their order are those of the module's range sort") {
    for ((key, module) <- Seq(
        "q_text_stats" -> PipelineQueries.queries("q_text_stats"),
        "q_join_inner" -> JoinQueries.queries("q_join_inner"),
        "q_tpcds43" -> TpcdsQueries.queries("q_tpcds43"))) {
      val ranged = module(spark, sf)
      assert(ranged.queryExecution.executedPlan.toString.contains("rangepartitioning"),
        s"$key: the module's own plan must end in a range sort")
      val expected = ranged.collect()
      val got = entry(key).collect()
      assert(expected.nonEmpty, s"$key is empty at sf0.001")
      assert(got.sameElements(expected), s"$key: rows or their order differ")
    }
  }

  test("ORDER BY ... LIMIT, an unsorted plan and a streaming frame come back unchanged") {
    val limited = TpcdsQueries.queries("q_tpcds23b")(spark, sf)
    assert(SparkEntry.sortOnce(limited) eq limited)
    val unsorted = TpcdsQueries.queries("q_tpcds13")(spark, sf)
    assert(SparkEntry.sortOnce(unsorted) eq unsorted)
    val stream = spark.readStream.format("rate").load().orderBy(col("value"))
    assert(SparkEntry.sortOnce(stream) eq stream)
    val sorted = spark.range(10).toDF("id").orderBy(col("id").desc)
    assert(!(SparkEntry.sortOnce(sorted) eq sorted))
  }

  test("q_dedup_lsh's CacheOnce lease is released by the rewritten plan's collect") {
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val rows = entry("q_dedup_lsh").collect()
    assert(rows.nonEmpty)
    // CacheOnce releases on the listener bus — poll
    def leaked = spark.sparkContext.getPersistentRDDs.filterNot(kv => baseline(kv._1))
    val deadline = System.nanoTime() + 15e9.toLong
    while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"persisted RDDs leaked: ${leaked.values.map(_.name)}")
  }
}
