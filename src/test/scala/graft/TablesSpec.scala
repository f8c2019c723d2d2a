package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Pins the two `Tables` memos. registerAll checks the catalog, so a
  * repeat call is a no-op, while a view replaced outside it or an sfDir
  * change re-registers without any invalidation call. The JVM-wide schema
  * memo lets a new session register the ten tables without a Spark job,
  * and a frame read on the memoized schema plans exactly like a plain
  * `spark.read.parquet`.
  */
class TablesSpec extends SparkSuite {

  private val sfA = "/root/testdata/sf0.001"
  private val sfB = "/root/testdata/sf0.01"

  private def nationRows(): Long = spark.table("nation").count()

  test("registerAll memo: repeat call serves the same frames, sfDir change re-registers") {
    Tables.registerAll(spark, sfA)
    val a = nationRows()
    val catalog = spark.sessionState.catalog
    val views = Tables.names.map(catalog.getRawTempView(_).get)
    Tables.registerAll(spark, sfA) // memo no-op — views must still resolve
    assert(Tables.names.map(catalog.getRawTempView(_).get).zip(views)
      .forall { case (now, before) => now eq before },
      "a repeat registerAll must leave the catalog's views untouched")
    assert(nationRows() == a)
    Tables.registerAll(spark, sfB) // different dir: must NOT memo-hit
    val b = spark.table("orders").count()
    Tables.registerAll(spark, sfA)
    val a2 = spark.table("orders").count()
    assert(b != a2, "sfDir switch must swap the registered views " +
      s"(orders sf0.01=$b vs sf0.001=$a2)")
  }

  test("a base view replaced outside registerAll is restored by the next registerAll") {
    Tables.registerAll(spark, sfA)
    val real = nationRows()
    // what ScaleProbes.registerReplicated does: overwrite a base view
    // outside registerAll, with no call telling Tables about it
    spark.range(3).toDF("n_nationkey").createOrReplaceTempView("nation")
    assert(nationRows() == 3)
    Tables.registerAll(spark, sfA)
    assert(nationRows() == real, "registerAll must restore the base view")
  }

  test("registerReplicated leaves the NEXT registerAll able to restore the 1x views") {
    // the end-to-end shape of the hazard: a scale probe replaces views
    // at factor 2, then the probe's own restore path (registerAll) must
    // bring the base tables back despite the memo
    Tables.registerAll(spark, sfA)
    val base = spark.table("lineitem").count()
    queries.ScaleProbes.registerReplicated(spark, sfA, factor = 2)
    assert(spark.table("lineitem").count() == base * 2,
      "replicated views must be active during the probe")
    Tables.registerAll(spark, sfA)
    assert(spark.table("lineitem").count() == base,
      "the probe's restore registerAll must bring back the 1x views")
  }

  /** Spark jobs started by `body` on this thread. The jobs run in a job
    * group; a sentinel job in the same group runs last, and the count is
    * read only after its end event: the listener bus delivers events in
    * order, so every earlier job's start has been counted by then.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val sentinel = "tables-spec-sentinel"
    val started = new AtomicInteger
    val sentinelJob = new AtomicInteger(-1)
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == sentinel)
            sentinelJob.set(e.jobId)
          else started.incrementAndGet()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) done.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "TablesSpec")
      body
      sc.setJobDescription(sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, TimeUnit.SECONDS), "sentinel job end not delivered")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("a new session's registerAll starts no Spark job once the JVM has read the schemas") {
    Tables.registerAll(spark, sfA)
    val fresh = spark.newSession()
    assert(jobsStartedBy(Tables.registerAll(fresh, sfA)) == 0,
      "the schema memo must spare a new session the per-table inference jobs")
    assert(fresh.table("nation").count() == nationRows())
  }

  test("a frame read on the memoized schema has the schema and optimized plan of a plain read") {
    def normalized(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString.replaceAll("#\\d+", "#")
    for (sf <- Seq(sfA, sfB); n <- Tables.names) {
      val path = s"$sf/$n.parquet"
      val memo = Tables.scan(spark, path)
      val plain = spark.read.parquet(path) // scan set nanosAsLong
      assert(memo.schema == plain.schema, s"$path schema")
      assert(normalized(memo) == normalized(plain), s"$path optimized plan")
    }
  }
}
