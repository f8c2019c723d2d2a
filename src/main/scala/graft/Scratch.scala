package graft

/** Dev-only harness: drives the driver contract surfaces locally.
  * With args: each arg is a query name from SparkEntry.queries, timed
  * against SPARK_GRAFT_SF_DIR (default sf0.1) — a single-query bench.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = DumpIO.session()
    if (args.nonEmpty) {
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      args.foreach { name =>
        val fn = SparkEntry.queries.getOrElse(name,
          SparkEntry.benchOnly(name))
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[scratch] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    } else {
      val e = SparkEntry.entry(spark)
      println("[scratch] entry rows = " + e.count())
      e.show(5, truncate = false)
      println("[scratch] queries declared = " + SparkEntry.queries.size)
      println("[scratch] oracles declared = " + SparkEntry.oracleSql.size)
    }
    spark.stop()
  }
}
