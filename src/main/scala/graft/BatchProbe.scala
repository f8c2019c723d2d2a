package graft

/** Dev-only: split a batch query's wall into build (query-fn call:
  * registerAll + analysis) vs first count (optimize+codegen+exec) vs
  * second count (warm exec) — tells whether a slow key is plan-time or
  * run-time bound. Usage: BatchProbe <sfDir> <name1,name2,...> [reps]
  */
object BatchProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv, rest @ _*) = args: @unchecked
    val reps = rest.headOption.map(_.toInt).getOrElse(1)
    val spark = DumpIO.session()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    (1 to reps).foreach { r =>
      namesCsv.split(",").foreach { n =>
        val t0 = System.nanoTime()
        val df = all(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        println(f"$n%-28s rep$r build=${(t1 - t0) / 1e9}%6.2f " +
          f"count1=${(t2 - t1) / 1e9}%6.2f count2=${(t3 - t2) / 1e9}%6.2f")
      }
    }
    spark.stop()
  }
}
