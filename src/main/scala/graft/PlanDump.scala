package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: dump `.explain("formatted")` for named BATCH queries to files.
  *
  * Usage: PlanDump <sfDir> <outDir> <name1,name2,...> [suffix]
  *
  * Writes `<outDir>/<name>_<suffix>.txt` (suffix defaults to "plan").
  * Streaming replay gates are excluded — building their DataFrame runs
  * the replay and the interesting plan is the per-batch incremental one;
  * plan evidence for those lives in the operator specs instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv, rest @ _*) = args: @unchecked
    val suffix = rest.headOption.getOrElse("plan")
    val names = namesCsv.split(",").toSeq
    val spark = DumpIO.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    names.foreach { n =>
      val fn = all.getOrElse(n, sys.error(s"unknown query: $n"))
      val df = fn(spark, sfDir)
      // finalize AQE on the DataFrame's OWN QueryExecution (count()
      // builds a separate one and leaves df's plan isFinalPlan=false),
      // so the dumped plan shows the runtime AQE decisions
      // (AQEShuffleRead coalescing, SMJ->BHJ rewrites)
      df.collect()
      val txt = df.queryExecution.explainString(
        ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
