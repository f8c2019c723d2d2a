package graft

import graft.queries.FuzzArm

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. stderr ends
  * with one summary line (queries dumped, oracles written, failed names);
  * stdout and the exit code (0) do not depend on failures.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = DumpIO.session()
    val oracles = SparkEntry.oracleSql
    val arms = SparkEntry.queries.toSeq.collect {
      case (name, fn) if only.forall(_.contains(name)) =>
        FuzzArm(name, fn, oracles(name))
    }
    val d = DumpIO.dump(spark, sfDir, outDir, arms)
    System.err.println(s"[verify] ${d.ok.length} queries dumped, " +
      s"${d.ok.length + d.failed.length} oracles written, failed: " +
      d.failed.mkString("[", ",", "]"))
    spark.stop()
  }
}
