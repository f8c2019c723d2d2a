package graft

/** Dev-only: price the per-query fixed costs the bench pays around every
  * SQL-corpus key — `Tables.registerAll` (10 temp-view registrations over
  * memoized frames) and a trivial spark.sql round — so "memoize view
  * registration" is a measured decision, not a guess.
  *
  * Usage: RegisterProbe <sfDir> [reps]
  */
object RegisterProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    val spark = DumpIO.session()
    // cold first call (footer reads happen here under the F1 memo)
    val t0 = System.nanoTime()
    Tables.registerAll(spark, sfDir)
    val t1 = System.nanoTime()
    println(f"registerAll cold: ${(t1 - t0) / 1e9}%.3f s")
    // warm repeats — what every subsequent query actually pays
    val t2 = System.nanoTime()
    (1 to reps).foreach(_ => Tables.registerAll(spark, sfDir))
    val t3 = System.nanoTime()
    println(f"registerAll warm x$reps: total=${(t3 - t2) / 1e9}%.3f s " +
      f"per-call=${(t3 - t2) / 1e6 / reps}%.2f ms")
    // a minimal analyze+execute round for comparison (the smallest
    // possible per-query constant)
    val t4 = System.nanoTime()
    (1 to reps).foreach(_ => spark.sql("SELECT COUNT(*) FROM nation").count())
    val t5 = System.nanoTime()
    println(f"trivial sql count x$reps: per-call=${(t5 - t4) / 1e6 / reps}%.2f ms")
    spark.stop()
  }
}
