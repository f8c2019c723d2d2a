package graft

import graft.queries.{CdcFuzzGen, FuzzArm, FuzzFamilies}

/** Streaming differential-fuzz dump — the cross-engine half of the
  * streaming fuzz layer (the engine-vs-engine half is `StreamFuzzSpec`).
  * Each seeded case replays through its family's operator and writes
  * the `dev/check.py` layout (per-query parquet + oracle_sql.json with
  * the case's DuckDB restatement), so the comparison is the same
  * machinery Verify's output goes through.
  *
  * Usage: runMain graft.StreamFuzzDump <sfDir> <outDir> [n=30] [seed0=1] [family=window]
  * then:  python3 dev/check.py <sfDir> <outDir>
  * family is any name in [[graft.queries.FuzzFamilies.all]] (one arm per
  * seed), `recover` (every restartable family's checkpoint stop/restart
  * arm), `cdc` (one simulated history through all four CDC-dialect
  * parsers, each against the case's one last-image oracle) or `all`
  * (every registry family + the cdc quad).
  */
object StreamFuzzDump {

  private def cdc(seed: Long): Seq[FuzzArm] = {
    val c = CdcFuzzGen.gen(seed)
    Seq("debezium", "canal", "maxwell", "ogg").map(d =>
      FuzzArm(s"q_fuzz_cdc_${d}_$seed",
        (s, dir) => CdcFuzzGen.replay(s, dir, c, d), c.oracleSql))
  }

  /** The per-seed arms a family name selects; None for an unknown name. */
  private[graft] def arms(family: String): Option[Long => Seq[FuzzArm]] =
    family match {
      case "all" => Some(seed => FuzzFamilies.all.map(_.arm(seed)) ++ cdc(seed))
      case "recover" => Some(seed => FuzzFamilies.all.flatMap(_.recoverArm(seed)))
      case "cdc" => Some(cdc)
      case name => FuzzFamilies.all.find(_.name == name)
        .map(f => (seed: Long) => Seq(f.arm(seed)))
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 30
    val seed0 = if (args.length > 3) args(3).toLong else 1L
    val family = if (args.length > 4) args(4) else "window"
    val armsOf = arms(family).getOrElse(sys.error(
      s"unknown family '$family': expected " +
        (FuzzFamilies.all.map(_.name) ++ Seq("cdc", "recover", "all"))
          .mkString(", ")))
    val spark = DumpIO.session()
    new java.io.File(outDir).mkdirs()
    var failed = 0
    var skippedInvalid = 0
    val planned = (seed0 until seed0 + n).flatMap(armsOf)
    val oracle = planned.flatMap { a =>
      a.skip(spark, sfDir) match {
        case Some(reason) =>
          skippedInvalid += 1
          System.err.println(
            s"[streamfuzz] ${a.name} skipped (invalid seed: $reason)")
          None
        case None =>
          try {
            a.run(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/${a.name}")
            Some(a.name -> a.oracleSql)
          } catch { case e: Throwable =>
            failed += 1
            System.err.println(
              s"[streamfuzz] ${a.name} failed on Spark: ${e.getMessage}")
            None
          }
      }
    }
    DumpIO.writeOracle(outDir, oracle)
    println(s"[streamfuzz] dumped ${oracle.length} of " +
      s"${planned.length - skippedInvalid} $family cases ($failed failed " +
      s"on Spark, $skippedInvalid invalid seeds skipped), " +
      s"seeds $seed0..${seed0 + n - 1}")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
