package graft

import graft.queries.{CdcFuzzGen, FuzzArm, FuzzFamilies, FuzzGen}

/** Differential-fuzz dump — the cross-engine half of the fuzz layer (the
  * engine-vs-engine half is `StreamFuzzSpec`). Each seeded case runs on
  * Spark and goes through [[DumpIO.dump]] (per-query parquet +
  * oracle_sql.json with the case's DuckDB restatement), so the
  * comparison is the same machinery Verify's output goes through.
  *
  * Usage: runMain graft.FuzzDump <sfDir> <outDir> [n=30] [seed0=1] [family=window]
  * then:  python3 dev/check.py <sfDir> <outDir>
  * family is any name in [[graft.queries.FuzzFamilies.all]] (one arm per
  * seed), `sql` (the batch SQL grammar, [[graft.queries.FuzzGen]]),
  * `recover` (every restartable family's checkpoint stop/restart arm),
  * `cdc` (one simulated history through all four CDC-dialect parsers,
  * each against the case's one last-image oracle) or `all` (every
  * registry family + the cdc quad). Every name encodes its seed, so a
  * mismatch replays from the name alone.
  */
object FuzzDump {

  private def cdc(seed: Long): Seq[FuzzArm] = {
    val c = CdcFuzzGen.gen(seed)
    Seq("debezium", "canal", "maxwell", "ogg").map(d =>
      FuzzArm(s"q_fuzz_cdc_${d}_$seed",
        (s, dir) => CdcFuzzGen.replay(s, dir, c, d), c.oracleSql))
  }

  // not in `all`: the batch grammar's pinned empty-input grouping-set
  // delta (FuzzSpec) would fail seeds at sf0.001
  private def sql(seed: Long): Seq[FuzzArm] = {
    val text = FuzzGen.sql(seed)
    Seq(FuzzArm(s"q_fuzz_$seed",
      (s, dir) => { Tables.registerAll(s, dir); s.sql(text) }, text))
  }

  /** The per-seed arms a family name selects; None for an unknown name. */
  private[graft] def arms(family: String): Option[Long => Seq[FuzzArm]] =
    family match {
      case "all" => Some(seed => FuzzFamilies.all.map(_.arm(seed)) ++ cdc(seed))
      case "recover" => Some(seed => FuzzFamilies.all.flatMap(_.recoverArm(seed)))
      case "cdc" => Some(cdc)
      case "sql" => Some(sql)
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
        (FuzzFamilies.all.map(_.name) ++ Seq("sql", "cdc", "recover", "all"))
          .mkString(", ")))
    val spark = DumpIO.session()
    val d = DumpIO.dump(spark, sfDir, outDir,
      (seed0 until seed0 + n).flatMap(armsOf))
    println(s"[fuzz] dumped ${d.ok.length} of " +
      s"${d.ok.length + d.failed.length} $family cases (${d.failed.length} " +
      s"failed on Spark, ${d.skipped.length} invalid seeds skipped), " +
      s"seeds $seed0..${seed0 + n - 1}")
    spark.stop()
    if (d.failed.nonEmpty) sys.exit(1)
  }
}
