package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.queries.FuzzArm

/** Shared plumbing for every main ([[Verify]], [[Bench]], [[FuzzDump]],
  * [[PlanDump]]): the one SparkSession recipe (local[SPARK_GRAFT_CPUS],
  * default 4, session time zone UTC) and the one dump loop writing the
  * `dev/check.py` layout (per-query parquet + oracle_sql.json).
  */
private[graft] object DumpIO {

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** What [[dump]] did with each arm, by name. */
  final case class Dumped(ok: Seq[String], failed: Seq[String],
      skipped: Seq[String])

  /** The one dump loop ([[Verify]], [[FuzzDump]]): each arm's result →
    * `<outDir>/<name>` as one parquet file (overwrite), then
    * oracle_sql.json with the oracle of every arm that was not skipped.
    * A failed arm keeps its oracle, so `dev/check.py` reports it as
    * missing output instead of dropping it from the count. An arm whose
    * `skip` names a reason gets neither parquet nor oracle.
    */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      arms: Seq[FuzzArm]): Dumped = {
    new java.io.File(outDir).mkdirs()
    val ok, failed, skipped = Seq.newBuilder[String]
    val oracle = arms.flatMap { a =>
      a.skip(spark, sfDir) match {
        case Some(reason) =>
          System.err.println(s"[dump] ${a.name} skipped (invalid seed: $reason)")
          skipped += a.name
          None
        case None =>
          try {
            a.run(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/${a.name}")
            ok += a.name
          } catch { case e: Throwable =>
            // `$e`, not e.getMessage: the message is null for some exceptions
            System.err.println(s"[dump] ${a.name} failed: $e")
            failed += a.name
          }
          Some(s"${jsonString(a.name)}: ${jsonString(a.oracleSql)}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracle.mkString("{", ",", "}"))
    Dumped(ok.result(), failed.result(), skipped.result())
  }

  /** Minimal JSON string escaping (names, SQL and error text — no
    * nesting, no numbers) for every JSON file a main writes.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
