package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DumpIO.session()
    // warmup: JIT + codegen + parquet footer caches, so the first timed
    // query isn't charged for session startup
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // dev-only subset filter (comma-separated names); driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = Seq.newBuilder[String]
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double) = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        // stderr only — stdout must stay exactly one JSON line. The
        // recorded duration is time-to-failure, so the key is also named
        // in the JSON's "failed" list: a crash must not read as a fast key
        System.err.println(s"[bench] $name failed: $e")
        failed += name
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // the b_ scale PROBES run LAST: the 64× octaves are ~300 s of wall by
    // design (growth IS the measurement), and interleaving them with the
    // q_ queries let their contention pollute per-query timings in the
    // driver's contended passes (r16 adjudication cost) — probes at the
    // tail can't touch any q_ number
    val (probes, queries) =
      selected.partition { case (n, _) => n.startsWith("b_") }
    val queryResults = queries.map { case (n, f) => timed(n, f) }
    // after every q_ number is banked
    val probeResults = probes.map { case (n, f) => timed(n, f) }
    val results = queryResults ++ probeResults
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the headline total counts only the oracle-checked q_ queries; the
    // b_ bench-only entries report per-query but don't shift the bar —
    // and carry their own total so the two pools are separable at a
    // glance (the probe pool is dominated by the deliberate 64× octaves)
    // every non-probe key must be an oracle-checked q_ entry: a future
    // third prefix slipping into the registry would otherwise silently
    // inflate the headline instead of being excluded
    require(queryResults.keys.forall(_.startsWith("q_")),
      s"non-q_ keys in the headline pool: " +
        queryResults.keys.filterNot(_.startsWith("q_")).mkString(","))
    val total = queryResults.values.sum
    val probeTotal = probeResults.values.sum
    val failedJson = failed.result().map("\"" + _ + "\"").mkString("[", ",", "]")
    // self-describing provenance: the actual master/parallelism this run
    // used (past rounds had to adjudicate whether a number came from
    // local[8]-under-contention or the host's 32 cpus)
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","total_queries":$total,"total_probes":$probeTotal,"queries":$qs,"failed":$failedJson,"sf":"$sfDir","master":"${spark.sparkContext.master}","parallelism":${spark.sparkContext.defaultParallelism},"stream_threads":1}"""
    // Persist the full JSON to a file for ad-hoc inspection, but print
    // EXACTLY ONE JSON line: the driver parses stdout for a single
    // {"metric",...,"queries":{...}} object, and a second summary line made
    // round 9's BENCH record unparseable.
    val outPath = sys.props.getOrElse("graft.bench.out",
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
        "bench_out.json").toString)
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath), full.getBytes("UTF-8"))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(full)
    spark.stop()
  }
}
