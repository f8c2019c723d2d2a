package graft

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Q.QFn
import perfbench.{Canary, Harness, Host, Json, OpRecord, Tracer}

/** The perf surface and the one timing loop: every key is timed
  * as `fn(spark, sfDir).count()`, the build (the query-function call —
  * for a replay key, the whole replay) apart from the count, under its
  * own perfbench [[Tracer]], whose per-layer metrics (Catalyst phases,
  * codegen, jobs/stages/tasks, shuffle, micro-batch components, state
  * store) are the key's layers.
  *
  * stdout is EXACTLY ONE JSON line (also written to bench_out.json); the
  * per-key layers go to bench_layers.json next to it, with the contention
  * canary's seconds before and after the pool and the host's steal share
  * over it. SPARK_GRAFT_ONLY (comma-separated names, dev only) times a
  * subset.
  */
object Bench {

  /** One key's layers: build and action wall seconds, the Tracer's
    * per-layer metrics (the `per_layer` names of BENCHMARK.json),
    * `incomplete` when the key left a streaming query running, the
    * error of a failed key, and the [[planSha]] of a built one.
    */
  final case class Layers(buildS: Double, actionS: Double,
      layers: Map[String, Double], incomplete: Boolean,
      error: Option[String], planSha: Option[String])

  /** The bench_layers.json record: the warm-up's `SparkEntry.entry` row
    * count (or its error), the canary's seconds before and after the
    * pool, the stolen share of the host's CPU time over the pool, and
    * each timed key's [[Layers]], in run order.
    */
  final case class Sidecar(entryRows: Either[String, Long],
      canaryS: Seq[Double], stealFrac: Double,
      keys: Seq[(String, Layers)]) {
    def json: String = {
      import DumpIO.jsonString
      val entry = entryRows.fold(e => s""""entry_error":${jsonString(e)}""",
        n => s""""entry_rows":$n""")
      val ks = keys.map { case (k, l) =>
        jsonString(k) + s""":{"build_s":${l.buildS},"action_s":${l.actionS},""" +
          s""""layers":${Json.numMap(l.layers)}""" +
          (if (l.incomplete) ""","incomplete":true""" else "") +
          l.planSha.fold("")(h => s""","plan_sha":"$h"""") +
          l.error.fold("")(e => s""","error":${jsonString(e)}""") + "}"
      }.mkString("{", ",", "}")
      s"""{$entry,"canary_s":${canaryS.map(Json.n).mkString("[", ",", "]")},""" +
        s""""steal_frac":${Json.n(stealFrac)},"keys":$ks}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = DumpIO.session()
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val (line, sidecar) = run(spark, sfDir, selected)
    // Persist the line and the sidecar for inspection, but print EXACTLY
    // ONE JSON line: stdout is parsed as a single
    // {"metric",...,"queries":{...}} object, and a second summary line made
    // round 9's BENCH record unparseable.
    val outPath = java.nio.file.Paths.get(sys.props.getOrElse("graft.bench.out",
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
        "bench_out.json").toString))
    for ((path, text) <- Seq(outPath -> line,
        outPath.resolveSibling("bench_layers.json") -> sidecar.json)) {
      try java.nio.file.Files.write(path, text.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $path: $e")
      }
    }
    println(line)
    spark.stop()
  }

  /** Times `selected` on `spark` against `sfDir`; returns the stdout
    * JSON line and the per-key [[Sidecar]].
    */
  def run(spark: SparkSession, sfDir: String,
      selected: Map[String, QFn]): (String, Sidecar) = {
    val sc = spark.sparkContext
    val cpus = sc.defaultParallelism
    // warmup: JIT + codegen, so the first timed query isn't charged for
    // session startup. It reads sf0.001, so it loads none of the timed
    // run's tables unless sfDir is sf0.001 too.
    val entryRows: Either[String, Long] =
      try Right(SparkEntry.entry(spark).count()) catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up SparkEntry.entry failed: $e")
        Left(e.toString)
      }
    val layers = Seq.newBuilder[(String, Layers)]
    var nextId = 0
    def timed(name: String, fn: QFn): (String, Double) = {
      nextId += 1
      val tracer = new Tracer(spark)
      sc.setLocalProperty(Tracer.OpProperty, nextId.toString)
      tracer.install()
      val (compiles0, compileNs0) = Harness.codegenNow()
      val cpu0 = Host.cpuS()
      val startMs = System.currentTimeMillis()
      var built = -1L
      var df: DataFrame = null
      var rows = 0L
      val t0 = System.nanoTime()
      val error =
        try {
          df = fn(spark, sfDir)
          built = System.nanoTime()
          rows = df.count()
          None
        } catch { case e: Throwable =>
          // stderr only — stdout must stay exactly one JSON line. The
          // recorded duration is time-to-failure, so the key is also named
          // in the JSON's "failed" list: a crash must not read as a fast key
          System.err.println(s"[bench] $name failed: $e")
          Some(e.toString)
        }
      val t1 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val cpuS = Host.cpuS() - cpu0
      val (compiles1, compileNs1) = Harness.codegenNow()
      sc.setLocalProperty(Tracer.OpProperty, null)
      // outside the timed region: the key's trace is complete once the
      // listener bus has delivered every event its jobs and runs posted
      detach(tracer)
      if (built < 0) built = t1
      val wallS = (t1 - t0) / 1e9
      val op = OpRecord(nextId, name, "bench", startMs, endMs, wallS,
        (built - t0) / 1e9, rows, "", error.getOrElse(""),
        compiles1 - compiles0, compileNs1 - compileNs0, cpuS)
      // keys run one at a time on a session with no active query, so a
      // query still active now was started by this key and never stopped
      val leaked = spark.streams.active.nonEmpty
      if (leaked)
        System.err.println(s"[bench] $name left a streaming query running")
      layers += name -> Layers((built - t0) / 1e9, (t1 - built) / 1e9,
        tracer.layers(Seq(op), wallS, cpus), leaked, error,
        Option(df).flatMap(d => scala.util.Try(planSha(d)).toOption))
      name -> wallS
    }
    // the b_ scale PROBES run LAST: the 64× octaves are ~300 s of wall by
    // design (growth IS the measurement), and interleaving them with the
    // q_ queries let their contention pollute per-query timings in the
    // driver's contended passes (r16 adjudication cost) — probes at the
    // tail can't touch any q_ number
    val (probes, queries) =
      selected.partition { case (n, _) => n.startsWith("b_") }
    val canaryBefore = Canary.run(cpus)
    val host0 = Host.cpuJiffies()
    val queryResults = queries.map { case (n, f) => timed(n, f) }
    // after every q_ number is banked
    val probeResults = probes.map { case (n, f) => timed(n, f) }
    val stealFrac = Host.stealSince(host0)
    val canaryAfter = Canary.run(cpus)
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
    val timedLayers = layers.result()
    val failedJson = timedLayers.collect { case (k, l) if l.error.nonEmpty =>
      "\"" + k + "\"" }.mkString("[", ",", "]")
    // self-describing provenance: the actual master/parallelism this run
    // used (past rounds had to adjudicate whether a number came from
    // local[8]-under-contention or the host's 32 cpus)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","total_queries":$total,"total_probes":$probeTotal,"queries":$qs,"failed":$failedJson,"sf":"$sfDir","master":"${sc.master}","parallelism":${sc.defaultParallelism},"stream_threads":1}"""
    (line, Sidecar(entryRows, Seq(canaryBefore, canaryAfter), stealFrac,
      timedLayers))
  }

  /** A fingerprint of `df`'s physical plan before exchange planning and
    * AQE: the sha256 of `sparkPlan`'s tree string with expression ids
    * (`#12`) and plan ids (`plan_id=3`) removed, so two builds that plan
    * a key alike give the same hex. What differs between two runs of one
    * build goes too: lambda class names (`$Lambda$7601/0x7fe3…`),
    * identity hashes (`@6dd30df3`) and file locations (a key's scratch
    * dir has a random name).
    */
  def planSha(df: DataFrame): String = {
    val tree = df.queryExecution.sparkPlan.treeString
      .replaceAll("#\\d+|plan_id=\\d+", "")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+|@[0-9a-f]+\\b|file:[^,\\[\\]]*\\]?", "")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(tree.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Detaches `tracer` once the listener bus is empty. Spark bounds one
    * drain at 10 s; a longer backlog is drained again rather than cutting
    * the key's trace short or failing the run.
    */
  @annotation.tailrec
  private def detach(tracer: Tracer): Unit = {
    val drained =
      try { tracer.detach(); true }
      catch { case _: TimeoutException => false }
    if (!drained) detach(tracer)
  }
}
