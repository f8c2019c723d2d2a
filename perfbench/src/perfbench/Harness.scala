package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** Outside-in benchmark harness: one JVM, one `local[cpus]` session, one
  * client thread, calling the engine's public entry points.
  *
  * {{{
  * Harness workload=tpc_sql data=<dir> out=<dir> plan=<file> seconds=12
  *         trace=0 cpus=4 setups=3 warm_passes=2 [fail=<key>]
  *         [schedule=<parquet> rate=<ev/s> gap_ms=<ms> watermark_ms=<ms> warm=<s>]
  * }}}
  *
  * Closed-loop workloads read their pass orders from `plan` (one pass per
  * line, keys comma-separated), run `warm_passes` untimed passes, then
  * whole passes until they have lasted `seconds`. A traced run traces
  * every other pass, so it carries its own overhead figure. `stream_open`
  * is the open-loop workload ([[OpenLoop]]). Every result lands in `out`: `result.json`, the
  * operations' outputs for the checker, and `spans.jsonl` when traced.
  */
object Harness {
  private val WarmKey = "q_join_inner"

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val cpus = a.getOrElse("cpus", "4").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val seconds = a("seconds").toDouble
    val data = a("data")
    val json = new Json

    // set-up is measured several times: the first starts the context (the
    // cold JVM), each later one opens a new session on it; every one
    // registers the tables and runs a first query
    val nSetups = a.getOrElse("setups", "3").toInt
    var spark: SparkSession = null
    val setups = (1 to nSetups).map { _ =>
      val t0 = System.nanoTime()
      val c0 = Host.cpuS()
      spark = if (spark == null) session(cpus, out) else spark.newSession()
      spark.sparkContext.setLogLevel("WARN")
      graft.Tables.registerAll(spark, data)
      graft.SparkEntry.queries(WarmKey)(spark, data).collect()
      ((System.nanoTime() - t0) / 1e9, Host.cpuS() - c0)
    }
    json.nums("setup_wall_s", setups.map(_._1))
    json.nums("setup_cpu_s", setups.map(_._2))
    Canary.run(cpus) // compiles the spin loop; not recorded
    val host0 = Host.cpuJiffies()
    val canary = Seq.newBuilder[Double]
    canary += Canary.run(cpus)

    a("workload") match {
      case "stream_open" =>
        val tracer = new Tracer(spark)
        val r = OpenLoop.run(spark, a("schedule"), a("rate").toDouble,
          a("gap_ms").toLong, a("watermark_ms").toLong, a("warm").toDouble, seconds, out,
          halfway = () => if (trace) tracer.install())
        json.raw("open", r.json)
        if (trace) {
          tracer.detach()
          // the traced half, with the drain and the closing flush, is one op
          val windowS = (r.doneMs - r.halfMs) / 1000.0
          val op = OpRecord(1, "stream_open", "traced", r.halfMs, r.doneMs,
            windowS, 0.0, r.emitted, "", "", r.codegenCompiles, r.codegenNs, 0.0)
          writeTrace(out, json, tracer, Seq(op), windowS, cpus)
        }
      case _ =>
        val passes = Files.readAllLines(Paths.get(a("plan"))).asScala
          .filter(_.nonEmpty).map(_.split(",").toSeq).iterator
        val loop = new ClosedLoop(spark, data, a.get("fail"))
        // untimed passes first: every key's first run pays JIT and codegen,
        // and the JIT keeps improving for another pass, so the measured
        // passes time the same warm work in every run
        (1 to a.getOrElse("warm_passes", "2").toInt).foreach(_ => loop.runPass(passes.next(), "warm"))
        // measured passes until `seconds` of them, at least two; a traced
        // run traces every other pass, so the passes between carry the
        // untraced times its overhead is taken against
        val tracer = new Tracer(spark)
        var measuredS, tracedS = 0.0
        var n = 0
        while (n < 2 || (measuredS < seconds && passes.hasNext)) {
          val traced = trace && n % 2 == 1
          if (traced) tracer.install()
          val t0 = System.nanoTime()
          loop.runPass(passes.next(), if (traced) "traced" else "measure")
          val dt = (System.nanoTime() - t0) / 1e9
          if (traced) { tracer.detach(); tracedS += dt }
          measuredS += dt
          if (n == 0) canary += Canary.run(cpus)
          n += 1
        }
        if (trace) writeTrace(out, json, tracer, loop.ops.filter(_.phase == "traced"), tracedS, cpus)
        loop.writeOutputs(out.resolve("outputs"))
        val oracles = graft.SparkEntry.oracleSql
        json.raw("oracles", loop.outputKeys.flatMap(k => oracles.get(k).map(sql =>
          s""""$k":"${Json.esc(sql)}"""")).mkString("{", ",", "}"))
        json.raw("ops", loop.ops.map(opJson).mkString("[", ",", "]"))
    }
    canary += Canary.run(cpus)
    json.nums("canary_s", canary.result())
    json.num("steal_frac", Host.stealSince(host0))
    json.num("peak_rss_mb", peakRssMb())
    Files.write(out.resolve("result.json"), json.render.getBytes(UTF_8))
    spark.stop()
    System.exit(0)
  }

  def session(cpus: Int, out: Path): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", out.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    .getOrCreate()

  private def writeTrace(out: Path, json: Json, tracer: Tracer,
      ops: Seq[OpRecord], windowS: Double, cpus: Int): Unit = {
    val spans = tracer.spans(ops)
    Files.write(out.resolve("spans.jsonl"), spans.map { s =>
      f"""{"id":${s.id},"name":"${Json.esc(s.name)}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }.asJava, UTF_8)
    json.raw("layers", Json.numMap(tracer.layers(ops, windowS, cpus)))
  }

  private def opJson(o: OpRecord): String =
    s"""{"id":${o.id},"key":"${o.key}","phase":"${o.phase}",""" +
      s""""start_ms":${o.startMs},"end_ms":${o.endMs},"wall_s":${o.wallS},""" +
      s""""build_s":${o.buildS},"cpu_s":${o.cpuS},"rows":${o.rows},"fp":"${o.fingerprint}",""" +
      s""""error":"${Json.esc(o.error)}"}"""

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  /** Codegen compile count and nanoseconds so far, JVM-wide. */
  def codegenNow(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
}

/** The closed loop: each operation builds one key's DataFrame and collects
  * it; failures are recorded, never retried, and never timed as a result.
  */
final class ClosedLoop(spark: SparkSession, data: String, fail: Option[String]) {
  private val fns = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnly
  private val done = Seq.newBuilder[OpRecord]
  private val lastRows = scala.collection.mutable.LinkedHashMap[String, (Array[Row], DataFrame)]()
  private var nextId = 0

  def ops: Seq[OpRecord] = done.result()
  def outputKeys: Seq[String] = lastRows.keys.toSeq

  def runPass(keys: Seq[String], phase: String): Unit =
    keys.foreach(k => done += runOp(k, phase))

  private def runOp(key: String, phase: String): OpRecord = {
    nextId += 1
    val id = nextId
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, id.toString)
    val (cc0, cn0) = Harness.codegenNow()
    val cpu0 = Host.cpuS()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    val (rows, error) =
      try {
        if (fail.contains(key)) throw new IllegalStateException(s"injected failure in $key")
        val df = fns(key)(spark, data)
        t1 = System.nanoTime()
        val rows = df.collect()
        if (key.startsWith("q_")) lastRows(key) = (rows, df)
        (rows, "")
      } catch {
        case e: Throwable => (Array.empty[Row], s"${e.getClass.getName}: ${e.getMessage}")
      }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    val (cc1, cn1) = Harness.codegenNow()
    OpRecord(id, key, phase, startMs, endMs, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
      rows.length, if (error.isEmpty) ClosedLoop.fingerprint(rows) else "",
      error, cc1 - cc0, cn1 - cn0, Host.cpuS() - cpu0)
  }

  /** The last result of each q_ key, as parquet, for the DuckDB comparison. */
  def writeOutputs(dir: Path): Unit = lastRows.foreach { case (key, (rows, df)) =>
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve(key).toString)
  }
}

object ClosedLoop {
  /** Order-insensitive digest of a result: every op of a key must agree. */
  def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes(UTF_8)); md.update(10.toByte) }
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

/** Contention canary: a fixed CPU-bound calibration on one thread per
  * core, best of three. It touches no Spark state, so its spread over a
  * run says whether the host, not the engine, was busy while it measured.
  */
object Canary {
  private def spin(n: Int): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def run(cpus: Int): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val threads = (1 to cpus).map { _ =>
      val t = new Thread(() => { if (spin(100000000) == 0) println() })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }.min
}

/** What the host gives the JVM: process CPU time, and the share of the
  * machine's CPU time the hypervisor stole from it (/proc/stat).
  */
object Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9

  def cpuJiffies(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  /** Stolen share of all CPU time since `from` (the 8th /proc/stat field). */
  def stealSince(from: Array[Long]): Double = {
    val d = cpuJiffies().zip(from).map { case (b, a) => b - a }
    if (d.length > 7 && d.sum > 0) d(7).toDouble / d.sum else 0.0
  }
}

/** Just enough JSON output for the result file. */
final class Json {
  private val fields = Seq.newBuilder[String]
  def num(k: String, v: Double): Unit = fields += s""""$k":${Json.n(v)}"""
  def nums(k: String, vs: Seq[Double]): Unit =
    fields += s""""$k":${vs.map(Json.n).mkString("[", ",", "]")}"""
  def raw(k: String, v: String): Unit = fields += s""""$k":$v"""
  def render: String = fields.result().mkString("{", ",", "}")
}

object Json {
  def n(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def numMap(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${n(v)}""" }.mkString("{", ",", "}")
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
