package graft

/** The harness cannot report a failed query as a fast one: [[Bench.run]]
  * names a throwing key in the line's `failed` list, keeps the line to
  * one line, and its sidecar accounts for every key — build and action
  * inside the recorded time, jobs where the key ran any, micro-batches
  * only where a streaming run was started, each under a per_layer name
  * of BENCHMARK.json — records the canary before and after the pool,
  * and leaves the session's streaming listeners as it found them.
  */
class BenchSpec extends SparkSuite {

  test("Bench.run names the failed key and records every key's layers") {
    val selected = Map[String, graft.queries.Q.QFn](
      "q_join_inner" -> SparkEntry.queries("q_join_inner"),
      "q_stream_tumble" -> SparkEntry.queries("q_stream_tumble"),
      "q_boom" -> ((_, _) => throw new IllegalStateException("boom")))
    val listeners = spark.streams.listListeners().toSeq
    val (line, sidecar) = Bench.run(spark, "/root/testdata/sf0.001", selected)
    assert(spark.streams.listListeners().toSeq == listeners)

    assert(!line.contains('\n'))
    assert(line.contains("\"failed\":[\"q_boom\"]"), line)
    assert(sidecar.entryRows.exists(_ > 0), sidecar.entryRows)
    val layers = sidecar.keys.toMap
    assert(layers.keySet == selected.keySet)
    assert(layers("q_stream_tumble").layers("stream.batches") >= 2,
      layers("q_stream_tumble"))
    assert(layers("q_join_inner").layers("stream.batches") == 0)
    assert(layers("q_join_inner").layers("spark.jobs") >= 1,
      layers("q_join_inner"))
    assert(layers("q_boom").error.exists(_.contains("boom")))
    assert(layers.values.forall(!_.incomplete))
    for ((k, l) <- layers) {
      val recorded = ("\"" + k + "\":([0-9.E-]+)").r
        .findFirstMatchIn(line).get.group(1).toDouble
      // 1e-9: the two halves are converted to seconds separately
      assert(l.buildS + l.actionS <= recorded + 1e-9, s"$k: $l vs $recorded")
    }
    assert(sidecar.canaryS.size == 2, sidecar.canaryS)
    // one harness: every layer is one of the benchmark's per_layer names
    val benchmark = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8")
    val perLayer = "\"name\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(benchmark.drop(benchmark.indexOf("\"per_layer\"")))
      .map(_.group(1)).toSet
    val names = layers.values.flatMap(_.layers.keySet).toSet
    assert(names.nonEmpty && names.subsetOf(perLayer), names -- perLayer)
  }
}
