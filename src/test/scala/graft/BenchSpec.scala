package graft

/** The harness cannot report a failed query as a fast one: [[Bench.run]]
  * names a throwing key in the line's `failed` list, keeps the line to
  * one line, and its sidecar accounts for every key — build and action
  * inside the recorded time, micro-batches only where a streaming run
  * was started — leaving the session's streaming listeners as it found
  * them.
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
    assert(layers("q_stream_tumble").batches >= 2, layers("q_stream_tumble"))
    assert(layers("q_join_inner").batches == 0)
    assert(layers("q_boom").error.exists(_.contains("boom")))
    assert(layers.values.forall(!_.incomplete))
    for ((k, l) <- layers) {
      val recorded = ("\"" + k + "\":([0-9.E-]+)").r
        .findFirstMatchIn(line).get.group(1).toDouble
      // 1e-9: the two halves are converted to seconds separately
      assert(l.buildS + l.actionS <= recorded + 1e-9, s"$k: $l vs $recorded")
    }
  }
}
