package graft.streaming

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

import graft.SparkSuite
import StatefulOps._

/** MemoryStream-driven specs for the transformWithState operators — the
  * analogue of the reference's operator test harnesses
  * (flink-table-runtime/src/test/java/.../operators/...Test.java): feed
  * elements batch by batch, assert the emitted (changelog) output.
  */
class StatefulOpsSpec extends SparkSuite {
  import spark.implicits._

  /** Run a streaming Dataset to a memory sink, feeding `batches` one
    * micro-batch at a time; returns the rows emitted per batch.
    */
  def runBatches[I: org.apache.spark.sql.Encoder, O](
      batches: Seq[Seq[I]],
      pipeline: Dataset[I] => Dataset[O]): Seq[Seq[O]] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[I]
    val out = pipeline(input.toDS())
    val name = s"sink_${System.nanoTime()}"
    val query = out.writeStream
      .format("memory").queryName(name)
      .outputMode("update")
      .option("checkpointLocation", tmpDir("ckpt"))
      .start()
    try {
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[O]]
      var seen = 0L
      batches.foreach { b =>
        input.addData(b)
        query.processAllAvailable()
        val all = spark.table(name).as[O](out.encoder).collect().toSeq
        emitted += all.drop(seen.toInt)
        seen = all.length
      }
      emitted.toSeq
    } finally query.stop()
  }

  test("keep-first dedup emits only the first row per key") {
    val batches = Seq(
      Seq(Ranked("a", 1, 10), Ranked("b", 2, 20)),
      Seq(Ranked("a", 3, 5), Ranked("c", 4, 1)),
      Seq(Ranked("b", 5, 9)))
    val out = runBatches[Ranked, Ranked](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new KeepFirstProcessor[String, Ranked](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).toSet == Set(Ranked("a", 1, 10), Ranked("b", 2, 20)))
    assert(out(1).toSet == Set(Ranked("c", 4, 1))) // a already seen
    assert(out(2).isEmpty)                          // b already seen
  }

  test("keep-last dedup emits -U/+U retractions (ChangelogNormalize)") {
    val batches = Seq(
      Seq(Ranked("a", 1, 10)),
      Seq(Ranked("a", 2, 20), Ranked("b", 3, 30)))
    // rows in, `__rowkind` + row out
    val out = runBatches[Ranked, Row](batches,
      ds => StreamingRank.keepLastRows(ds.toDF(), Seq("key")))
    assert(out(0) == Seq(Row(Changelog.Insert, "a", 1L, 10L)))
    assert(out(1).toSet == Set(
      Row(Changelog.UpdateBefore, "a", 1L, 10L),
      Row(Changelog.UpdateAfter, "a", 2L, 20L),
      Row(Changelog.Insert, "b", 3L, 30L)))
  }

  test("retractable sum: +I, -U/+U, and -D on empty group (RecordCounter)") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 5L)),
      Seq(Change(Changelog.Insert, "k", 7L)),
      Seq(Change(Changelog.Delete, "k", 5L)),
      Seq(Change(Changelog.Delete, "k", 7L)))
    val out = runBatches[Change[String, Long], Change[String, AggResult[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractSumProcessor[String, Long](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0) == Seq(Change(Changelog.Insert, "k", AggResult("k", 5, 1))))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", AggResult("k", 5, 1)),
      Change(Changelog.UpdateAfter, "k", AggResult("k", 12, 2))))
    assert(out(2) == Seq(
      Change(Changelog.UpdateBefore, "k", AggResult("k", 12, 2)),
      Change(Changelog.UpdateAfter, "k", AggResult("k", 7, 1))))
    // group emptied: delete, then state cleared
    assert(out(3) == Seq(Change(Changelog.Delete, "k", AggResult("k", 7, 1))))
  }

  test("mini-batch mode: one protocol step per key per batch, same fold") {
    def run(mini: Boolean, batches: Seq[Seq[Change[String, Long]]]) =
      runBatches[Change[String, Long], Change[String, AggResult[String, Long]]](batches,
        ds => ds.groupByKey(_.key)
          .transformWithState(new RetractSumProcessor[String, Long](mini),
            TimeMode.None(), OutputMode.Update()))
    // 100 inserts for one key in one batch: per-record emits 199 rows,
    // mini-batch exactly 1 (+I of the folded accumulator)
    val big = Seq((1L to 100L).map(v => Change(Changelog.Insert, "k", v)))
    val perRec = run(mini = false, big)
    val miniB = run(mini = true, big)
    assert(perRec(0).length == 199)
    assert(miniB(0) == Seq(Change(Changelog.Insert, "k", AggResult("k", 5050L, 100L))))
    // created AND emptied within one batch leaves no trace
    val churn = Seq(Seq(
      Change(Changelog.Insert, "k", 4L), Change(Changelog.Delete, "k", 4L)))
    assert(run(mini = true, churn)(0).isEmpty)
    // unchanged accumulator (insert 3 + delete 3 around existing state)
    // emits nothing: no-op -U/+U suppression
    val noop = Seq(
      Seq(Change(Changelog.Insert, "k", 8L)),
      Seq(Change(Changelog.Insert, "k", 3L), Change(Changelog.Delete, "k", 3L)))
    assert(run(mini = true, noop)(1).isEmpty)
    // random changelogs: both modes fold to the same end state
    val rnd = new scala.util.Random(5)
    val mixed = (0 until 4).map { _ =>
      (0 until 30).map { _ =>
        val key = s"k${rnd.nextInt(3)}"
        if (rnd.nextBoolean()) Change(Changelog.Insert, key, rnd.nextInt(50).toLong)
        else Change(Changelog.Delete, key, rnd.nextInt(50).toLong)
      }
    }
    def fold(out: Seq[Seq[Change[String, AggResult[String, Long]]]]) =
      out.flatten.foldLeft(Map.empty[String, AggResult[String, Long]]) {
        case (m, c) =>
          if (Changelog.isAdd(c.kind)) m + (c.key -> c.value)
          else if (c.kind == Changelog.Delete) m - c.key
          else m // -U: superseded by the paired +U
      }
    assert(fold(run(mini = false, mixed)) == fold(run(mini = true, mixed)))
  }

  test("retractable sum state clears: re-insert after -D starts fresh") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 3L)),
      Seq(Change(Changelog.Delete, "k", 3L)),
      Seq(Change(Changelog.Insert, "k", 9L)))
    val out = runBatches[Change[String, Long], Change[String, AggResult[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractSumProcessor[String, Long](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(2) == Seq(Change(Changelog.Insert, "k", AggResult("k", 9, 1))))
  }

  test("retractable sum is generic: BigDecimal measure, composite key") {
    val k = ("emea", "gold")
    def d(s: String) = BigDecimal(s)
    val batches = Seq(
      Seq(Change(Changelog.Insert, k, d("10.25"))),
      Seq(Change(Changelog.Insert, k, d("0.50"))),
      Seq(Change(Changelog.Delete, k, d("10.25"))))
    val out = runBatches[Change[(String, String), BigDecimal],
        Change[(String, String), AggResult[(String, String), BigDecimal]]](
      batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(
          new RetractSumProcessor[(String, String), BigDecimal](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0) == Seq(Change(Changelog.Insert, k, AggResult(k, d("10.25"), 1))))
    // exact decimal arithmetic through state round-trips, no double drift
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, k, AggResult(k, d("10.25"), 1)),
      Change(Changelog.UpdateAfter, k, AggResult(k, d("10.75"), 2))))
    assert(out(2) == Seq(
      Change(Changelog.UpdateBefore, k, AggResult(k, d("10.75"), 2)),
      Change(Changelog.UpdateAfter, k, AggResult(k, d("0.50"), 1))))
  }

  test("min-with-retract is generic: String measure under its ordering") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", "pear"), Change(Changelog.Insert, "k", "apple")),
      Seq(Change(Changelog.Delete, "k", "apple"))) // min leaves → recompute
    val out = runBatches[Change[String, String], Change[String, MinMaxResult[String, String]]](
      batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractMinMaxProcessor[String, String](isMax = false),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).last == Change(Changelog.UpdateAfter, "k", MinMaxResult("k", "apple", 2)))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", MinMaxResult("k", "apple", 2)),
      Change(Changelog.UpdateAfter, "k", MinMaxResult("k", "pear", 1))))
  }

  test("max-with-retract: retracting the max recomputes from remaining values") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 5L)),
      Seq(Change(Changelog.Insert, "k", 9L), Change(Changelog.Insert, "k", 7L)),
      Seq(Change(Changelog.Delete, "k", 9L)), // max leaves → recompute to 7
      Seq(Change(Changelog.Delete, "k", 7L), Change(Changelog.Delete, "k", 5L)))
    val out = runBatches[Change[String, Long], Change[String, MinMaxResult[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractMinMaxProcessor[String, Long](isMax = true),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0) == Seq(Change(Changelog.Insert, "k", MinMaxResult("k", 5, 1))))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", MinMaxResult("k", 5, 1)),
      Change(Changelog.UpdateAfter, "k", MinMaxResult("k", 9, 2)),
      Change(Changelog.UpdateBefore, "k", MinMaxResult("k", 9, 2)),
      Change(Changelog.UpdateAfter, "k", MinMaxResult("k", 9, 3))))
    assert(out(2) == Seq(
      Change(Changelog.UpdateBefore, "k", MinMaxResult("k", 9, 3)),
      Change(Changelog.UpdateAfter, "k", MinMaxResult("k", 7, 2))))
    // group drains: last change is the delete carrying the final state
    assert(out(3).last == Change(Changelog.Delete, "k", MinMaxResult("k", 5, 1)))
  }

  test("min-with-retract: duplicate minimum survives one retraction") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 3L), Change(Changelog.Insert, "k", 3L),
        Change(Changelog.Insert, "k", 8L)),
      Seq(Change(Changelog.Delete, "k", 3L))) // one of two 3s: min stays 3
    val out = runBatches[Change[String, Long], Change[String, MinMaxResult[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractMinMaxProcessor[String, Long](isMax = false),
          TimeMode.None(), OutputMode.Update()))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", MinMaxResult("k", 3, 3)),
      Change(Changelog.UpdateAfter, "k", MinMaxResult("k", 3, 2))))
  }

  test("min-with-retract drops retractions for absent groups and values") {
    val batches = Seq(
      Seq(Change(Changelog.Delete, "k", 5L)), // absent group
      Seq(Change(Changelog.Insert, "k", 5L)),
      Seq(Change(Changelog.Delete, "k", 42L))) // never-inserted value
    val out = runBatches[Change[String, Long], Change[String, MinMaxResult[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractMinMaxProcessor[String, Long](isMax = false),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).isEmpty)
    assert(out(2).isEmpty)
  }

  test("avg-with-retract emits running quotients and -D on empty") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 4L), Change(Changelog.Insert, "k", 8L)),
      Seq(Change(Changelog.Delete, "k", 4L)),
      Seq(Change(Changelog.Delete, "k", 8L)))
    val out = runBatches[Change[String, Long], Change[String, AvgResult[String]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractAvgProcessor[String, Long](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).last == Change(Changelog.UpdateAfter, "k", AvgResult("k", 6.0, 2)))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", AvgResult("k", 6.0, 2)),
      Change(Changelog.UpdateAfter, "k", AvgResult("k", 8.0, 1))))
    assert(out(2) == Seq(Change(Changelog.Delete, "k", AvgResult("k", 8.0, 1))))
  }

  test("first/last-value-with-retract recompute when the extreme leaves") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 10L), Change(Changelog.Insert, "k", 20L),
        Change(Changelog.Insert, "k", 30L)),
      Seq(Change(Changelog.Delete, "k", 10L))) // first arrival leaves
    val firsts = runBatches[Change[String, Long], Change[String, OrderedValue[String, Long]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractFirstLastProcessor[String, Long](first = true),
          TimeMode.None(), OutputMode.Update()))
    // after retracting the first arrival (10), FIRST_VALUE becomes 20
    assert(firsts(1) == Seq(
      Change(Changelog.UpdateBefore, "k", OrderedValue("k", 10L, 3)),
      Change(Changelog.UpdateAfter, "k", OrderedValue("k", 20L, 2))))
    val lasts = runBatches[Change[String, Long], Change[String, OrderedValue[String, Long]]](
      Seq(Seq(Change(Changelog.Insert, "k", 10L), Change(Changelog.Insert, "k", 20L)),
        Seq(Change(Changelog.Delete, "k", 20L))),
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractFirstLastProcessor[String, Long](first = false),
          TimeMode.None(), OutputMode.Update()))
    // LAST_VALUE falls back to 10 when the newest arrival is retracted
    assert(lasts(1) == Seq(
      Change(Changelog.UpdateBefore, "k", OrderedValue("k", 20L, 2)),
      Change(Changelog.UpdateAfter, "k", OrderedValue("k", 10L, 1))))
  }

  test("listagg-with-retract removes the first occurrence") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", "a"), Change(Changelog.Insert, "k", "b"),
        Change(Changelog.Insert, "k", "a")),
      Seq(Change(Changelog.Delete, "k", "a")), // first 'a' leaves → "b,a"
      Seq(Change(Changelog.Delete, "k", "b"), Change(Changelog.Delete, "k", "a")))
    val out = runBatches[Change[String, String], Change[String, ListAggResult[String]]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new RetractListAggProcessor[String](),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).last == Change(Changelog.UpdateAfter, "k", ListAggResult("k", "a,b,a", 3)))
    assert(out(1) == Seq(
      Change(Changelog.UpdateBefore, "k", ListAggResult("k", "a,b,a", 3)),
      Change(Changelog.UpdateAfter, "k", ListAggResult("k", "b,a", 2))))
    assert(out(2).last == Change(Changelog.Delete, "k", ListAggResult("k", "a", 1)))
  }

  test("append-only top-n emits +I on entry and -D on eviction") {
    val batches = Seq(
      Seq(Ranked("k", 1, 30), Ranked("k", 2, 10)),
      Seq(Ranked("k", 3, 20)),  // evicts sort=30
      Seq(Ranked("k", 4, 50))) // outside top-2: no output
    val out = runBatches[Ranked, Change[String, Ranked]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new AppendOnlyTopNProcessor(2),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).toSet == Set(
      Change(Changelog.Insert, "k", Ranked("k", 1, 30)),
      Change(Changelog.Insert, "k", Ranked("k", 2, 10))))
    assert(out(1).toSet == Set(
      Change(Changelog.Insert, "k", Ranked("k", 3, 20)),
      Change(Changelog.Delete, "k", Ranked("k", 1, 30))))
    assert(out(2).isEmpty)
  }

  test("count window emits one aggregate per `size` rows per key") {
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 1L), Change(Changelog.Insert, "k", 2L)),
      Seq(Change(Changelog.Insert, "k", 3L)),
      Seq(Change(Changelog.Insert, "k", 4L), Change(Changelog.Insert, "k", 5L),
        Change(Changelog.Insert, "k", 6L), Change(Changelog.Insert, "x", 9L)))
    val out = runBatches[Change[String, Long], CountWindowResult](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new CountWindowProcessor(3),
          TimeMode.None(), OutputMode.Update()))
    assert(out(0).isEmpty)
    assert(out(1) == Seq(CountWindowResult("k", 0, 6, 3)))
    assert(out(2) == Seq(CountWindowResult("k", 1, 15, 3)))
  }

  test("event-time TTL dedup: a first re-emits after the gap, not within it") {
    def in(ms: Long, id: Long) = TtlIn("k", new java.sql.Timestamp(ms), id)
    val out = runBatches[TtlIn, TtlIn](Seq(
      Seq(in(1000L, 1), in(2000L, 2)),  // 1 is first; 2 within ttl
      Seq(in(9000L, 3)),                // gap 7000 > ttl 5000: first again
      Seq(in(12000L, 4))),              // gap 3000: suppressed
      ds => ds.withWatermark("ts", "1 second").as[TtlIn]
        .groupByKey(_.key)
        .transformWithState(new KeepFirstTtlProcessor(5000L),
          TimeMode.EventTime(), OutputMode.Append()))
    assert(out.flatten.map(_.id) == Seq(1L, 3L))
  }

  test("sliding count window fires every `slide` rows over the last `size`") {
    // size 3, slide 2: fire at rows 2, 4, 6 with the trailing ≤3 values
    val batches = Seq(
      Seq(Change(Changelog.Insert, "k", 1L), Change(Changelog.Insert, "k", 2L),
        Change(Changelog.Insert, "k", 3L)),
      Seq(Change(Changelog.Insert, "k", 4L), Change(Changelog.Insert, "k", 5L),
        Change(Changelog.Insert, "k", 6L), Change(Changelog.Insert, "x", 9L)))
    val out = runBatches[Change[String, Long], CountSlideResult](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new CountSlideProcessor(3, 2),
          TimeMode.None(), OutputMode.Update()))
    // fire 1: rows (1,2) — window not yet full, evictor keeps what exists
    assert(out(0) == Seq(CountSlideResult("k", 1, 3, 2)))
    // fires at rows 4 and 6: last three values each time; x never fires
    assert(out(1).toSet == Set(CountSlideResult("k", 2, 9, 3),
      CountSlideResult("k", 3, 15, 3)))
  }

  test("split distinct: multiplicity guards retraction; shards fold to the total") {
    // group g's values shard across 2 buckets; value 10 arrives twice —
    // one retraction must NOT drop it from the distinct set
    val b = (v: Long) => (v % 2).toInt
    val batches = Seq(
      Seq(SplitIn("g", b(10), 10, Changelog.Insert),
        SplitIn("g", b(11), 11, Changelog.Insert),
        SplitIn("g", b(10), 10, Changelog.Insert)),
      Seq(SplitIn("g", b(10), 10, Changelog.Delete)),  // copy 1 of 2: no change
      Seq(SplitIn("g", b(10), 10, Changelog.Delete)),  // last copy: distinct drops
      Seq(SplitIn("g", b(12), 12, Changelog.Delete)))  // absent value: no-op
    val out = runBatches[SplitIn, Change[String, Long]](batches,
      ds => ds.groupByKey(r => s"${r.group}|${r.bucket}")
        .transformWithState(new SplitDistinctProcessor,
          TimeMode.None(), OutputMode.Update()))
    // batch 1: bucket 0 goes 0->1 (value 10), bucket 1 goes 0->1 (value
    // 11) — TWO shard rows, one per (group, bucket) key
    assert(out(0).length == 2)
    assert(out(0).forall(_ == Change(Changelog.UpdateAfter, "g", 1L)))
    assert(out(1).isEmpty)
    assert(out(2) == Seq(Change(Changelog.UpdateBefore, "g", 1L)))
    assert(out(3).isEmpty)
    // folding the changelog as RetractSumProcessor would (add on +I/+U,
    // subtract on -U/-D) leaves COUNT(DISTINCT) = 1 (value 11)
    val total = out.flatten.map {
      case Change(k, _, v) if Changelog.isAdd(k) => v
      case Change(_, _, v) => -v
    }.sum
    assert(total == 1L)
  }

  test("fast top-1 keeps O(1) state and emits -U/+U on dethroning only") {
    val batches = Seq(
      Seq(Ranked("k", 1, 50), Ranked("k", 2, 30)), // 2 dethrones 1 in-batch
      Seq(Ranked("k", 3, 40), Ranked("x", 9, 7)),  // 3 worse: silent
      Seq(Ranked("k", 4, 30)))                     // ties on sort: id 2 < 4 holds
    val out = runBatches[Ranked, Change[String, Ranked]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new FastTop1Processor,
          TimeMode.None(), OutputMode.Update()))
    assert(out(0) == Seq(
      Change(Changelog.Insert, "k", Ranked("k", 1, 50)),
      Change(Changelog.UpdateBefore, "k", Ranked("k", 1, 50)),
      Change(Changelog.UpdateAfter, "k", Ranked("k", 2, 30))))
    assert(out(1) == Seq(Change(Changelog.Insert, "x", Ranked("x", 9, 7))))
    assert(out(2).isEmpty)
  }

  test("append-only first-n emits exactly the first n arrivals per key") {
    val batches = Seq(
      Seq(Ranked("k", 1, 9), Ranked("k", 2, 1), Ranked("k", 3, 5)),
      Seq(Ranked("k", 4, 0), Ranked("z", 5, 2)))
    val out = runBatches[Ranked, Change[String, Ranked]](batches,
      ds => ds.groupByKey(_.key)
        .transformWithState(new AppendOnlyFirstNProcessor(2),
          TimeMode.None(), OutputMode.Update()))
    // arrival order wins, not sort order: 1 then 2; 3 and 4 are dropped
    assert(out(0) == Seq(
      Change(Changelog.Insert, "k", Ranked("k", 1, 9)),
      Change(Changelog.Insert, "k", Ranked("k", 2, 1))))
    assert(out(1) == Seq(Change(Changelog.Insert, "z", Ranked("z", 5, 2))))
  }

  test("changelog materialize folds emitted stream to final table") {
    import org.apache.spark.sql.functions._
    val changelog = Seq(
      (Changelog.Insert, "a", 1L, 1L),
      (Changelog.UpdateBefore, "a", 1L, 2L),
      (Changelog.UpdateAfter, "a", 5L, 3L),
      (Changelog.Insert, "b", 7L, 4L),
      (Changelog.Delete, "b", 7L, 5L)
    ).toDF(Changelog.RowKindCol, "k", "v", "seq")
    val result = Changelog.materialize(changelog, Seq("k"), "seq")
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(result == Set(("a", 5L)))
  }
}
