package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreWriter
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, TimeMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.Tables
import graft.queries.Q._
import graft.cep.{CEP, Pattern}
import graft.sources.UpsertSink
import graft.streaming.{AllowedLateness, Changelog, CoGroup, OuterJoin, ProcTimeJoin, ProcessOps, SessionWindows, StatefulOps, StreamingRank, TemporalJoin, WatermarkMux}

/** Streaming oracle parity — driver-visible proof that the stateful
  * streaming operators produce the SAME table a batch query does, through
  * the DuckDB oracle rather than ScalaTest alone.
  *
  * Each query REPLAYS a testdata table through a MemoryStream in several
  * micro-batches, runs the streaming operator under test, accumulates its
  * emitted changelog in a memory sink, and folds that changelog to the
  * end-state table (an order-insensitive multiset reduction: +I/+U count
  * +1, -U/-D count −1; rows with net count 1 survive — equivalent to
  * [[Changelog.materialize]] but needing no emission sequence). The batch
  * oracle never sees the stream: if the operator's incremental state
  * machine is wrong, the fold diverges from the oracle and the row goes
  * red.
  *
  * The driver-side collect feeds the REPLAY HARNESS only (bounded
  * testdata → MemoryStream, the same shape every streaming spec uses);
  * the operator under test runs distributed, keyed state and all. A
  * production job would swap the MemoryStream for a Kafka/file source and
  * drop the fold — the sink IS the changelog consumer there.
  *
  * Every replay reads events through ONE input stage, [[eventsInput]]:
  * the events table under one filter SQL string (`"true"` keeps every
  * row), the caller's columns, one collect, and a driver-side sort by
  * (micro-ts, event_id). [[sortedEvents]] is that stage with no filter,
  * memoized per sf dir. A replay then maps the rows to its operator's
  * input type, cuts them into micro-batches ([[chunks]]), appends its
  * far-future flush sentinel ([[farFuture]]) when the operator needs the
  * watermark past the last real row, and hands the batches to the one
  * harness, [[replay]].
  */
object StreamQueries {

  private val RocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Split into `n` consecutive chunks (micro-batch boundaries). Each
    * chunk becomes ONE MemoryStream block = one input partition, so
    * per-key arrival order inside a batch follows the chunk's row order.
    */
  private def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
    val size = math.max(1, math.ceil(xs.length.toDouble / n).toInt)
    xs.grouped(size).toSeq
  }

  /** The one replay harness: creates the MemoryStream, builds the
    * streaming frame under test from it, forces one micro-batch per
    * chunk, and returns the sink table (update mode accumulates the
    * changelog; complete mode holds the final state).
    *
    * Per-query conf, pinned across each start() only (it binds at query
    * start) and restored right after ([[Q.withConf]]):
    *   - shuffle partitions capped at `shufflePartitions` (default 2):
    *     replay state fits a handful of partitions and a wider store only
    *     multiplies per-batch task and state-store open/close overhead.
    *     The sharded scale probes RAISE the cap — at 64x key breadth the
    *     2-partition store is the bottleneck and sharding is the
    *     production lever;
    *   - the state-store provider, DERIVED from the plan:
    *     transformWithState requires RocksDB, every other operator runs
    *     on the in-memory HDFSBacked store, which commits far cheaper at
    *     replay state sizes;
    *   - no per-commit RocksDB row recounts (pure overhead at replay
    *     sizes) and changelog checkpointing ON (commit uploads the batch
    *     delta instead of a full snapshot per store per batch).
    *
    * `restarts` exercises the CHECKPOINT RESUME path (the reference's
    * core exactly-once guarantee — CheckpointCoordinator.java:102
    * barrier snapshots; Spark's WAL + state-store commit): the query
    * stop()s cleanly after each listed batch count and a NEW query
    * start()s from the same checkpoint — state stores restore, the
    * persisted watermark reloads, and the remaining batches replay
    * through the resumed state. Several boundaries stack recovery on an
    * already-recovered checkpoint. Boundaries clamp into [1, n-1]; a
    * single-batch replay has no interior boundary and runs straight
    * through. The legs write through [[idempotentSink]] (the memory
    * sink refuses checkpoint recovery), so a caller's changelog fold
    * sees the complete emission history exactly as an external sink
    * would have.
    *
    * `foreachSink` replaces the memory sink (blackhole-count scale
    * probes: nothing accumulates driver-side, the caller reads its own
    * sink state). `keepCheckpoint` runs on the caller's checkpoint
    * directory and leaves it in place for an offline [[graft.streaming
    * .StateReader]] read, with changelog checkpointing OFF so the
    * statestore source sees plain snapshots. Any other checkpoint is a
    * [[Q.scratchDir]], deleted after the last leg — repeated verify/bench
    * runs must not leak state-store files into the temp dir. Each leg
    * closes its state stores when it stops ([[closeStateStores]]), so
    * nothing writes into the checkpoint after that delete.
    */
  private[queries] def replay[T: Encoder](s: SparkSession,
      batches: Seq[Seq[T]], mode: String = "update",
      restarts: Seq[Int] = Nil,
      foreachSink: Option[(DataFrame, Long) => Unit] = None,
      shufflePartitions: Int = 2,
      keepCheckpoint: Option[String] = None)(
      build: Dataset[T] => DataFrame): DataFrame = {
    implicit val sqlCtx: SQLContext = s.sqlContext
    val input = MemoryStream[T]
    val out = build(input.toDS())
    // clamp to [1, n-1] and dedup: at least one batch per leg
    val bounds =
      if (batches.length < 2) Nil
      else restarts.map(k => math.min(math.max(1, k), batches.length - 1))
        .distinct.sorted
    // the restart arm substitutes its own buffering sink; a caller
    // combining the two features would silently lose its sink otherwise
    require(bounds.isEmpty || foreachSink.isEmpty,
      "restart boundaries and foreachSink cannot combine")
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    val sink = if (bounds.nonEmpty) Some(idempotentSink(buf)) else foreachSink
    require(sink.isEmpty || mode != "complete",
      "a foreachBatch sink sees per-batch emissions; complete mode would " +
        "accumulate one full table per batch")
    val shuffleConf = "spark.sql.shuffle.partitions"
    val shards = math.min(s.conf.get(shuffleConf).toInt, shufflePartitions)
    // a clamped shard request must be self-describing: a sharded probe
    // recorded on a narrow host would otherwise carry its 8-shard label
    // over an under-sharded measurement
    if (shards < shufflePartitions)
      System.err.println(s"[replay] requested $shufflePartitions " +
        s"shuffle partitions clamped to $shards (session default is narrower)")
    val needsRocksDb = out.queryExecution.analyzed.find(
      _.isInstanceOf[TransformWithState]).isDefined
    val conf = Seq(
      shuffleConf -> shards.toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        (if (needsRocksDb) RocksProvider else HdfsProvider),
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "false",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        keepCheckpoint.isEmpty.toString)
    val name = s"qstream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val ckpt = keepCheckpoint.getOrElse(Q.scratchDir("qstream_ckpt"))
    // legs: batch index ranges split at the boundaries
    try (0 +: bounds :+ batches.length).sliding(2).foreach { case Seq(from, to) =>
      val q = withConf(s, conf: _*) {
        val w = out.writeStream.outputMode(mode)
          .option("checkpointLocation", ckpt)
        sink match {
          case Some(fn) => w.foreachBatch(fn).start()
          case None => w.format("memory").queryName(name).start()
        }
      }
      try batches.slice(from, to).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      finally { q.stop(); closeStateStores(q) }
    }
    finally if (keepCheckpoint.isEmpty) // every leg: no ckpt leak on failure
      Q.deleteRecursively(java.nio.file.Paths.get(ckpt))
    if (bounds.nonEmpty)
      s.createDataFrame(new java.util.ArrayList[Row](buf), out.schema)
    else if (foreachSink.isDefined) s.emptyDataFrame
    else s.table(name)
  }

  /** Closes the state stores a stopped query left loaded in this JVM.
    * Spark keeps a stopped query's providers loaded until its state-store
    * maintenance, on a timer (60 s by default), finds them inactive. That
    * pass first uploads each RocksDB provider's queued snapshot (a `.zip`
    * and its `SSTs` files) into the checkpoint and only then closes it, so
    * a checkpoint deleted in between is re-created. Closing the providers
    * here drops the queued snapshot instead (a restart rebuilds it from the
    * changelog each commit wrote), so nothing writes into the checkpoint
    * after `stop()`.
    */
  private def closeStateStores(q: StreamingQuery): Unit =
    Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .foreach(_.executedPlan.foreach {
        case w: StateStoreWriter =>
          val info = w.getStateInfo
          for (p <- 0 until info.numPartitions; name <- w.stateStoreNames)
            StateStore.removeFromLoadedProvidersAndClose(StateStoreProviderId(
              StateStoreId(info.checkpointLocation, info.operatorId, p, name),
              info.queryRunId))
        case _ =>
      })

  /** The restart arm's foreachBatch sink: a batchId-IDEMPOTENT buffer —
    * the exact contract a transactional production sink implements for
    * exactly-once. If recovery re-delivers a committed batch, the dedup
    * absorbs it; a LOST batch still surfaces as missing rows in the
    * differential. The batch is collected BEFORE it is marked seen, so
    * a delivery whose collect() fails leaves it unseen and its
    * redelivery is buffered.
    */
  private[queries] def idempotentSink(buf: java.util.Collection[Row])
      : (DataFrame, Long) => Unit = {
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[java.lang.Long]()
    (df, batchId) => {
      val rows = df.collect()
      if (seen.add(batchId)) rows.foreach(buf.add)
    }
  }

  /** Order-insensitive changelog fold to the end state: net count per
    * full row value must be exactly +1 (present) or 0 (retracted away).
    */
  private def foldChangelog(changes: DataFrame, kindCol: String): DataFrame = {
    val valueCols = changes.columns.filterNot(_ == kindCol).toSeq
    changes
      .withColumn("__sign",
        when(col(kindCol) === Changelog.Insert ||
          col(kindCol) === Changelog.UpdateAfter, 1).otherwise(-1))
      .groupBy(valueCols.map(col): _*)
      .agg(sum(col("__sign")).as("__net"))
      .filter(col("__net") === 1)
      .drop("__net")
  }

  case class Ev(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** Temporal-join replay envelope: a probe (isProbe, probeId) or a
    * version (value effective from eventTime on) of one MemoryStream,
    * split into the join's two sides by [[streamTemporalFuzzReplay]].
    */
  case class TemporalEvent(key: String, eventTime: java.sql.Timestamp,
      isProbe: Boolean, probeId: Long, value: Long)

  /** Session-annotated event replayed into the session-coGroup phase. */
  case class SessEv(user_id: Long, event_type: String, value: Double,
      window_start: java.sql.Timestamp, window_time: java.sql.Timestamp)

  /** Change row fed to the upsert sink gate (kind renames to __rowkind). */
  case class UpsCh(user_id: Long, event_id: Long, value: Double,
      seq: Long, kind: Byte)

  /** Epoch MICROS of a micros-precision timestamp (getTime carries the
    * millis; getNanos the sub-second — only its sub-milli part is new).
    */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Offset of the far-future flush sentinels: ten days past the last
    * real event puts every watermark delay, window, session gap and
    * cleanup timer the replays use behind it.
    */
  private val FarFutureMs = 10L * 86400000L
  private def farFuture(ms: Long) = new java.sql.Timestamp(ms + FarFutureMs)

  /** The one replay input stage: the events rows `filterSql` keeps
    * (`"true"` keeps all), projected to `cols` and decoded as `T` (a
    * tuple binds by position, a case class by name), collected once and
    * sorted on the driver by (micro-ts, event_id) — full-precision
    * event-time order, the shape a rowtime source delivers within the
    * watermark and the exact ORDER BY every oracle uses (a millisecond
    * sort could diverge on same-ms rows whose ids cross micros order).
    * On the testdata this order is also ascending event_id
    * (StreamFuzzSpec pins it), so the replays that once sorted by id
    * alone read the same batches.
    */
  private[queries] def eventsInput[T: Encoder](s: SparkSession, dir: String,
      filterSql: String, cols: Column*): Seq[T] = {
    implicit val keyed: Encoder[(java.sql.Timestamp, Long, T)] =
      Encoders.tuple(Encoders.TIMESTAMP, Encoders.scalaLong, implicitly[Encoder[T]])
    t(s, dir, "events").filter(expr(filterSql))
      .select(tsCol, col("event_id"), struct(cols: _*))
      .as[(java.sql.Timestamp, Long, T)].collect().toSeq
      .sortBy(r => (micros(r._1), r._2)).map(_._3)
  }

  /** Column shorthands for [[eventsInput]] projections. */
  private val tsCol = col("ts").cast("timestamp").as("ts")
  private val centsCol =
    expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)").as("cents")
  private def strCol(sql: String, name: String) =
    expr(s"CAST($sql AS STRING)").as(name)
  private def longCol(sql: String, name: String) =
    expr(s"CAST($sql AS BIGINT)").as(name)

  /** [[eventsInput]] with no filter, memoized per sf dir: the replays
    * that read whole events rows share one collect+sort instead of
    * re-reading the table each (the testdata is immutable for a
    * Verify/Bench JVM's lifetime; a few MB resident).
    */
  private val sortedEventsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Ev]]()
  private[queries] def sortedEvents(s: SparkSession, dir: String): Seq[Ev] =
    sortedEventsCache.computeIfAbsent(dir, { d =>
      import s.implicits._
      eventsInput[Ev](s, d, "true", col("event_id"), col("user_id"), tsCol,
        col("event_type"), col("value"))
    })

  /** (user_id, epoch-micros) per event — the rows a drawn idleness case's
    * `IdleCase.invalidReason` is checked against.
    */
  private[queries] def userMicros(s: SparkSession, dir: String): Seq[(Long, Long)] =
    sortedEvents(s, dir).map(e => (e.user_id, micros(e.ts)))

  /** MemoryStream replay for a [[StreamFuzzGen.Case]]: (event-time,
    * id)-sorted events stream through the case's filter → watermark →
    * window aggregate in append mode; a far-future sentinel (user_id
    * = -1 — every generated filter keeps it by construction) advances
    * the watermark past the last real window so the tail flushes. The
    * sentinel's own window never fires, so it leaves no output trace.
    */
  private[queries] def streamFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.Case, restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir)
    val sentinel = Ev(-1L, -1L, farFuture(rows.last.ts.getTime), "click", 0.0)
    replay(s, chunks(rows, 3) :+ Seq(sentinel), mode = "append",
        restarts = restarts)(in =>
      c(in.toDF().withWatermark("ts", "1 second")))
      .select(col("window_start").cast("timestamp_ntz").as("window_start") +:
        (c.keys.map(k => col(k._2)) ++ c.aggs.map(a => col(a._2))): _*)
  }

  /** MemoryStream replay for a [[StreamFuzzGen.DedupCase]]: filtered
    * events replay (ts, event_id)-sorted as TtlIn(key, ts, id) through
    * the case's dedup processor. keep-first emits insert-only firsts;
    * keep-last's -U/+U changelog folds to the final row per key;
    * first_ttl runs on event time with a far-future sentinel key (its
    * own key text, disjoint from every real CAST result) flushing the
    * cleanup timers — its id is negative and drops from the output.
    */
  private[queries] def streamDedupFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.DedupCase): DataFrame = {
    import s.implicits._
    implicit val ttlEnc = Encoders.product[StatefulOps.TtlIn]
    val rows = eventsInput[StatefulOps.TtlIn](s, dir, c.filterSql,
      strCol(c.keySql, "key"), tsCol, col("event_id").as("id"))
    c.mode match {
      case "first" =>
        replay(s, chunks(rows, 2))(_.groupByKey(_.key)
          .transformWithState(
            new StatefulOps.KeepFirstProcessor[String, StatefulOps.TtlIn](),
            TimeMode.None(), OutputMode.Update()).toDF())
          .select($"key".as("k"), $"id")
      case "last" =>
        val sink = replay(s, chunks(rows, 2))(in =>
          StreamingRank.keepLastRows(in.toDF(), Seq("key")))
        foldChangelog(sink.select(col(Changelog.RowKindCol), $"key".as("k"),
          $"id"), Changelog.RowKindCol)
      case "first_ttl" =>
        val sentinel = StatefulOps.TtlIn("\u0000flush",
          farFuture(rows.last.ts.getTime), -1L)
        replay(s, chunks(rows, 2) :+ Seq(sentinel), mode = "append")(
          _.withWatermark("ts", "1 second")
            .as[StatefulOps.TtlIn]
            .groupByKey(_.key)
            .transformWithState(
              new StatefulOps.KeepFirstTtlProcessor(c.ttlMinutes * 60000L),
              TimeMode.EventTime(), OutputMode.Append()).toDF())
          .filter($"id" >= 0)
          .select($"key".as("k"), $"id")
    }
  }

  /** MemoryStream replay for a [[StreamFuzzGen.TopNCase]]: filtered
    * events INSERT (id, sort) per key in two batches, the update-
    * predicate rows UPSERT with sort − delta (rank movement across the
    * visible boundary), the delete-predicate rows remove; the operator's
    * top-n diff changelog folds to the final visible top-n per key.
    */
  private[queries] def streamTopNFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.TopNCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val trips = eventsInput[(String, Long, Long)](s, dir, c.filterSql,
      strCol(c.keySql, "k"), col("event_id"), longCol(c.sortSql, "v"))
    val inserts = trips.map { case (k, id, v) => (Changelog.Insert, k, id, v) }
    val updates = trips.collect {
      case (k, id, v) if id % c.updMod == c.updRes =>
        (Changelog.UpdateAfter, k, id, v - c.updDelta) }
    val deletes = trips.collect {
      case (k, id, v) if id % c.delMod == c.delRes =>
        (Changelog.Delete, k, id, v) }
    val batches = chunks(inserts, 2) ++
      Seq(updates, deletes).filter(_.nonEmpty)
    val sink = replay(s, batches, restarts = restarts)(in =>
      StreamingRank.topN(in.toDF(Changelog.RowKindCol, "k", "id", "sort"),
        Seq("k"), Seq(("sort", true)), c.n))
    foldChangelog(sink, Changelog.RowKindCol)
      .select($"k", $"id", $"sort")
  }

  /** Measured scale law for the stateful streaming path — the streaming
    * sibling of [[ScaleProbes]] (batch TPC) and the dedup/ANN probes:
    * the SAME session-window pipeline (SessionWindows.annotate, the
    * heaviest custom transformWithState operator) replays at 1× and 8×
    * event volume. Replicas shift `user_id` (`uid·factor + rep`), so the
    * scale-up grows KEY BREADTH — 8× keys with per-key session history
    * constant, the shape a production stream takes when traffic grows —
    * while the micro-batch count stays fixed (same chunking). The base
    * is the FULL events table (unlike q_stream_session's deterministic
    * third) so that at 8× the per-row/state work dominates the
    * ~2 s/gate micro-batch floor instead of drowning in it; the
    * recorded measurement is the wall-time ratio between the `1` and
    * `8` bench entries, read floor-inclusive. Correctness of the
    * operator itself is gated by `q_stream_session` /
    * `q_fuzz_stream_s*`.
    */
  private def sessionScaleProbe(s: SparkSession, dir: String,
      factor: Int, shards: Int = 2): DataFrame = {
    import s.implicits._
    val base = sortedEvents(s, dir)
    val rows =
      if (factor == 1) base
      else base.flatMap(e => (0 until factor).map(rep => e.copy(
        event_id = e.event_id * factor + rep,
        user_id = e.user_id * factor + rep)))
    val maxTs = base.map(_.ts.getTime).max
    val sentinel = Seq(Ev(-1L, -1L,
      new java.sql.Timestamp(maxTs + 3L * 3600000L), "flush", 0.0))
    // blackhole-count sink (executor-side count per batch, summed on the
    // driver): the probe measures the OPERATOR's scale law, and a memory
    // sink at 64× was holding 6.4M annotated rows on the driver — sink
    // cost, not operator cost, and super-linear in the recorded curve
    val counter = new java.util.concurrent.atomic.LongAdder
    replay(s, chunks(rows, 2) :+ sentinel,
        foreachSink = Some((df, _) =>
          counter.add(df.filter(col("user_id") >= 0).count())),
        shufflePartitions = shards)(in => SessionWindows.annotate(
      in.toDF().withWatermark("ts", "1 hour"), Seq("user_id"), "ts", "1 hour"))
    Seq(counter.sum).toDF("rows")
  }

  /** Bench-only entries (no oracle BY DESIGN — the measurement is the
    * 1×↔8×↔64× wall-time ratio; see [[sessionScaleProbe]]). The 64×
    * point (6.4M events at sf0.1, 64× key breadth through one
    * transformWithState session operator at the same fixed 2-partition
    * replay parallelism) is the streaming sibling of b_tpch18_scale64 —
    * it is SUPPOSED to take minutes; the law it measures is documented
    * in docs/SCALE.md.
    */
  val benchOnly: Map[String, QFn] = Map(
    "b_stream_scale1" -> ((s, dir) => sessionScaleProbe(s, dir, 1)),
    "b_stream_scale8" -> ((s, dir) => sessionScaleProbe(s, dir, 8)),
    "b_stream_scale64" -> ((s, dir) => sessionScaleProbe(s, dir, 64)),
    // the production lever demonstrated: the SAME 64x probe with the
    // state store sharded over 8 partitions instead of 2 — the 64x-keys
    // store stops being the bottleneck and the 1x->64x ratio closes
    // toward linear (measured in docs/SCALE.md)
    "b_stream_scale64_sharded" ->
      ((s, dir) => sessionScaleProbe(s, dir, 64, shards = 8)))

  /** MemoryStream replay for a [[StreamFuzzGen.SessionCase]]: derived
    * key columns → filter → SessionWindows.annotate under the case's
    * gap; a far-future sentinel (user_id = -1, every generated filter
    * keeps it) lands the watermark past max+gap so every real session's
    * timer fires; its own session key is disjoint from all real keys
    * and its row drops on `event_id >= 0`.
    */
  private[queries] def streamSessionFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.SessionCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir)
    val maxTs = rows.last.ts.getTime
    // wm delay 1h, session timers at max+gap: sentinel at
    // max + gap + 3h puts the watermark ≥ max + gap + 2h — past every
    // real session's close with margin
    val sentinel = Ev(-1L, -1L,
      new java.sql.Timestamp(maxTs + (c.gapMinutes + 180L) * 60000L),
      "flush", 0.0)
    replay(s, chunks(rows, 2) :+ Seq(sentinel), restarts = restarts) { in =>
      val keyed = c.keys.foldLeft(in.toDF().withWatermark("ts", "1 hour")) {
        case (df, (e, a)) => df.withColumn(a, expr(e)) }
      SessionWindows.annotate(keyed.filter(expr(c.filterSql)),
        c.keys.map(_._2), "ts", s"${c.gapMinutes} minutes")
    }
      .filter(col("event_id") >= 0)
      .select(c.keys.map(k => col(k._2)) ++ Seq(col("event_id"),
        col("window_start").cast("timestamp_ntz").as("window_start"),
        col("window_end").cast("timestamp_ntz").as("window_end")): _*)
  }

  /** MemoryStream replay for a [[StreamFuzzGen.SessionDynCase]]:
    * filtered events aggregate under Spark's built-in
    * `session_window(ts, gapExpr)` with a PER-ROW gap (the reference's
    * SessionWindowTimeGapExtractor / dynamic-gap SESSION TVF), in
    * append mode so only CLOSED sessions emit; a far-future sentinel
    * (user_id = -1, every generated filter keeps it; its key is
    * disjoint and its gap may even be non-positive — Spark drops such
    * rows from the aggregate, the watermark advances regardless) lands
    * the watermark past every real session's end. The sentinel's own
    * session, when it exists, is the only one with a negative id sum.
    */
  private[queries] def streamSessionDynFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.SessionDynCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir)
    val maxTs = rows.last.ts.getTime
    // gap draws cap at 161 minutes; +360 puts the watermark (1h delay)
    // past max + gap for every arm with margin
    val sentinel = Ev(-1L, -1L,
      new java.sql.Timestamp(maxTs + 360L * 60000L), "flush", 0.0)
    replay(s, chunks(rows, 2) :+ Seq(sentinel), mode = "append",
        restarts = restarts)(_.toDF().withWatermark("ts", "1 hour")
      .filter(expr(c.filterSql))
      .withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
      .withColumn("gap_m", expr(s"CAST((${c.gapSql}) AS INT)"))
      .groupBy(col("k"),
        // session_window's dynamic gap must be CalendarIntervalType
        session_window(col("ts"), expr("make_interval(0, 0, 0, 0, 0, gap_m, 0)")))
      .agg(count(lit(1)).as("n"),
        sum($"event_id").cast("long").as("sum_id"))
      .select($"k",
        $"session_window.start".cast("timestamp_ntz").as("window_start"),
        $"session_window.end".cast("timestamp_ntz").as("window_end"),
        $"n", $"sum_id"))
      .filter($"sum_id" >= 0)
  }

  /** Two-phase replay for a [[StreamFuzzGen.SurgeryCase]] — the seeded
    * savepoint read→rewrite→resume loop (State Processor API shapes,
    * randomized): phase 1 runs the pre-cutoff slice through
    * [[graft.streaming.StateBootstrap.agg]] with a retained checkpoint
    * and stops; the checkpoint's "acc" state reads back offline, ONE
    * key is additionally point-read ([[graft.streaming.StateReader]])
    * and must agree with the bulk read; the seeded rewrite bumps
    * matching keys' cents declaratively; phase 2 bootstraps a fresh
    * query from the rewritten frame and streams the post-cutoff slice
    * (optionally through the restart battery). The argmax fold of the
    * running totals must equal the case's batch restatement.
    */
  private[queries] def streamSurgeryFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.SurgeryCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    import graft.streaming.{StateBootstrap, StateReader}
    val trips = eventsInput[(String, Long, Long)](s, dir, c.filterSql,
      strCol(c.keySql, "k"), centsCol,
      // ts arrives TIMESTAMP_NTZ; the session is pinned UTC, so the
      // cast is epoch-identical to the oracle's epoch_us
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
    val usAll = trips.map(_._3)
    val cut = usAll.min + (usAll.max - usAll.min) * c.cutNum / c.cutDen
    val hist = trips.collect {
      case (k, ce, us) if us < cut => StateBootstrap.BIn(k, ce) }
    val rest = trips.collect {
      case (k, ce, us) if us >= cut => StateBootstrap.BIn(k, ce) }
    // phase 1 — same retained-checkpoint leg as q_state_bootstrap
    val ckpt1 = Q.scratchDir(s"q_fuzz_surgery_${c.seed}") + "/ckpt1"
    replay(s, chunks(hist, 2), keepCheckpoint = Some(ckpt1))(
      StateBootstrap.agg(_,
        s.emptyDataset(Encoders.product[StateBootstrap.BInit])))
    val boot = StateBootstrap.readAccState(s, ckpt1)
    // welded point-read: the queryable-state path must agree with the
    // bulk savepoint read for a probe key (smallest, deterministic)
    boot.collect().toSeq.sortBy(_.key).headOption.foreach { pr =>
      val got = StateReader.point(s, ckpt1, "acc", pr.key)
        .select(col("value.n"), col("value.cents")).collect()
      require(got.length == 1 && got(0).getLong(0) == pr.n &&
        got(0).getLong(1) == pr.cents,
        s"state point-read diverged for key ${pr.key}: " +
          s"bulk=(${pr.n},${pr.cents}) point=${got.toSeq}")
    }
    // the seeded rewrite, declarative (one projection over the frame)
    implicit val initEnc = Encoders.product[StateBootstrap.BInit]
    val rewritten = boot.toDF()
      .withColumn("cents",
        when(expr(c.rewritePred("key")), col("cents") + c.rwDelta)
          .otherwise(col("cents")))
      .as[StateBootstrap.BInit]
    val sink = replay(s, chunks(rest, 2), restarts = restarts)(
      StateBootstrap.agg(_, rewritten))
    // n is strictly monotone per key: the final state is the argmax row
    sink.groupBy($"key".as("k"))
      .agg(max(struct($"n", $"cents")).as("m"))
      .select($"k", $"m.n".as("n"), $"m.cents".as("sum_cents"))
  }

  /** MemoryStream replay for a [[StreamFuzzGen.RetractCase]]: every
    * filtered event INSERTs its (key, value), the delete-predicate rows
    * RETRACT in a final batch, and the emitted changelog folds to the
    * end state — which must equal the batch aggregate over surviving
    * rows (the case's DuckDB restatement).
    */
  private[queries] def streamRetractFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.RetractCase,
      restarts: Seq[Int] = Nil,
      miniBatch: Boolean = false): DataFrame = {
    import s.implicits._
    implicit val chEnc = Encoders.product[StatefulOps.Change[String, Long]]
    val trips = eventsInput[(String, Long, Long)](s, dir, c.filterSql,
      strCol(c.keySql, "k"), longCol(c.valueSql, "v"), col("event_id"))
    val inserts = trips.map { case (k, v, _) =>
      StatefulOps.Change(Changelog.Insert, k, v) }
    val deletes = trips.collect {
      case (k, v, id) if id % c.deleteMod == c.deleteRes =>
        StatefulOps.Change(Changelog.Delete, k, v) }
    val batches = chunks(inserts, 2) ++
      (if (deletes.nonEmpty) Seq(deletes) else Nil)
    require(!miniBatch || c.op == "sum",
      "mini-batch emission is a RetractSumProcessor mode; force op=sum")
    c.op match {
      case "sum" =>
        val sink = replay(s, batches, restarts = restarts)(_.groupByKey(_.key)
          .transformWithState(
            new StatefulOps.RetractSumProcessor[String, Long](miniBatch),
            TimeMode.None(), OutputMode.Update()).toDF())
        foldChangelog(sink.select($"kind", $"value.key".as("k"),
          $"value.sum".as("agg"), $"value.count".as("n")), "kind")
      case mm =>
        val sink = replay(s, batches, restarts = restarts)(_.groupByKey(_.key)
          .transformWithState(
            new StatefulOps.RetractMinMaxProcessor[String, Long](
              isMax = mm == "max"),
            TimeMode.None(), OutputMode.Update()).toDF())
        foldChangelog(sink.select($"kind", $"value.key".as("k"),
          $"value.extreme".as("agg"), $"value.count".as("n")), "kind")
    }
  }

  /** MemoryStream replay for a [[StreamFuzzGen.DistinctCase]]: filtered
    * events INSERT (group, value) pairs keyed by the COMPOSITE
    * (group, value % buckets) shard — the split-distinct shape — the
    * delete-predicate rows RETRACT in a final batch, and the signed
    * fold of [[StatefulOps.SplitDistinctProcessor]]'s shard-count
    * changelog per GROUP (the final-stage SUM) must equal the batch
    * COUNT(DISTINCT) over surviving rows. A group whose distinct set
    * empties folds to 0 and drops, matching the oracle's GROUP BY over
    * survivors.
    */
  private[queries] def streamDistinctFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.DistinctCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val trips = eventsInput[(String, Long, Long)](s, dir, c.filterSql,
      strCol(c.groupSql, "g"), longCol(c.valueSql, "v"), col("event_id"))
    def shard(v: Long): Int = math.floorMod(v, c.buckets.toLong).toInt
    val inserts = trips.map { case (g, v, _) =>
      StatefulOps.SplitIn(g, shard(v), v, Changelog.Insert) }
    val deletes = trips.collect {
      case (g, v, id) if id % c.deleteMod == c.deleteRes =>
        StatefulOps.SplitIn(g, shard(v), v, Changelog.Delete) }
    val sink = replay(s,
        chunks(inserts, 2) ++ (if (deletes.nonEmpty) Seq(deletes) else Nil),
        restarts = restarts)(
      _.groupByKey(r => s"${r.group}|${r.bucket}")
        .transformWithState(new StatefulOps.SplitDistinctProcessor,
          TimeMode.None(), OutputMode.Update()).toDF())
    sink.groupBy($"key".as("g"))
      .agg(sum(when(col("kind") === Changelog.Insert ||
          col("kind") === Changelog.UpdateAfter, $"value")
        .otherwise(-$"value")).as("n_distinct"))
      .filter($"n_distinct" > 0)
  }

  /** Tagged join envelope for [[streamJoinFuzzReplay]] (one MemoryStream
    * carries both sides, the micro-batch two-input pattern).
    */
  case class JEnv(k: String, kind: Byte, isLeft: Boolean, id: Long,
      cents: Long)

  /** MemoryStream replay for a [[StreamFuzzGen.JoinCase]]: the parity
    * split's filtered sides replay as inserts in two batches, then the
    * delete-predicate rows retract (right batch, then left); the join
    * processor's changelog folds to the end state — which must equal the
    * batch join over surviving rows (the case's DuckDB restatement).
    * Outer arms run [[graft.streaming.OuterJoin]] (both sides
    * retractable); semi/anti run [[graft.streaming.SemiAntiJoin]]
    * (append-only left, ±1 right counts).
    */
  private[queries] def streamJoinFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.JoinCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    // rows failing both side filters never replay — the stage's filter
    // pushes the subset predicate into the scan
    val rows = eventsInput[(String, Long, Long, Boolean, Boolean)](s, dir,
      s"(${c.leftFilterSql}) OR (${c.rightFilterSql})", strCol(c.keySql, "k"),
      col("event_id"), centsCol,
      expr(c.leftFilterSql).as("lf"), expr(c.rightFilterSql).as("rf"))
    val lefts = rows.collect {
      case (k, id, cents, lf, _) if id % 2 == 0 && lf => (k, id, cents) }
    val rights = rows.collect {
      case (k, id, _, _, rf) if id % 2 == 1 && rf => (k, id) }
    if (c.isSemiAnti) {
      import graft.streaming.SemiAntiJoin.{JoinInput, JoinOutput, SemiAntiProcessor}
      implicit val outEnc = Encoders.product[JoinOutput]
      val inserts = (lefts.map { case (k, id, _) =>
          (id, JoinInput(k, isLeft = true, id, 1)) } ++
        rights.map { case (k, id) =>
          (id, JoinInput(k, isLeft = false, id, 1)) })
        .sortBy(_._1).map(_._2)
      val deletes = rights.collect {
        case (k, id) if id % c.rDelMod == c.rDelRes =>
          JoinInput(k, isLeft = false, id, -1) }
      val sink = replay(s,
          chunks(inserts, 2) ++ Seq(deletes).filter(_.nonEmpty),
          restarts = restarts)(_.groupByKey(_.key)
        .transformWithState(new SemiAntiProcessor(c.joinType == "semi"),
          TimeMode.None(), OutputMode.Update()).toDF())
      foldChangelog(sink, "kind")
        .select($"key".as("k"), $"id".as("l_id"))
    } else {
      val inserts = (lefts.map { case (k, id, cents) =>
          JEnv(k, Changelog.Insert, isLeft = true, id, cents) } ++
        rights.map { case (k, id) =>
          JEnv(k, Changelog.Insert, isLeft = false, id, 0L) })
        .sortBy(_.id)
      val lDel = lefts.collect {
        case (k, id, cents) if id % c.lDelMod == c.lDelRes =>
          JEnv(k, Changelog.Delete, isLeft = true, id, cents) }
      val rDel = rights.collect {
        case (k, id) if id % c.rDelMod == c.rDelRes =>
          JEnv(k, Changelog.Delete, isLeft = false, id, 0L) }
      val jt = c.joinType match {
        case "inner" => OuterJoin.Inner
        case "left" => OuterJoin.LeftOuter
        case "right" => OuterJoin.RightOuter
        case "full" => OuterJoin.FullOuter
      }
      val sink = replay(s,
          chunks(inserts, 2) ++ Seq(rDel, lDel).filter(_.nonEmpty),
          restarts = restarts) { ds =>
        val left = ds.filter(_.isLeft).map(e => (e.k, e.kind, (e.id, e.cents)))
        val right = ds.filter(!_.isLeft).map(e => (e.k, e.kind, e.id))
        OuterJoin.outerJoin[String, (Long, Long), Long](left, right, jt).toDF()
      }
      foldChangelog(sink.select($"kind", $"key".as("k"),
        $"left._1".as("l_id"), $"left._2".as("l_cents"),
        $"right".as("r_id")), "kind")
    }
  }

  /** Two-sided join envelope for the interval/window join replays. */
  case class IvEnv(k: String, isLeft: Boolean, id: Long,
      ts: java.sql.Timestamp)

  /** Shared input extraction for the two-sided time-join fuzz replays
    * (interval + window join): derived key, (micro-ts, id)-sorted, split
    * by event_id parity into the case's filtered sides.
    */
  private def sideSplitInput(s: SparkSession, dir: String, keySql: String,
      leftFilterSql: String, rightFilterSql: String): Seq[IvEnv] = {
    import s.implicits._
    // rows failing both side filters never replay — the stage's filter
    // pushes the subset predicate into the scan
    eventsInput[(String, Long, java.sql.Timestamp, Boolean, Boolean)](s, dir,
        s"($leftFilterSql) OR ($rightFilterSql)", strCol(keySql, "k"),
        col("event_id"), tsCol,
        expr(leftFilterSql).as("lf"), expr(rightFilterSql).as("rf"))
      .collect {
        case (k, id, ts, lf, _) if id % 2 == 0 && lf =>
          IvEnv(k, isLeft = true, id, ts)
        case (k, id, ts, _, rf) if id % 2 == 1 && rf =>
          IvEnv(k, isLeft = false, id, ts)
      }
  }

  /** MemoryStream replay for a [[StreamFuzzGen.IntervalCase]]: one
    * watermarked stream splits into the two filtered sides, which join
    * under the case's time-range condition (Spark's stream–stream inner
    * join — the IntervalJoinOperator analogue, q_stream_interval's
    * harness generalized). Inner joins emit eagerly on match, so the
    * ascending replay needs no flush sentinel; the watermark + range
    * condition exist to bound state, exactly as in production.
    */
  private[queries] def streamIntervalFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.IntervalCase): DataFrame = {
    import s.implicits._
    val rows = sideSplitInput(s, dir, c.keySql,
      c.leftFilterSql, c.rightFilterSql)
    replay(s, chunks(rows, 2), mode = "append") { in =>
      val ev = in.withWatermark("ts", "1 hour")
      val lhs = ev.filter($"isLeft")
        .select($"k".as("l_k"), $"id".as("l_id"), $"ts".as("l_ts"))
      val rhs = ev.filter(!$"isLeft")
        .select($"k".as("r_k"), $"id".as("r_id"), $"ts".as("r_ts"))
      lhs.join(rhs,
          $"l_k" === $"r_k" &&
          expr(s"r_ts >= l_ts + INTERVAL '${c.loMinutes}' MINUTE") &&
          expr(s"r_ts <= l_ts + INTERVAL '${c.hiMinutes}' MINUTE"))
        .select($"l_k".as("k"), $"l_id", $"r_id")
    }
  }

  /** MemoryStream replay for a [[StreamFuzzGen.WinJoinCase]]: one
    * watermarked stream splits into the two filtered sides, each side
    * assigns tumbling windows, and rows join on (window_start, key) —
    * q_stream_winjoin's harness generalized. Inner equi-joins emit
    * eagerly on match; no sentinel needed.
    */
  private[queries] def streamWinJoinFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.WinJoinCase): DataFrame = {
    import s.implicits._
    val rows = sideSplitInput(s, dir, c.keySql,
      c.leftFilterSql, c.rightFilterSql)
    val win = window(col("ts"), s"${c.winMinutes} minutes")
      .getField("start")
    replay(s, chunks(rows, 2), mode = "append") { in =>
      val ev = in.withWatermark("ts", "1 hour")
      val lhs = ev.filter($"isLeft")
        .select(win.as("l_ws"), $"k".as("l_k"), $"id".as("l_id"))
      val rhs = ev.filter(!$"isLeft")
        .select(win.as("r_ws"), $"k".as("r_k"), $"id".as("r_id"))
      lhs.join(rhs, $"l_ws" === $"r_ws" && $"l_k" === $"r_k")
        .select($"l_ws".cast("timestamp_ntz").as("window_start"),
          $"l_k".as("k"), $"l_id", $"r_id")
    }
  }

  /** MemoryStream replay for a [[StreamFuzzGen.OverCase]]: filtered rows
    * replay (micro-ts, id)-sorted as TimedIn(k, ts, v) through the
    * unbounded-preceding over processor under the case's ROWS/RANGE
    * mode; a far-future sentinel key flushes the tail (its own row never
    * emits — the watermark never passes it — and drops on the key
    * filter regardless). Intra-millisecond arrival order is the sorted
    * replay's (micro-ts, id) order, which is exactly the restatement's
    * ROWS ordering; RANGE mode emits per-ms peer groups, so intra-ms
    * order doesn't reach the output at all.
    */
  private[queries] def streamOverFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.OverCase): DataFrame =
    overFuzzReplay(s, dir, c.keySql, c.filterSql, c.valueSql,
      new ProcessOps.UnboundedPrecedingOverProcessor(c.rangeMode))

  /** MemoryStream replay for a [[StreamFuzzGen.BoundedOverCase]]: the
    * same envelope/sentinel shape as the unbounded replay, through the
    * ROWS- or RANGE-bounded processor (accumulator + retract-row state)
    * under the case's frame. `restarts` threads the checkpoint
    * stop/resume arm — the retained-frame ValueStates and the input
    * buffer MapState must restore mid-replay.
    */
  private[queries] def streamBoundedOverFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.BoundedOverCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    val proc: ProcessOps.BufferedOverProcessor =
      if (c.rangeMode) new ProcessOps.RangeBoundedOverProcessor(c.rangeMs)
      else new ProcessOps.RowsBoundedOverProcessor(c.nRows)
    overFuzzReplay(s, dir, c.keySql, c.filterSql, c.valueSql, proc,
      restarts)
  }

  /** Shared over-aggregate replay body (see the callers' docs): filtered
    * rows replay (micro-ts, id)-sorted as TimedIn(k, ts, v) through the
    * given buffered over processor; a far-future sentinel key flushes
    * the tail (its own row never emits — the watermark never passes it —
    * and drops on the key filter regardless).
    */
  private def overFuzzReplay(s: SparkSession, dir: String, keySql: String,
      filterSql: String, valueSql: String,
      proc: ProcessOps.BufferedOverProcessor,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    implicit val outEnc = Encoders.product[ProcessOps.OverOut]
    val rows = eventsInput[ProcessOps.TimedIn](s, dir, filterSql,
      strCol(keySql, "key"), col("ts").cast("timestamp").as("eventTime"),
      longCol(valueSql, "v"))
    // a degenerate seed whose filter keeps no rows is vacuously correct
    // (the oracle is empty too) — don't let rows.last throw
    if (rows.isEmpty)
      return s.emptyDataFrame
        .select(lit("").as("k"), lit(0L).as("ts_ms"), lit(0L).as("v"),
          lit(0L).as("moving_sum"), lit(0L).as("n"))
    val flushKey = "\u0000flush"
    val sentinel =
      ProcessOps.TimedIn(flushKey, farFuture(rows.last.eventTime.getTime), 0L)
    replay(s, chunks(rows, 2) :+ Seq(sentinel), mode = "append",
        restarts = restarts)(_.withWatermark("eventTime", "1 hour")
      .groupByKey(_.key)
      .transformWithState(proc,
        TimeMode.EventTime(), OutputMode.Append()).toDF())
      .filter($"key" =!= flushKey)
      .select($"key".as("k"), $"ts".as("ts_ms"), $"v",
        $"movingSum".as("moving_sum"), $"n")
  }

  /** Shared input for the TWO temporal replays (stream-stream,
    * static-dim): the case's probe and version envelopes in (micro-ts,
    * id) order, plus the far-future flush-probe sentinel (probeId = -1;
    * NUL-prefixed key, disjoint from every CAST/CONCAT key the generator
    * can produce), ten days past the last envelope (past the epoch when
    * neither arm keeps a row). One input keeps the two-route assertion
    * honest: both routes replay literally the same envelopes.
    */
  private def temporalCaseInput(s: SparkSession, dir: String,
      c: StreamFuzzGen.TemporalCase): (Seq[TemporalEvent], TemporalEvent) = {
    import s.implicits._
    // rows matching neither arm make no envelope — the stage's filter
    // pushes the union of the arms into the scan
    val envs =
      eventsInput[(String, java.sql.Timestamp, Long, Long, Boolean, Boolean)](
        s, dir, s"(${c.probeFilterSql}) OR (${c.versionFilterSql})",
        strCol(c.keySql, "k"), tsCol, col("event_id"), centsCol,
        expr(c.probeFilterSql).as("pf"), expr(c.versionFilterSql).as("vf"))
      .flatMap { case (k, ts, id, cents, pf, vf) =>
        // a row matching both arms is BOTH a probe and a version (two
        // envelopes, version first so same-position iteration order is
        // deterministic; resolution is watermark-driven either way)
        (if (vf) Seq(TemporalEvent(k, ts, isProbe = false, id, cents)) else Nil) ++
        (if (pf) Seq(TemporalEvent(k, ts, isProbe = true, id, 0L)) else Nil)
      }
    val sentinel = TemporalEvent("\u0000flush",
      farFuture(envs.lastOption.fold(0L)(_.eventTime.getTime)),
      isProbe = true, -1L, 0L)
    (envs, sentinel)
  }

  /** MemoryStream replay for a [[StreamFuzzGen.TemporalCase]] through
    * the DataFrame front door the SQL surface routes to
    * ([[TemporalJoin.asOfStream]]): the (micro-ts, event_id)-sorted
    * envelopes of one MemoryStream split into the probe and version
    * sides; probes resolve watermark-driven against the version current
    * at their (millisecond) timestamp. A far-future sentinel probe
    * (probeId = -1, key disjoint from every real CAST/CONCAT result)
    * pushes the watermark past the last real probe so the tail
    * resolves; its own timestamp stays ahead of the final watermark, so
    * it leaves no output trace — and its row is dropped on
    * probe_id >= 0 regardless.
    */
  private[queries] def streamTemporalFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.TemporalCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val (envs, sentinel) = temporalCaseInput(s, dir, c)
    replay(s, chunks(envs, 3) :+ Seq(sentinel), mode = "append",
        restarts = restarts) { ds =>
      val probeSide = ds.filter(_.isProbe)
        .select($"key".as("k"), $"eventTime".as("ts"),
          $"probeId".as("probe_id"))
      val versionSide = ds.filter(!_.isProbe)
        .select($"key".as("k"), $"eventTime".as("ts"),
          unix_millis($"eventTime").as("vms"), $"value".as("cents"))
      TemporalJoin.asOfStream(probeSide, versionSide,
        Seq("k"), "ts", Seq("vms", "cents"), watermarkDelay = "1 hour")
    }
      .filter($"probe_id" >= 0)
      .select($"k", $"probe_id",
        coalesce($"r_vms", lit(-1L)).as("v_ts"),
        coalesce($"r_cents", lit(-1L)).as("v_cents"))
  }

  /** The SAME [[StreamFuzzGen.TemporalCase]] through the BOUNDED-dim
    * route ([[TemporalJoin.asOfStreamStatic]] — transformWithState
    * initial state loading the full version history per key before the
    * first batch): only probes stream; versions are a batch dim deduped
    * to the operator's one-version-per-(key, ms) contract (latest
    * (micro-ts, id) wins — the same rule the stream-stream arrival order
    * produces). For an ascending replay the two temporal routes must
    * agree row-for-row.
    */
  private[queries] def streamTemporalFuzzReplayStatic(s: SparkSession,
      dir: String, c: StreamFuzzGen.TemporalCase): DataFrame = {
    import s.implicits._
    val (envs, sentinel) = temporalCaseInput(s, dir, c)
    val (probes, versions) = envs.partition(_.isProbe)
    // dim contract: one version per (key, ms) — latest (micro-ts, id)
    val versionsDf = versions.groupBy(v => (v.key, v.eventTime.getTime))
      .values.map(_.maxBy(v => (micros(v.eventTime), v.probeId))).toSeq
      .map(v => (v.key, v.eventTime, v.eventTime.getTime, v.value))
      .toDF("k", "ts", "vms", "cents")
    replay(s, chunks(probes, 3) :+ Seq(sentinel), mode = "append")(in =>
      TemporalJoin.asOfStreamStatic(
        in.select($"key".as("k"), $"eventTime".as("ts"),
          $"probeId".as("probe_id")),
        versionsDf, Seq("k"), "ts", Seq("vms", "cents"),
        watermarkDelay = "1 hour"))
      .filter($"probe_id" >= 0)
      .select($"k", $"probe_id",
        coalesce($"r_vms", lit(-1L)).as("v_ts"),
        coalesce($"r_cents", lit(-1L)).as("v_cents"))
  }

  /** MemoryStream replay for a [[StreamFuzzGen.LatenessCase]]: the
    * filtered base replays ascending in three batches, the resend rows
    * (fresh ids, original timestamps, 1 s clear of the engine-filter
    * boundary) follow in one batch — splitting into allowed-late
    * re-fires and side-output rows inside the processor — and a
    * far-future sentinel fires + cleans every remaining window. The
    * folded changelog must equal the case's base+allowed-late counts
    * plus the too-late side-output rows (its DuckDB restatement).
    */
  private[queries] def streamLatenessFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.LatenessCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    val ins = eventsInput[AllowedLateness.LWIn](s, dir, c.filterSql,
      col("event_type").as("etype"),
      col("ts").cast("timestamp").as("eventTime"), col("event_id").as("id"))
    if (ins.isEmpty)
      return s.emptyDataFrame.select(lit(false).as("late"),
        lit("").as("event_type"), lit(0L).as("ws_ms"), lit(0L).as("n"),
        lit(0L).as("id"))
    val mMs = ins.last.eventTime.getTime
    val resend = ins.collect {
      case r if r.id % c.reMod == c.reRes &&
          r.eventTime.getTime >= mMs - c.delayMs + 1000L =>
        r.copy(id = r.id + c.idOff)
    }
    val sentinel = Seq(AllowedLateness.LWIn("\u0000flush", farFuture(mMs), 0L))
    val sink = replay(s,
        chunks(ins, 3) ++ Seq(resend).filter(_.nonEmpty) :+ sentinel,
        restarts = restarts)(in => AllowedLateness.tumbleCounts(
      in.withWatermark("eventTime", s"${c.delayMs} milliseconds"),
      windowMs = c.windowMs, latenessMs = c.latenessMs, delayMs = c.delayMs))
    foldChangelog(sink, "kind")
      .filter($"etype" =!= "\u0000flush")
      .select($"late", $"etype".as("event_type"), $"ws".as("ws_ms"),
        $"n", $"id")
  }

  /** The stamped-clock tumble replay of the idleness/alignment rows:
    * the fetch `rounds`, one round carrying a far-future "sentinel" row to
    * each `flushed` source and one empty round are stamped with the
    * combined watermark ([[WatermarkMux.stamp]]) and counted per tumbling
    * window; the sentinel's own counts drop.
    */
  private def stampedTumbleReplay(s: SparkSession,
      rounds: Seq[Seq[(Int, (String, Long))]], flushed: Seq[Int],
      lastMs: Long, delayMs: Long, idleTimeoutRounds: Int,
      windowMs: Long): DataFrame = {
    import s.implicits._
    val sentinel = flushed.map(j => (j, ("sentinel", lastMs + FarFutureMs)))
    replay(s, WatermarkMux.stamp(rounds ++ Seq(sentinel, Nil), delayMs,
        idleTimeoutRounds), mode = "append")(
      WatermarkMux.idleTumbleCounts(_, windowMs))
      .filter(col("etype") =!= "sentinel")
  }

  /** MemoryStream replay for a [[StreamFuzzGen.IdleCase]]: the sent
    * rows (stalled sources truncated at their cutoffs) replay in equal
    * TIME-SLICE rounds through [[WatermarkMux.stamp]] —
    * the combined idleness-aware clock — into the stamped-clock tumble
    * operator; the closing sentinel goes only to UNSTALLED sources, so
    * the tail windows close only if idle marking actually released the
    * stalled sources from the watermark min. Output window starts are
    * epoch-micros BIGINTs (ms buckets × 1000 — widths divide a day, so
    * both engines' buckets align).
    */
  private[queries] def streamIdleFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.IdleCase): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir)
    val mn = micros(rows.head.ts)
    val mx = micros(rows.last.ts)
    def srcOf(e: Ev): Int = Math.floorMod(e.user_id, c.nSources.toLong).toInt
    def sent(e: Ev): Boolean = c.cutoffs(srcOf(e)) match {
      case Some(cut) => micros(e.ts) * 16 < mn * 16 + (mx - mn) * cut
      case None => true
    }
    val span = mx - mn + 1
    def sliceOf(e: Ev): Int =
      math.min(c.rounds - 1, ((micros(e.ts) - mn) * c.rounds / span).toInt)
    val rounds: Seq[Seq[(Int, (String, Long))]] = (0 until c.rounds).map { r =>
      rows.filter(e => sent(e) && sliceOf(e) == r)
        .map(e => (srcOf(e), (e.event_type, e.ts.getTime)))
    }
    stampedTumbleReplay(s, rounds,
        c.cutoffs.zipWithIndex.collect { case (None, j) => j },
        rows.last.ts.getTime, delayMs = c.delayMinutes * 60000L,
        idleTimeoutRounds = c.idleTimeoutRounds, c.winMinutes * 60000L)
      .select(($"ws" * 1000L).as("ws_us"), $"etype".as("event_type"), $"n")
      .orderBy($"ws_us", $"event_type")
  }

  /** MemoryStream replay for a [[StreamFuzzGen.WmAlignCase]]: the
    * unbalanced split drains through
    * [[WatermarkMux.alignRounds]] under the case's
    * drift cap and round size, then replays through the stamped-clock
    * tumble operator (no idleness — alignment only paces). The folded
    * counts must equal the full tumble restatement: pausing may reorder
    * rounds, never lose, duplicate, or outrun a row.
    */
  private[queries] def streamWmAlignFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.WmAlignCase): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir)
    val fast = rows.filter(e => Math.floorMod(e.user_id, c.mod.toLong) == 0L)
      .map(e => (e.event_type, e.ts.getTime)).toVector
    val slow = rows.filter(e => Math.floorMod(e.user_id, c.mod.toLong) != 0L)
      .map(e => (e.event_type, e.ts.getTime)).toVector
    val spanMs = (rows.last.ts.getTime - rows.head.ts.getTime).max(1L)
    val rounds = WatermarkMux.alignRounds(
      Map(0 -> fast, 1 -> slow), (r: (String, Long)) => r._2,
      maxDriftMs = spanMs / c.driftDiv,
      rowsPerRound =
        (math.min(fast.size, slow.size) / c.roundsDiv).max(1))
    stampedTumbleReplay(s, rounds, Seq(0, 1), rows.last.ts.getTime,
        delayMs = 0L, idleTimeoutRounds = 1000000, c.winMinutes * 60000L)
      .select(($"ws" * 1000L).as("ws_us"), $"etype".as("event_type"), $"n")
      .orderBy($"ws_us", $"event_type")
  }

  /** Two-sided envelope for [[streamCoGroupFuzzReplay]]. */
  case class CgEnv(k: String, isLeft: Boolean, ts: java.sql.Timestamp,
      id: Long, cents: Long)

  /** MemoryStream replay for a [[StreamFuzzGen.CoGroupCase]]: one
    * watermarked stream splits into the parity sides, which coGroup
    * under the case's tumbling or sliding window
    * ([[graft.streaming.CoGroup]]); the callback emits ONE row per
    * (key, window) fire carrying both sides' aggregates — one-sided
    * fires included. A far-future left-side sentinel (disjoint key)
    * flushes the tail windows; its own window never fires.
    */
  private[queries] def streamCoGroupFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.CoGroupCase): DataFrame = {
    import s.implicits._
    val rows =
      eventsInput[(String, Long, java.sql.Timestamp, Long, Boolean, Boolean)](
          s, dir, s"(${c.leftFilterSql}) OR (${c.rightFilterSql})",
          strCol(c.keySql, "k"), col("event_id"), tsCol, centsCol,
          expr(c.leftFilterSql).as("lf"), expr(c.rightFilterSql).as("rf"))
      .collect {
        case (k, id, ts, cents, lf, _) if id % 2 == 0 && lf =>
          CgEnv(k, isLeft = true, ts, id, cents)
        case (k, id, ts, cents, _, rf) if id % 2 == 1 && rf =>
          CgEnv(k, isLeft = false, ts, id, cents)
      }
    if (rows.isEmpty)
      return s.emptyDataFrame.select(
        lit(null).cast("timestamp_ntz").as("window_start"),
        lit("").as("k"), lit(0L).as("l_n"), lit(0L).as("r_n"),
        lit(0L).as("l_cents"), lit(0L).as("r_max_id"))
    val sentinel = CgEnv("\u0000flush", isLeft = true,
      farFuture(rows.last.ts.getTime), -1L, 0L)
    val outSchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("k", StringType),
      StructField("l_n", LongType), StructField("r_n", LongType),
      StructField("l_cents", LongType), StructField("r_max_id", LongType)))
    val fn = (key: String, winStart: Long, ls: Seq[Row], rs: Seq[Row]) =>
      Iterator.single(new GenericRow(Array[Any](
        new java.sql.Timestamp(winStart), key,
        ls.length.toLong, rs.length.toLong,
        ls.map(_.getAs[Long]("cents")).sum,
        if (rs.isEmpty) -1L else rs.map(_.getAs[Long]("id")).max)))
    replay(s, chunks(rows, 2) :+ Seq(sentinel), mode = "append") { ev =>
      val lhs = ev.filter(_.isLeft).toDF()
        .select($"k", $"ts", $"id", $"cents")
      val rhs = ev.filter(!_.isLeft).toDF()
        .select($"k", $"ts", $"id", $"cents")
      if (!c.isSliding)
        CoGroup.tumbling(lhs, rhs, Seq("k"), "ts",
          c.winMinutes * 60000L, "1 second", fn, outSchema)
      else
        CoGroup.sliding(lhs, rhs, Seq("k"), "ts",
          c.winMinutes * 60000L, c.slideMinutes * 60000L, "1 second",
          fn, outSchema)
    }
      .filter($"k" =!= "\u0000flush")
      .select($"window_start".cast("timestamp_ntz").as("window_start"),
        $"k", $"l_n", $"r_n", $"l_cents", $"r_max_id")
  }

  /** Tagged proc-time envelope for [[streamPtJoinFuzzReplay]]: one
    * MemoryStream carries version upserts/clears and probes so the
    * cross-side arrival order is pinned (ProcTimeJoin.joinTagged's
    * single-stream front door exists for exactly this).
    */
  case class PtEnv(k: String, isProbe: Boolean, kind: Byte, pid: Long,
      vid: Long, vcents: Long)

  /** MemoryStream replay for a [[StreamFuzzGen.PtJoinCase]]: the tagged
    * stream replays in (micro-ts, event_id, version-before-probe) order
    * through [[ProcTimeJoin.joinTagged]] — each probe joins the version
    * current at its ARRIVAL (ValueState overwritten in element order,
    * delete-marked version ops clearing it), which the case's oracle
    * restates as a LAST_VALUE-over-preceding-arrivals window. No
    * watermark, no sentinel: proc-time semantics are arrival semantics,
    * and the ascending replay makes arrival order deterministic.
    */
  private[queries] def streamPtJoinFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.PtJoinCase): DataFrame = {
    import s.implicits._
    val rows = eventsInput[(String, Long, Long, Boolean, Boolean)](s, dir,
      s"(${c.probeFilterSql}) OR (${c.versionFilterSql})",
      strCol(c.keySql, "k"), col("event_id"), centsCol,
      expr(c.probeFilterSql).as("pf"), expr(c.versionFilterSql).as("vf"))
    val envs = rows.flatMap { case (k, id, cents, pf, vf) =>
      (if (vf) Seq(PtEnv(k, isProbe = false,
        if (id % c.delMod == c.delRes) Changelog.Delete else Changelog.Insert,
        -1L, id, cents)) else Nil) ++
      (if (pf) Seq(PtEnv(k, isProbe = true, Changelog.Insert, id, 0L, 0L))
       else Nil)
    }
    val leftSchema = StructType(Seq(
      StructField("k", StringType), StructField("pid", LongType)))
    val rightStruct = StructType(Seq(
      StructField("vid", LongType), StructField("vcents", LongType)))
    replay(s, chunks(envs, 3), mode = "append")(in =>
      ProcTimeJoin.joinTagged(
        in.toDF().select($"k".as("__pj_key"), $"isProbe".as("__pj_probe"),
          $"kind".as("__pj_kind"), struct($"k", $"pid").as("__pj_l"),
          struct($"vid", $"vcents").as("__pj_r")),
        leftSchema, rightStruct, leftOuter = true).toDF())
      .select($"k", $"pid".as("probe_id"),
        coalesce($"r_vid", lit(-1L)).as("v_id"),
        coalesce($"r_vcents", lit(-1L)).as("v_cents"))
  }

  /** MemoryStream replay for a [[StreamFuzzGen.BcCase]]: the tagged
    * control/data stream replays in (ts, event_id, control-before-data)
    * order through [[ConnectedStreams.BroadcastRulesProcessor]] — each
    * data row is evaluated against the rules map exactly as of its
    * ARRIVAL (control PUT/REMOVEs applied strictly in element order),
    * which the case's oracle restates per (key, rule) as the last
    * preceding control op on the arrival timeline. No watermark, no
    * sentinel: broadcast-state evaluation is arrival semantics, and the
    * ascending replay makes arrival order deterministic.
    */
  private[queries] def streamBroadcastFuzzReplay(s: SparkSession,
      dir: String, c: StreamFuzzGen.BcCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    import graft.streaming.ConnectedStreams
    implicit val envEnc = Encoders.product[ConnectedStreams.RuleEnv]
    implicit val outEnc = Encoders.product[ConnectedStreams.RuleMatch]
    val rows = eventsInput[(String, Long, Long, Boolean, Boolean)](s, dir,
      s"(${c.ctrlFilterSql}) OR (${c.dataFilterSql})",
      strCol(c.keySql, "k"), col("event_id"), centsCol,
      expr(c.ctrlFilterSql).as("cf"), expr(c.dataFilterSql).as("df"))
    val envs = rows.flatMap { case (k, id, cents, cf, df) =>
      (if (cf) Seq(ConnectedStreams.RuleEnv(k, isCtrl = true,
        s"r${id % c.nRules}", isDel = id % c.delMod == c.delRes,
        version = id, thrCents = (1 + id % 9) * 2500L,
        dataId = -1L, cents = 0L)) else Nil) ++
      (if (df) Seq(ConnectedStreams.RuleEnv(k, isCtrl = false, rule = "",
        isDel = false, version = 0L, thrCents = 0L,
        dataId = id, cents = cents)) else Nil)
    }
    replay(s, chunks(envs, 3), mode = "append", restarts = restarts)(
      _.groupByKey(_.key)
        .transformWithState(new ConnectedStreams.BroadcastRulesProcessor,
          TimeMode.None(), OutputMode.Append()).toDF())
      .select($"k", $"data_id", $"rule_name", $"version", $"thr_cents")
  }

  /** Quantized-timestamp row for [[streamTsortFuzzReplay]]. */
  case class TsRow(k: String, qts: java.sql.Timestamp, id: Long)

  /** MemoryStream replay for a [[StreamFuzzGen.TsortCase]]: filtered
    * events, event times QUANTIZED to the case's bucket, replay as 3
    * contiguous ascending chunks each SCRAMBLED by the shared
    * (id·131) mod 997 hash — bounded disorder inside every micro-batch
    * that [[graft.streaming.TemporalSort]] must undo, while chunk
    * contiguity keeps every row ahead of the advancing watermark (no
    * row is late by construction). The sorted output chains into the
    * per-key [[graft.streaming.TemporalSort.SeqStampProcessor]]; the
    * emitted (k, id, seq) set must equal ROW_NUMBER over (quantized
    * ts, chunk, hash, id) — arrival order within equal timestamps is
    * the reference's RowTimeSortOperator contract, and the stamper
    * makes it a hashable value.
    */
  private[queries] def streamTsortFuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.TsortCase,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    implicit val stampEnc =
      Encoders.product[graft.streaming.TemporalSort.SeqStamped]
    val quantMs = c.quantMinutes * 60000L
    val rows = eventsInput[(String, java.sql.Timestamp, Long)](s, dir,
        c.filterSql, strCol(c.keySql, "k"), tsCol, col("event_id"))
      .map { case (k, ts, id) =>
        TsRow(k, new java.sql.Timestamp(
          ts.getTime - Math.floorMod(ts.getTime, quantMs)), id)
      }
    val batches = chunks(rows, 3)
      .map(_.sortBy(r => ((r.id * 131) % 997, r.id)))
    val maxQ = rows.map(_.qts.getTime).max
    val sentinel = Seq(TsRow("\u0000flush", new java.sql.Timestamp(
      maxQ + c.delayMinutes * 60000L + 2 * quantMs), -1L))
    replay(s, batches :+ sentinel, restarts = restarts) { in =>
      val watermarked = in
        .withWatermark("qts", s"${c.delayMinutes} minutes").as[TsRow]
      graft.streaming.TemporalSort.sorted[String, TsRow](
          watermarked, _.k, _.qts.getTime)
        .groupByKey(_.k)
        .transformWithState(
          new graft.streaming.TemporalSort.SeqStampProcessor[TsRow](_.id),
          TimeMode.None(), OutputMode.Update()).toDF()
    }
      .filter($"k" =!= "\u0000flush")
      .select($"k", $"id", $"seq")
  }

  /** MemoryStream replay for a [[StreamFuzzGen.T1Case]]: filtered
    * events replay (ts, id)-sorted per key through
    * [[StatefulOps.FastTop1Processor]] (top1 arm — one champion
    * ValueState per key, -U/+U dethronings) or
    * [[StatefulOps.AppendOnlyFirstNProcessor]] (firstn arm — counter
    * state only); the folded changelog must equal the batch
    * ROW_NUMBER restatement. `restarts` threads the top1 arm's
    * single-record state through the checkpoint stop/restart battery.
    */
  private[queries] def streamT1FuzzReplay(s: SparkSession, dir: String,
      c: StreamFuzzGen.T1Case,
      restarts: Seq[Int] = Nil): DataFrame = {
    import s.implicits._
    implicit val chEnc =
      Encoders.product[StatefulOps.Change[String, StatefulOps.Ranked]]
    val rows = eventsInput[(String, java.sql.Timestamp, Long, Long)](s, dir,
        c.filterSql, strCol(c.keySql, "k"), tsCol, col("event_id"),
        longCol(c.sortSql, "srt"))
      .map { case (k, ts, id, srt) =>
        StatefulOps.Ranked(k, id,
          if (c.arm == "top1") srt else micros(ts))
      }
    val sink = replay(s, chunks(rows, 3), restarts = restarts)(
      _.groupByKey(_.key)
        .transformWithState(
          if (c.arm == "top1") new StatefulOps.FastTop1Processor
          else new StatefulOps.AppendOnlyFirstNProcessor(c.n),
          TimeMode.None(), OutputMode.Update()).toDF())
    foldChangelog(sink, "kind")
      .select($"value.key".as("k"), $"value.id".as("id"),
        $"value.sort".as("srt"))
  }

  /** MemoryStream replay for a [[WindowFuzzGen.CountWinCase]]: filtered
    * events replay (micro-ts, id)-sorted per key through the tumbling
    * [[StatefulOps.CountWindowProcessor]] (every FULL window of `size`
    * rows emits its value sum; partial tails stay pending) or the
    * sliding [[StatefulOps.CountSlideProcessor]] (fires at every
    * `slide`-th row over the trailing `size`, partial heads allowed) —
    * the reference's countWindow(size[, slide]) contracts under random
    * keys/values/sizes, restated as ROW_NUMBER arithmetic.
    */
  private[queries] def streamCountWinFuzzReplay(s: SparkSession,
      dir: String, c: WindowFuzzGen.CountWinCase): DataFrame = {
    import s.implicits._
    val rows = eventsInput[StatefulOps.Change[String, Long]](s, dir,
      c.filterSql, lit(Changelog.Insert).as("kind"), strCol(c.keySql, "key"),
      longCol(c.valueSql, "value"))
    countReplay(s, rows, c.size, if (c.sliding) Some(c.slide) else None)
      .select($"key".as("k"), col(if (c.sliding) "fire_id" else "window_id"),
        $"sum".as("sum_v"), $"n")
  }

  /** The one count-window replay: prepared Insert rows stream per key
    * through the tumbling [[StatefulOps.CountWindowProcessor]] (`slide`
    * None: every FULL window of `size` rows emits its value sum, partial
    * tails stay pending) or the sliding [[StatefulOps.CountSlideProcessor]]
    * (fires at every `slide`-th row over the trailing `size`). Output
    * columns: key, window_id (tumbling) or fire_id (sliding), sum, n.
    */
  private def countReplay(s: SparkSession,
      rows: Seq[StatefulOps.Change[String, Long]], size: Int,
      slide: Option[Int]): DataFrame = {
    import s.implicits._
    replay(s, chunks(rows, 2)) { in =>
      val keyed = in.groupByKey(_.key)
      slide match {
        case None => keyed
          .transformWithState(new StatefulOps.CountWindowProcessor(size),
            TimeMode.None(), OutputMode.Update())
          .toDF().withColumnRenamed("windowId", "window_id")
        case Some(sl) => keyed
          .transformWithState(new StatefulOps.CountSlideProcessor(size, sl),
            TimeMode.None(), OutputMode.Update())
          .toDF().withColumnRenamed("fireId", "fire_id")
      }
    }
  }

  /** Streaming count-window replays (IntegrationQueries.q_stream_countwin
    * and q_stream_countslide live in that module's inventory; the
    * harness internals live here): a deterministic third of the users,
    * each event an Insert of its id under its user key, in (event-time,
    * id) order. countWindow(size) emits every full window's event-id sum
    * per user, partial tails pending in state; countWindow(size, slide)
    * emits every `slide`-th row's sum over the last `size` rows — the
    * CountEvictor's trailing retention made oracle-visible.
    */
  private[queries] def countWindowReplay(s: SparkSession, dir: String,
      size: Int): DataFrame = userCountReplay(s, dir, size, None)

  private[queries] def countSlideReplay(s: SparkSession, dir: String,
      size: Int, slide: Int): DataFrame =
    userCountReplay(s, dir, size, Some(slide))

  private def userCountReplay(s: SparkSession, dir: String, size: Int,
      slide: Option[Int]): DataFrame = {
    import s.implicits._
    val id = if (slide.isEmpty) "window_id" else "fire_id"
    countReplay(s, sortedEvents(s, dir).filter(_.user_id % 3 == 0).map(e =>
        StatefulOps.Change(Changelog.Insert, e.user_id.toString, e.event_id)),
        size, slide)
      .select($"key", col(id), $"sum".as("sum_ids"), $"n")
      .orderBy($"key", col(id))
  }

  /** Temporal-sort replay with a chained order auditor
    * (IntegrationQueries.q_stream_sort): events replay through
    * TemporalSort.sorted, whose append output feeds
    * TemporalSort.OrderAuditProcessor — a SECOND stateful operator in
    * the same query — counting per-key rows and order violations at
    * MICROSECOND granularity. The oracle pins (n = per-user row count,
    * violations = 0): a lost row, duplicate emission, or out-of-order
    * emission each breaks the hash.
    */
  private[queries] def temporalSortReplay(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    implicit val auditEnc =
      Encoders.product[graft.streaming.TemporalSort.OrderAudit]
    // a deterministic third of the users — the per-key sort/audit
    // protocol is volume-independent
    val rows = sortedEvents(s, dir).filter(_.user_id % 3 == 0)
    val maxTs = rows.map(_.ts.getTime).max
    def sentinel(off: Long) = Seq(Ev(-1L, -1L,
      new java.sql.Timestamp(maxTs + off), "flush", 0.0))
    val sink = replay(s, chunks(rows, 2) :+ sentinel(2 * 3600000L)) { in =>
      graft.streaming.TemporalSort.sorted[String, Ev](
          in.withWatermark("ts", "1 hour").as[Ev],
          e => e.user_id.toString, e => e.ts.getTime)
        .groupByKey(e => e.user_id.toString)
        .transformWithState(
          new graft.streaming.TemporalSort.OrderAuditProcessor[Ev](
            e => micros(e.ts)),
          TimeMode.None(), OutputMode.Update()).toDF()
    }
    // n/violations are monotone per key → max = final state
    sink.filter($"key" =!= "-1")
      .groupBy($"key")
      .agg(max($"n").as("n"), max($"violations").as("violations"))
      .orderBy($"key")
  }

  /** Connected-streams replay (IntegrationQueries.q_stream_broadcast):
    * a CONTROL stream of per-user thresholds (batch 1) connects with the
    * event DATA stream (batches 2–4) through ThresholdProcessor — the
    * KeyedBroadcastProcessFunction shape: control rows mutate keyed
    * state, data rows filter against it. With every threshold delivered
    * before any data, the final emission equals a batch filter the
    * oracle can state in SQL.
    */
  private[queries] def broadcastReplay(s: SparkSession,
      dir: String): DataFrame = {
    import s.implicits._
    implicit val flaggedEnc =
      Encoders.product[graft.streaming.ConnectedStreams.Flagged]
    import graft.streaming.ConnectedStreams.{Tagged, ThresholdProcessor}
    val evs = sortedEvents(s, dir)
    val controls = evs.map(_.user_id).distinct.sorted.map(u =>
      Tagged(u.toString, isControl = true, threshold = u % 100, value = 0L))
    val data = evs.map { e =>
      val cents = math.round(e.value * 100)
      Tagged(e.user_id.toString, isControl = false, threshold = 0L,
        value = cents)
    }
    val sink = replay(s, controls +: chunks(data, 2))(_.groupByKey(_.key)
      .transformWithState(new ThresholdProcessor(defaultThreshold = 0L),
        TimeMode.None(), OutputMode.Update()).toDF())
    sink.select($"key", $"value", $"threshold")
      .orderBy($"key", $"value")
  }

  /** Streaming semi/anti join replay (IntegrationQueries
    * .q_stream_semi/anti): purchases stream as the LEFT side per user,
    * views as the RIGHT; after the insert replay a batch of view
    * DELETES (every view of users ≡ 0 mod 7, plus event_id % 3 == 0
    * churn) drives right counts back across the zero boundary — all the
    * way to EMPTY for the mod-7 users, so the anti side re-emits and
    * the semi side retracts for real. The folded changelog must equal
    * the batch EXISTS / NOT EXISTS oracle over surviving views.
    */
  private[queries] def semiAntiReplay(s: SparkSession, dir: String,
      semi: Boolean): DataFrame = {
    import s.implicits._
    import graft.streaming.SemiAntiJoin.{JoinInput, JoinOutput, SemiAntiProcessor}
    implicit val outEnc = Encoders.product[JoinOutput]
    val evs = sortedEvents(s, dir)
    val inserts = evs.collect {
      case e if e.event_type == "purchase" =>
        JoinInput(e.user_id.toString, isLeft = true, e.event_id, 1)
      case e if e.event_type == "view" =>
        JoinInput(e.user_id.toString, isLeft = false, e.event_id, 1)
    }
    val deletes = evs.collect {
      case e if e.event_type == "view" &&
          (e.user_id % 7 == 0 || e.event_id % 3 == 0) =>
        JoinInput(e.user_id.toString, isLeft = false, e.event_id, -1)
    }
    val sink = replay(s, chunks(inserts, 2) :+ deletes)(_.groupByKey(_.key)
      .transformWithState(new SemiAntiProcessor(semi),
        TimeMode.None(), OutputMode.Update()).toDF())
    foldChangelog(sink, "kind")
      .select($"key", $"id")
      .orderBy($"key", $"id")
  }

  /** q_stream_topn/groupagg/minibatch/minmax's input: a deterministic
    * third of the events per type, (event_id, event_type).
    */
  private def idThirdByType(s: SparkSession, dir: String): Seq[(Long, String)] = {
    import s.implicits._
    eventsInput[(Long, String)](s, dir, "event_id % 3 = 0",
      col("event_id"), col("event_type"))
  }

  /** The q_stream_groupagg (per-record) and q_stream_minibatch (one step
    * per key per micro-batch) replay: per-type SUM/COUNT over the
    * inserts, then a batch of DELETES (every event_id divisible by 5).
    */
  private def retractSumReplay(s: SparkSession, dir: String,
      miniBatch: Boolean): DataFrame = {
    import s.implicits._
    implicit val chEnc = Encoders.product[StatefulOps.Change[String, Long]]
    val evs = idThirdByType(s, dir)
    val inserts = evs.map { case (id, tpe) =>
      StatefulOps.Change(Changelog.Insert, tpe, id) }
    val deletes = evs.collect { case (id, tpe) if id % 5 == 0 =>
      StatefulOps.Change(Changelog.Delete, tpe, id) }
    val sink = replay(s, chunks(inserts, 2) :+ deletes)(_.groupByKey(_.key)
      .transformWithState(
        new StatefulOps.RetractSumProcessor[String, Long](miniBatch),
        TimeMode.None(), OutputMode.Update()).toDF())
    foldChangelog(
      sink.select($"kind", $"value.key".as("event_type"),
        $"value.sum".as("sum_id"), $"value.count".as("n")), "kind")
      .orderBy($"event_type")
  }

  /** Output of the hand coGroup rows (q_stream_cogroup/coslide/cosession):
    * per fired (user, window), the click and purchase counts and the
    * exact cents over both sides.
    */
  private val coGroupSchema = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("user_id", LongType),
    StructField("n_clicks", LongType), StructField("n_purchases", LongType),
    StructField("sum_cents", LongType)))

  private def coGroupRow(windowStart: java.sql.Timestamp, user: Long,
      clicks: Seq[Row], purchases: Seq[Row]): Iterator[Row] = {
    // exact cents via the double's shortest decimal rendering — no double
    // addition. The testdata invariant is exact-2dp values (the whole
    // dec2() oracle convention rests on it); the HALF_UP is a never-crash
    // guard for >2dp data
    def cents(r: Row): Long =
      (BigDecimal(java.lang.Double.toString(r.getAs[Double]("value")))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact
    Iterator.single(new GenericRow(Array[Any](windowStart, user,
      clicks.length.toLong, purchases.length.toLong,
      clicks.map(cents).sum + purchases.map(cents).sum)))
  }

  /** The hand coGroup rows' result: sentinel rows (user_id -1) dropped. */
  private def coGroupResult(sink: DataFrame): DataFrame =
    sink.filter(col("user_id") >= 0)
      .select(col("window_start").cast("timestamp_ntz").as("window_start"),
        col("user_id"), col("n_clicks"), col("n_purchases"), col("sum_cents"))
      .orderBy(col("window_start"), col("user_id"))

  /** q_stream_cogroup/coslide: the clicks and purchases of the users
    * `keep` selects buffer per (user, window) under a `sizeMs`/`slideMs`
    * assigner (slide = size is the tumbling one) and ONE callback sees
    * both buffers when the watermark fires the window; a far-future
    * click sentinel flushes the tail windows.
    */
  private def clickPurchaseCoGroup(s: SparkSession, dir: String,
      keep: Long => Boolean, sizeMs: Long, slideMs: Long): DataFrame = {
    import s.implicits._
    val rows = sortedEvents(s, dir).filter(e =>
      (e.event_type == "click" || e.event_type == "purchase") && keep(e.user_id))
    val sentinel = Ev(-1L, -1L, farFuture(rows.last.ts.getTime), "click", 0.0)
    coGroupResult(replay(s, chunks(rows, 2) :+ Seq(sentinel),
        mode = "append") { ev =>
      def side(tpe: String) =
        ev.filter($"event_type" === tpe).select($"user_id", $"ts", $"value")
      CoGroup.sliding(side("click"), side("purchase"), Seq("user_id"), "ts",
        sizeMs, slideMs, "1 second",
        (key, winStart, ls, rs) =>
          coGroupRow(new java.sql.Timestamp(winStart), key.toLong, ls, rs),
        coGroupSchema)
    })
  }

  val queries: Map[String, QFn] = Map(

    // Streaming tumbling-window aggregate: the same GROUP BY
    // window(ts, 1h), event_type plan as q_window_tumble, executed
    // incrementally over replayed micro-batches with streaming agg state; the
    // complete-mode sink's final table must equal the batch result.
    "q_stream_tumble" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      replay(s, chunks(rows, 2), mode = "complete")(_
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select($"window.start".cast("timestamp_ntz").as("window_start"),
          $"window.end".cast("timestamp_ntz").as("window_end"),
          $"event_type", $"n", $"sum_value"))
        .orderBy($"window_start", $"event_type")
    }),

    // Watermark late-data semantics made driver-visible: the same tumble
    // aggregate under withWatermark + APPEND mode — each window emits
    // exactly once when the watermark passes its end. Batch 4 re-sends
    // the 50 earliest rows (fresh ids, original early timestamps) AFTER
    // the watermark has advanced past their windows: the engine MUST
    // drop them (reference numLateRecordsDropped; LateData scaladoc) or
    // the early windows' counts / re-emission diverge the hash. A final
    // far-future sentinel closes the last real window; its own window
    // never closes so append mode never emits it.
    "q_stream_late" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val lateAgain = rows.take(50).map(e =>
        e.copy(event_id = e.event_id + 9000000L))
      val maxTs = micros(rows.last.ts)
      val sentinel =
        Ev(9999999L, 0L, farFuture(maxTs / 1000L), "sentinel", 0.0)
      replay(s, chunks(rows, 3) ++ Seq(lateAgain, Seq(sentinel)),
          mode = "append")(_
        .withWatermark("ts", "1 second")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select($"window.start".cast("timestamp_ntz").as("window_start"),
          $"window.end".cast("timestamp_ntz").as("window_end"),
          $"event_type", $"n", $"sum_value"))
        .orderBy($"window_start", $"event_type")
    }),

    // Streaming keep-last dedup through the SQL rank-pattern recognition
    // (rn = 1 ORDER BY ts DESC → StreamExecDeduplicate keep-last): the
    // emitted +I/-U/+U retract stream folds to one final row per user.
    "q_stream_dedup_last" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val sink = replay(s, chunks(rows, 2))(in => StreamingRank.rewrite(
        in.toDF()
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy($"user_id").orderBy($"ts".desc)))
          .filter($"rn" === 1).drop("rn")))
      foldChangelog(sink, Changelog.RowKindCol)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value".as("last_value"))
        .orderBy($"user_id")
    }),

    // Streaming retractable top-n: inserts arrive over 3 batches, then a
    // batch of DELETES (every event_id divisible by 7) — the reference's
    // retractable rank changelog contract, through the top-n operator's
    // DataFrame entry. The emitted diff stream folds to the top-3
    // event_ids per type among surviving rows.
    "q_stream_topn" -> ((s, dir) => {
      import s.implicits._
      val evs = idThirdByType(s, dir)
      val inserts = evs.map { case (id, tpe) => (Changelog.Insert, tpe, id, id) }
      val deletes = evs.collect { case (id, tpe) if id % 7 == 0 =>
        (Changelog.Delete, tpe, id, id) }
      val sink = replay(s, chunks(inserts, 2) :+ deletes)(in =>
        StreamingRank.topN(
          in.toDF(Changelog.RowKindCol, "event_type", "id", "sort"),
          Seq("event_type"), Seq(("sort", true)), 3))
      foldChangelog(sink, Changelog.RowKindCol)
        .select($"event_type", $"id")
        .orderBy($"event_type", $"id")
    }),

    // Streaming SQL rank RECOGNITION end-to-end (the planner-rule path,
    // not the processor called directly as q_stream_topn does): the
    // idiomatic row_number-filter plan over an append-only stream is
    // recognized by StreamingRank.rewrite, routed to the top-n diff
    // operator, and its folded changelog must equal the batch top-3
    // per type by (value DESC, event_id).
    "q_stream_rank" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"event_type").orderBy($"value".desc, $"event_id")
      val sink = replay(s, chunks(rows, 2))(in => StreamingRank.rewrite(
        in.toDF().select($"event_type", $"event_id", $"value")
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= 3).drop("rn")))
      foldChangelog(sink, Changelog.RowKindCol)
        .orderBy($"event_type", $"event_id")
    }),

    // Streaming mixed-mode temporal join: purchase probes replay as a
    // stream against the BOUNDED views dim loaded into keyed state at
    // query start (TemporalJoin.asOfStreamStatic — the reference's
    // versioned-dim-table shape). Probes resolve watermark-driven; two
    // far-future sentinel probes push the watermark past every real one
    // so the append sink carries the complete result, which must equal
    // the batch ASOF oracle (same SQL as q_join_asof).
    "q_stream_asof" -> ((s, dir) => {
      import s.implicits._
      val probes = eventsInput[(Long, Long, java.sql.Timestamp)](s, dir,
        "user_id % 2 = 0 AND event_type = 'purchase'",
        $"event_id".as("p_id"), $"user_id", tsCol)
      val dim = t(s, dir, "events").filter($"user_id" % 2 === 0)
        .filter($"event_type" === "view")
        .select($"event_id".as("v_id"), $"user_id",
          $"ts".cast("timestamp").as("ts"), $"value".as("v_value"))
      val maxTs = probes.map(_._3.getTime).max
      def sentinel(off: Long) =
        Seq((-1L, -1L, new java.sql.Timestamp(maxTs + off)))
      // 1h watermark delay: probes replay in ascending (ts, id) order, so
      // the lagging watermark never drops one as late even when a chunk
      // boundary splits equal timestamps; ONE sentinel at max+2h pushes
      // the watermark to max+1h > every real probe at the end (each
      // sentinel batch costs two micro-batches — data + timer-fire)
      val sink = replay(s, chunks(probes, 2) :+ sentinel(7200000L))(in =>
        TemporalJoin.asOfStreamStatic(in.toDF("p_id", "user_id", "ts"),
          dim, Seq("user_id"), "ts", Seq("v_id", "v_value"),
          watermarkDelay = "1 hour"))
      sink.filter($"p_id" >= 0)
        .select($"p_id", $"r_v_id", $"r_v_value")
        .orderBy($"p_id")
    }),

    // Streaming per-row SESSION annotation (SessionWindows.annotate —
    // the TVF's non-aggregate shape): events replay in event-time order,
    // sessions close as the watermark passes last+gap, and every emitted
    // row carries its session's bounds; two far-future sentinels flush
    // the open tails. Must equal the batch gaps-and-islands oracle.
    "q_stream_session" -> ((s, dir) => {
      import s.implicits._
      // a deterministic third of the users: the session protocol is
      // exercised identically per key, and replay wall-time (micro-batch
      // machinery, not plan cost) is what the subset buys down
      val rows = sortedEvents(s, dir).filter(_.user_id % 3 == 0)
      val maxTs = rows.map(_.ts.getTime).max
      def sentinel(off: Long) = Seq(Ev(-1L, -1L,
        new java.sql.Timestamp(maxTs + off), "flush", 0.0))
      // 1h watermark delay: the ascending replay never falls behind the
      // lagging watermark even when a chunk boundary splits equal
      // millisecond timestamps; ONE +3h sentinel closes every real
      // session at the end (wm reaches max+2h ≥ last+gap = max+1h, and
      // the timers fire in the sentinel batch's trailing no-data batch)
      val sink = replay(s, chunks(rows, 2) :+ sentinel(3 * 3600000L))(in =>
        SessionWindows.annotate(in.toDF().withWatermark("ts", "1 hour"),
          Seq("user_id"), "ts", "1 hour"))
      sink.filter($"user_id" >= 0)
        .select($"user_id", $"event_id",
          $"window_start".cast("timestamp_ntz").as("window_start"),
          $"window_end".cast("timestamp_ntz").as("window_end"))
        .orderBy($"user_id", $"event_id")
    }),

    // Streaming hopping-window aggregate: the same GROUP BY
    // window(ts, 1h, 30m), event_type plan as q_window_hop (every row in
    // two overlapping windows), executed incrementally over replayed micro-
    // batches; the complete-mode sink's final table must equal the batch
    // result.
    "q_stream_hop" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      replay(s, chunks(rows, 2), mode = "complete")(_
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select($"window.start".cast("timestamp_ntz").as("window_start"),
          $"window.end".cast("timestamp_ntz").as("window_end"),
          $"event_type", $"n", $"sum_value"))
        .orderBy($"window_start", $"event_type")
    }),

    // Streaming interval join (IntervalJoinOperator parity): purchases
    // and errors split out of ONE replayed stream (streaming self-join),
    // matched per user when the error lands within the hour BEFORE the
    // purchase. Inner interval joins emit eagerly on match, so the
    // append sink carries the complete result — same SQL oracle as
    // q_join_interval. Watermarks bound the join state on both sides.
    "q_stream_interval" -> ((s, dir) => {
      import s.implicits._
      // replay only the two types the join consumes — the other 60% of
      // the table would be dropped by the stream's first filter anyway,
      // and replaying them just benchmarks MemoryStream ingestion
      val rows = sortedEvents(s, dir)
        .filter(e => (e.event_type == "purchase" || e.event_type == "error")
          && e.user_id % 2 == 0)
      replay(s, chunks(rows, 2), mode = "append") { in =>
        val ev = in.withWatermark("ts", "1 hour")
        val purchases = ev.filter($"event_type" === "purchase")
          .select($"event_id".as("p_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
        val errors = ev.filter($"event_type" === "error")
          .select($"event_id".as("e_id"), $"user_id".as("e_user"), $"ts".as("e_ts"))
        purchases.join(errors,
            $"p_user" === $"e_user" &&
            $"e_ts" >= $"p_ts" - expr("INTERVAL 1 HOUR") &&
            $"e_ts" <= $"p_ts")
          .select($"p_id", $"e_id")
      }
        .orderBy($"p_id", $"e_id")
    }),

    // Streaming retract group aggregation (GroupAggFunction parity):
    // per-type SUM/COUNT over an insert replay followed by a batch of
    // DELETES (every event_id divisible by 5). The emitted -U/+U
    // changelog folds to the aggregate over surviving rows only — the
    // retraction arithmetic is what's under the oracle gate.
    "q_stream_groupagg" ->
      ((s, dir) => retractSumReplay(s, dir, miniBatch = false)),

    // Retractable MAX (MaxWithRetractAggFunction parity): inserts replay,
    // then each type's 10 LARGEST event_ids retract — every delete hits
    // the current maximum, forcing the recompute-from-remaining path
    // (the only non-O(1) branch) ten times per key. The folded changelog
    // must equal batch MAX/COUNT over the surviving rows.
    "q_stream_minmax" -> ((s, dir) => {
      import s.implicits._
      implicit val chEnc = Encoders.product[StatefulOps.Change[String, Long]]
      val evs = idThirdByType(s, dir)
      val inserts = evs.map { case (id, tpe) =>
        StatefulOps.Change(Changelog.Insert, tpe, id) }
      // the 10 largest ids per type, retracted LARGEST FIRST so every
      // single delete dethrones the then-current max
      val deletes = evs.groupBy(_._2).values.toSeq.flatMap(
        _.sortBy(-_._1).take(10).map { case (id, tpe) =>
          StatefulOps.Change(Changelog.Delete, tpe, id) })
        .sortBy(c => (c.key, -c.value))
      val sink = replay(s, chunks(inserts, 2) :+ deletes)(_.groupByKey(_.key)
        .transformWithState(
          new StatefulOps.RetractMinMaxProcessor[String, Long](isMax = true),
          TimeMode.None(), OutputMode.Update()).toDF())
      foldChangelog(
        sink.select($"kind", $"value.key".as("event_type"),
          $"value.extreme".as("max_id"), $"value.count".as("n")), "kind")
        .orderBy($"event_type")
    }),

    // The SAME replay through MINI-BATCH aggregation (the reference's
    // table.exec.mini-batch / MiniBatchGroupAggFunction): one protocol
    // step per key per micro-batch instead of per record — the folded
    // end state must still equal the per-record oracle exactly, while
    // the emission count collapses from O(records) to O(keys·batches).
    "q_stream_minibatch" ->
      ((s, dir) => retractSumReplay(s, dir, miniBatch = true)),

    // Streaming two-sided FULL OUTER join with retractions
    // (StreamingJoinOperator parity): purchases (left) and views (right)
    // replay as inserts, then every view with v_id divisible by 3
    // RETRACTS. The processor's null-pad / retract-pad-on-first-match /
    // re-pad-on-last-retraction protocol folds to exactly the batch
    // FULL OUTER JOIN over surviving rows.
    "q_stream_outer" -> ((s, dir) => {
      import s.implicits._
      val ev = eventsInput[(Long, Long, String, Double)](s, dir,
        "user_id % 2 = 0", // deterministic half of the users
        $"event_id", $"user_id", $"event_type", $"value")
      val inserts = ev.collect {
        case (id, u, "purchase", v) => (u, Changelog.Insert, true, id, v)
        case (id, u, "view", v) => (u, Changelog.Insert, false, id, v) }
      val deletes = ev.collect { case (id, u, "view", v) if id % 3 == 0 =>
        (u, Changelog.Delete, false, id, v) }
      val sink = replay(s, chunks(inserts, 2) :+ deletes) { ds =>
        val left = ds.filter(_._3).map(r => (r._1, r._2, (r._4, r._5)))
        val right = ds.filter(!_._3).map(r => (r._1, r._2, (r._4, r._5)))
        OuterJoin.outerJoin[Long, (Long, Double), (Long, Double)](
          left, right, OuterJoin.FullOuter).toDF()
      }
      foldChangelog(
        sink.select($"kind", $"key".as("user_id"),
          $"left._1".as("p_id"), $"left._2".as("p_value"),
          $"right._1".as("v_id"), $"right._2".as("v_value")), "kind")
        .orderBy($"user_id", $"p_id", $"v_id")
    }),

    // Streaming unbounded-preceding OVER aggregation (the reference's
    // RowTimeRowsUnboundedPrecedingFunction): purchase/error events
    // replay with event-time timers — each row's running SUM/COUNT per
    // type emits only when the watermark passes its timestamp, so
    // emission is in event-time order and late rows drop. Append-only
    // output; one far-future sentinel flushes the tail. Must equal the
    // batch ROWS UNBOUNDED PRECEDING window oracle.
    "q_stream_over" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
        .filter(e => (e.event_type == "purchase" || e.event_type == "error")
          && e.user_id % 2 == 0)
      val maxTs = rows.map(_.ts.getTime).max
      val timed = rows.map(e =>
        ProcessOps.TimedIn(e.event_type, e.ts, e.event_id))
      val sentinel = Seq(ProcessOps.TimedIn("__flush",
        new java.sql.Timestamp(maxTs + 3 * 3600000L), 0L))
      val sink = replay(s, chunks(timed, 2) :+ sentinel)(
        _.withWatermark("eventTime", "1 hour")
          .groupByKey(_.key)
          .transformWithState(
            new ProcessOps.UnboundedPrecedingOverProcessor(rangeMode = false),
            TimeMode.EventTime(), OutputMode.Append()).toDF())
      sink.filter($"key" =!= "__flush")
        .select($"key".as("event_type"), $"v".as("event_id"),
          $"movingSum".as("moving_sum"), $"n")
        .orderBy($"event_type", $"event_id")
    }),

    // Streaming CEP (CepOperator parity): the q_cep_next strict-adjacency
    // purchase→error pattern over a 4-batch replay through the
    // incremental NFA (CEP.streaming → CEP.step). Matches append exactly
    // once regardless of where micro-batch boundaries fall; the sink must
    // equal the batch MATCH_RECOGNIZE oracle.
    "q_stream_cep" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val evs = rows.map(e =>
        CepQueries.E(e.user_id, micros(e.ts), e.event_type, e.event_id))
      val pat = Pattern.begin[CepQueries.E]("A")(_.event_type == "purchase")
        .next("B")(_.event_type == "error")
      replay(s, chunks(evs, 2))(CEP.streaming[CepQueries.E](_,
          e => e.user_id.toString, _.ts, pat,
          maxBufferPerKey = Some(1 << 20))
        .map { m =>
          val st = m.stages.toMap
          (st("A").head.user_id, st("A").head.event_id, st("B").head.event_id)
        }.toDF("user_id", "purchase_id", "error_id"))
        .orderBy($"user_id", $"purchase_id")
    }),

    // Processing-time temporal join (ProcTimeJoin — the reference's
    // TemporalProcessTimeJoinOperator): probes join the build side's
    // LATEST version at arrival, no event-time alignment. Deterministic
    // replay: view upserts land in batches 1/3 (split by id parity),
    // purchase probes in batches 2/4. ARRIVAL order decides "latest":
    // an even probe sees the even batch's last update per user
    // (max (ts, id) among even views); an odd probe sees the odd
    // batch's last update when the user had any odd view — it arrived
    // later and overwrote, even if its event time is older — else the
    // even one. The oracle mirrors that COALESCE(latest-odd, latest-even).
    "q_stream_ptjoin" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val views = rows.filter(_.event_type == "view")
      val purchases = rows.filter(_.event_type == "purchase")
      val batches = Seq(
        views.filter(_.event_id % 2 == 0),
        purchases.filter(_.event_id % 2 == 0),
        views.filter(_.event_id % 2 != 0),
        purchases.filter(_.event_id % 2 != 0))
      val sink = replay(s, batches, mode = "append") { all =>
        val probes = all.filter($"event_type" === "purchase")
          .select($"event_id".as("p_id"), $"user_id")
        val builds = all.filter($"event_type" === "view")
          .select($"user_id", $"event_id".as("v_id"), $"value".as("v_value"))
        ProcTimeJoin.procTimeJoin(probes, builds,
          Seq("user_id"), Seq("v_id", "v_value"))
      }
      sink.select($"p_id", $"r_v_id", $"r_v_value").orderBy($"p_id")
    }),

    // Fast Top-1 (FastTop1Function — O(1) state per key): the cheapest
    // per-type row by (cents, id) survives a 4-batch replay's -U/+U
    // dethronings; the folded changelog is the per-type argmin.
    "q_stream_top1" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val ranked = rows.map(e => StatefulOps.Ranked(e.event_type, e.event_id,
        math.round(e.value * 100)))
      val sink = replay(s, chunks(ranked, 2))(_.groupByKey(_.key)
        .transformWithState(new StatefulOps.FastTop1Processor,
          TimeMode.None(), OutputMode.Update()).toDF())
      foldChangelog(sink, "kind")
        .select($"value.key".as("event_type"), $"value.id".as("event_id"),
          $"value.sort".as("cents"))
        .orderBy($"event_type")
    }),

    // Append-only First-N (AppendOnlyFirstNFunction — ROW_NUMBER over
    // arrival order, rn <= n, counter-only state): the first 3 events
    // per user in (ts, id) replay order and nothing after them.
    "q_stream_firstn" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val ranked = rows.map(e => StatefulOps.Ranked(e.user_id.toString,
        e.event_id, micros(e.ts)))
      val sink = replay(s, chunks(ranked, 2))(_.groupByKey(_.key)
        .transformWithState(new StatefulOps.AppendOnlyFirstNProcessor(3),
          TimeMode.None(), OutputMode.Update()).toDF())
      foldChangelog(sink, "kind")
        .select($"value.key".cast("long").as("user_id"),
          $"value.id".as("event_id"), $"value.sort".as("ts_us"))
        .orderBy($"user_id", $"event_id")
    }),

    // Allowed-lateness window re-fire + late side output (AllowedLateness
    // — WindowedStream.allowedLateness/sideOutputLateData, a former
    // documented non-goal): events replay ascending (3 batches), then
    // batch 4 re-sends two classes with fresh ids — rows from the last
    // hour (late-but-allowed: counted, re-firing already-fired windows)
    // and rows just past the 3-hour horizon (side output). A sentinel
    // flushes the tail. The folded changelog must equal the oracle's
    // window counts over original+allowed rows plus one late=true row
    // per side-output element.
    "q_stream_lateness" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val mUs = micros(rows.last.ts)
      val hourUs = 3600L * 1000000L
      def wsOf(t: Long) = t - (t % hourUs)
      def in(e: Ev, idOff: Long) =
        AllowedLateness.LWIn(e.event_type, e.ts, e.event_id + idOff)
      val ins = rows.map(in(_, 0L))
      // class B: allowed-late (window still inside the lateness horizon)
      val reB = rows.filter(e => micros(e.ts) > mUs - hourUs).map(in(_, 9000000L))
      // class A: past end+lateness but ahead of the engine filter — the
      // 9h delay leaves a ~6h processor-visible too-late band; a
      // 1-second margin keeps the ms-truncated engine watermark boundary
      // out of the class
      val reA = rows.filter { e =>
        val t = micros(e.ts)
        t >= mUs - 9 * hourUs + 1000000L && wsOf(t) + 3 * hourUs <= mUs
      }.map(in(_, 9000000L))
      val sentinel =
        Seq(AllowedLateness.LWIn("sentinel", farFuture(mUs / 1000L), 0L))
      val sink = replay(s, chunks(ins, 3) ++ Seq(reA ++ reB, sentinel))(in =>
        AllowedLateness.tumbleCounts(
          in.withWatermark("eventTime", "9 hours"), // lat+win+6h slack
          windowMs = 3600000L, latenessMs = 7200000L, delayMs = 9 * 3600000L))
      foldChangelog(sink, "kind")
        .filter($"etype" =!= "sentinel")
        .select($"late", $"etype".as("event_type"), $"ws".as("ws_ms"),
          $"n", $"id")
        .orderBy($"late", $"event_type", $"ws_ms", $"id")
    }),

    // Split COUNT(DISTINCT) — SplitAggregateRule's partial/final shape:
    // per-type distinct users shard across (type, user % 16) keys; the
    // partial operator emits shard distinct-count retract rows keyed by
    // type, and the final SUM over the folded changelog (exactly what
    // RetractSumProcessor computes) is the distinct total. A delete
    // batch retracts every event_id % 4 == 0 row — a user leaves the
    // distinct set only when their LAST event of that type retracts
    // (value multiplicity), which the oracle states declaratively.
    "q_stream_distinct" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir).filter(_.user_id % 2 == 0)
      val ins = rows.map(e => StatefulOps.SplitIn(e.event_type,
        (e.user_id % 16).toInt, e.user_id, Changelog.Insert))
      val dels = rows.filter(_.event_id % 4 == 0).map(e =>
        StatefulOps.SplitIn(e.event_type, (e.user_id % 16).toInt,
          e.user_id, Changelog.Delete))
      val sink = replay(s, chunks(ins, 2) :+ dels)(
        _.groupByKey(r => s"${r.group}|${r.bucket}")
          .transformWithState(new StatefulOps.SplitDistinctProcessor,
            TimeMode.None(), OutputMode.Update()).toDF())
      // the final-stage fold: signed sum of shard-count changes per group
      sink.groupBy($"key".as("event_type"))
        .agg(sum(when(col("kind") === Changelog.Insert ||
            col("kind") === Changelog.UpdateAfter, $"value")
          .otherwise(-$"value")).as("n_users"))
        .orderBy($"event_type")
    }),

    // Upsert-materializing file sink (sources/UpsertSink — the upsert
    // table sink / SinkUpsertMaterializer shape): the events changelog
    // replays keyed by user (seq = replay position, so last-wins follows
    // (ts, id) order), then a tombstone batch deletes every user_id % 5
    // == 0. The materialized parquet table — hash-bucketed, touched
    // buckets rewritten via dynamic partition overwrite — must hold
    // exactly the batch keep-last state minus the deleted users.
    "q_sink_upsert" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val ups = rows.zipWithIndex.map { case (e, i) =>
        UpsCh(e.user_id, e.event_id, e.value, i.toLong, Changelog.Insert) }
      val dels = rows.map(_.user_id).distinct.filter(_ % 5 == 0).sorted.map(u =>
        UpsCh(u, -1L, 0.0, Long.MaxValue, Changelog.Delete))
      val table = Q.scratchDir("q_sink_upsert") + "/t"
      replay(s, chunks(ups, 2) :+ dels, foreachSink = Some((b, _) => {
          UpsertSink.mergeBatch(b.sparkSession, b, Seq("user_id"), "seq",
            table, buckets = 8)
          ()
        }))(_.toDF().withColumnRenamed("kind", Changelog.RowKindCol))
      UpsertSink.read(s, table)
        .select($"user_id", $"event_id".as("last_event_id"),
          $"value".as("last_value"))
        .orderBy($"user_id")
    }),

    // Streaming window join (the reference's WindowJoinOperator —
    // StreamExecWindowJoin): clicks and purchases split out of one
    // replayed stream, each bucketed to its tumbling window, and joined
    // on (window, user). Spark executes this as a stream-stream join
    // whose state evicts per window under the watermark — the
    // recommended windowed-join shape; the append sink must equal the
    // batch window join (same oracle as q_window_join modulo replay).
    "q_stream_winjoin" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
        .filter(e => e.event_type == "click" || e.event_type == "purchase")
      replay(s, chunks(rows, 2), mode = "append") { in =>
        val ev = in.withWatermark("ts", "1 hour")
        val clicks = ev.filter($"event_type" === "click")
          .select(window($"ts", "1 hour").getField("start").as("cw"),
            $"user_id".as("c_user"), $"event_id".as("click_id"))
        val purchases = ev.filter($"event_type" === "purchase")
          .select(window($"ts", "1 hour").getField("start").as("pw"),
            $"user_id".as("p_user"), $"event_id".as("purchase_id"))
        clicks.join(purchases, $"cw" === $"pw" && $"c_user" === $"p_user")
          .select($"cw".cast("timestamp_ntz").as("window_start"),
            $"c_user".as("user_id"), $"click_id", $"purchase_id")
      }
        .orderBy($"window_start", $"user_id", $"click_id", $"purchase_id")
    }),

    // Streaming windowed coGroup (streaming/CoGroup — the reference's
    // CoGroupedStreams, DataStream.java:748): clicks and purchases
    // buffer per (user, hour window) and ONE callback sees both
    // buffers when the watermark fires the window — including
    // one-sided keys, which a join would drop. The callback emits
    // (window, user, n_clicks, n_purchases, exact cents sum over both
    // sides); the oracle is the FULL OUTER join of the two per-window
    // batch aggregates. One shuffle, state evicted per fired window.
    "q_stream_cogroup" -> ((s, dir) =>
      clickPurchaseCoGroup(s, dir, _ => true, 3600000L, 3600000L)),

    // Sliding-window coGroup (CoGroup.sliding — the reference's
    // SlidingEventTimeWindows under CoGroupedStreams): size 2 h, slide
    // 1 h, so every event lands in TWO window instances; the oracle
    // restates the assignment as a union of the two shifted hour
    // buckets. Users subsampled to keep the row count bounded.
    "q_stream_coslide" -> ((s, dir) =>
      clickPurchaseCoGroup(s, dir, _ % 5 == 0, 7200000L, 3600000L)),

    // Session-window coGroup — the CoGroup.sliding doc's session recipe
    // made executable (the reference's session-gap CoGroupedStreams):
    // session bounds come from SessionWindows.annotate over the UNION of
    // both sides (the reference assigns session windows on the unified
    // coGroup input, so one side's events extend the other side's
    // sessions), then a tumbling CoGroup keyed by (user, window_start)
    // hands both buffers of each CLOSED session to one callback — a
    // session's rows all share one window_time, so the fire is exact.
    // Phase 1 replays the union through annotate; its emitted rows
    // replay into the coGroup (the collect is the usual MemoryStream
    // feed, harness necessity). Oracle: batch gaps-and-islands sessions,
    // per-side counts + exact cents, in one grouped pass.
    "q_stream_cosession" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
        .filter(e => (e.event_type == "click" || e.event_type == "purchase")
          && e.user_id % 3 == 0)
      val maxTs = rows.map(_.ts.getTime).max
      val sess = replay(s, chunks(rows, 2) :+ Seq(Ev(-1L, -1L,
          new java.sql.Timestamp(maxTs + 3 * 3600000L), "flush", 0.0)))(in =>
        SessionWindows.annotate(in.toDF().withWatermark("ts", "1 hour"),
          Seq("user_id"), "ts", "1 hour"))
      val annRows = sess.filter($"user_id" >= 0)
        .select($"user_id", $"event_type", $"value", $"window_start",
          $"window_time")
        .as[SessEv].collect().toSeq
        .sortBy(e => (e.window_time.getTime, e.user_id))
      // the flush sentinel must SURVIVE the side filters (a type neither
      // side keeps would never reach the union or advance the watermark,
      // and the tail sessions' windows would never fire) — it rides the
      // click side and is dropped by the user_id >= 0 filter at the end
      val far = farFuture(maxTs)
      coGroupResult(replay(s,
          chunks(annRows, 2) :+ Seq(SessEv(-1L, "click", 0.0, far, far)),
          mode = "append") { ev2 =>
        def side(tpe: String) = ev2.filter($"event_type" === tpe)
          .select($"user_id", $"window_start", $"window_time", $"value")
        CoGroup.tumbling(side("click"), side("purchase"),
          Seq("user_id", "window_start"), "window_time", 3600000L, "1 second",
          (_, _, ls, rs) => {
            val any = (ls ++ rs).head
            coGroupRow(any.getAs[java.sql.Timestamp]("window_start"),
              any.getAs[Long]("user_id"), ls, rs)
          },
          coGroupSchema)
      })
    }),

    // Event-time state-TTL dedup (StatefulOps.KeepFirstTtlProcessor —
    // the DeduplicateFunctionHelper + StateTtlConfig story made
    // deterministic): a user's "seen" mark expires after a 6-hour
    // event-time gap, so the next event is a FIRST again. The oracle
    // restates it as per-user gaps-and-islands firsts; timers only
    // clear expired state and cannot affect emissions, which is
    // exactly what makes wall-clock TTL semantics oracle-expressible.
    "q_stream_dedup_ttl" -> ((s, dir) => {
      import s.implicits._
      implicit val ttlEnc = Encoders.product[StatefulOps.TtlIn]
      val rows = sortedEvents(s, dir).filter(_.user_id % 2 == 0).map(e =>
        StatefulOps.TtlIn(e.user_id.toString, e.ts, e.event_id))
      val sentinel = StatefulOps.TtlIn("-1", farFuture(rows.last.ts.getTime), -1L)
      replay(s, chunks(rows, 2) :+ Seq(sentinel), mode = "append")(
        _.withWatermark("ts", "1 second")
          .as[StatefulOps.TtlIn]
          .groupByKey(_.key)
          .transformWithState(
            new StatefulOps.KeepFirstTtlProcessor(6L * 3600000L),
            TimeMode.EventTime(), OutputMode.Append()).toDF())
        .filter($"key" =!= "-1")
        .select($"key".cast("long").as("user_id"), $"id".as("event_id"))
        .orderBy($"user_id", $"event_id")
    }),

    // State bootstrap + savepoint-rewrite loop (streaming/StateBootstrap
    // — the State Processor API's WRITE side, SavepointWriter /
    // OperatorTransformation.bootstrapWith): phase 1 streams the
    // pre-cutoff half of events through the keyed running aggregate
    // with a RETAINED checkpoint and stops; the checkpoint state reads
    // back offline (StateReader), becomes the successor's bootstrap
    // frame, and phase 2 — a NEW query on a fresh checkpoint —
    // continues over the post-cutoff half with that initial state. The
    // final running totals must equal batch totals over ALL events for
    // every user active after the cutoff: lost, doubled, or stale
    // bootstrap state each diverge the hash.
    "q_state_bootstrap" -> ((s, dir) => {
      import s.implicits._
      import graft.streaming.StateBootstrap
      val rows = sortedEvents(s, dir)
      val us = rows.map(e => micros(e.ts))
      val cutoff = us.min + (us.max - us.min) / 2
      def toIn(e: Ev) =
        StateBootstrap.BIn(e.user_id.toString, math.round(e.value * 100))
      val hist = rows.filter(e => micros(e.ts) < cutoff).map(toIn)
      val rest = rows.filter(e => micros(e.ts) >= cutoff).map(toIn)
      // phase 1 on a retained checkpoint (kept until JVM exit) for the
      // offline statestore read
      val ckpt1 = Q.scratchDir("q_state_boot") + "/ckpt1"
      replay(s, chunks(hist, 2), keepCheckpoint = Some(ckpt1))(
        StateBootstrap.agg(_,
          s.emptyDataset(Encoders.product[StateBootstrap.BInit])))
      // the read→(identity-)rewrite→bootstrap leg; the spec drives a
      // non-identity rewrite through the same path
      val boot = StateBootstrap.readAccState(s, ckpt1)
      val sink = replay(s, chunks(rest, 2))(StateBootstrap.agg(_, boot))
      // n is strictly monotone per key: the final state is the argmax row
      sink.groupBy($"key".cast("long").as("user_id"))
        .agg(max(struct($"n", $"cents")).as("m"))
        .select($"user_id", $"m.n".as("n"), $"m.cents".as("sum_cents"))
        .orderBy($"user_id")
    }),

    // Watermark idleness (WatermarkStrategy.withIdleness via
    // WatermarkOutputMultiplexer — SURVEY §2.10's last partial row):
    // events replay as TWO source partitions (user parity); the odd
    // partition sends only rows before the one-third time cutoff and
    // then stalls. WatermarkMux stamps each fetch round with the
    // combined watermark at the SOURCE layer (where the reference runs
    // the multiplexer); after two silent rounds the stalled partition is
    // marked idle and the clock follows the live partition alone, so
    // every window — including those holding only the stalled
    // partition's rows — closes and emits exactly once in append mode.
    // Without idleness the clock pins at the stall point and the tail
    // windows never emit (WatermarkMuxSpec pins that contrast); the
    // oracle counts ALL sent rows, so an unpinned clock is required for
    // the hash to match.
    "q_stream_idle" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val us = rows.map(e => micros(e.ts))
      val cutoff = us.min + (us.max - us.min) / 3
      val sent = rows.filter(e => e.user_id % 2 == 0 || micros(e.ts) < cutoff)
      val tagged = sent.map(e =>
        ((e.user_id % 2).toInt, (e.event_type, e.ts.getTime)))
      stampedTumbleReplay(s, chunks(tagged, 6), Seq(0), rows.last.ts.getTime,
          delayMs = 0L, idleTimeoutRounds = 2, 3600000L)
        .select(timestamp_millis($"ws").cast("timestamp_ntz")
          .as("window_start"), $"etype".as("event_type"), $"n")
        .orderBy($"window_start", $"event_type")
    }),

    // Watermark alignment (WatermarkStrategy.withWatermarkAlignment —
    // the source coordinator's pause/resume protocol): an unbalanced
    // split (25% of users on the fast partition) drains through
    // WatermarkMux.alignRounds, which pauses whichever source runs more
    // than maxDrift ahead of the group min, then replays through the
    // stamped-clock tumble operator. Alignment must change PACING, not
    // results: a lost, duplicated, or clock-outrun row (the stamped
    // operator drops closed-window arrivals) diverges the count hash
    // from the plain batch tumble oracle over all events.
    "q_stream_aligned" -> ((s, dir) => {
      import s.implicits._
      val rows = sortedEvents(s, dir)
      val fast = rows.filter(_.user_id % 4 == 0)
        .map(e => (e.event_type, e.ts.getTime)).toVector
      val slow = rows.filter(_.user_id % 4 != 0)
        .map(e => (e.event_type, e.ts.getTime)).toVector
      val spanMs = (rows.last.ts.getTime - rows.head.ts.getTime).max(1L)
      val rounds = WatermarkMux.alignRounds(
        Map(0 -> fast, 1 -> slow), (r: (String, Long)) => r._2,
        maxDriftMs = spanMs / 10, rowsPerRound = (slow.size / 6).max(1))
      stampedTumbleReplay(s, rounds, Seq(0, 1), rows.last.ts.getTime,
          delayMs = 0L, idleTimeoutRounds = 1000000, 3600000L)
        .select(timestamp_millis($"ws").cast("timestamp_ntz")
          .as("window_start"), $"etype".as("event_type"), $"n")
        .orderBy($"window_start", $"event_type")
    })
  )

  /** Shared by q_stream_groupagg (per-record emission) and
    * q_stream_minibatch (one step per key per batch): both protocols
    * must fold to this aggregate over surviving rows.
    */
  private val groupAggOracle =
    """SELECT event_type, CAST(SUM(event_id) AS BIGINT) AS sum_id, COUNT(*) AS n
      |FROM events WHERE event_id % 3 = 0 AND event_id % 5 <> 0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared by q_stream_tumble (complete mode) and q_stream_late
    * (append mode + watermark): the late-drop gate is precisely "same
    * output as the tumble aggregate", so both rows must assert against
    * ONE oracle text.
    */
  private val tumbleOracle =
    s"""WITH e AS ${Tables.duckEvents}
      |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
      |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_stream_tumble" -> tumbleOracle,

    // the SAME oracle constant as q_stream_tumble BY CONSTRUCTION: the
    // late re-sends and the sentinel must leave NO trace in the
    // append-mode output
    "q_stream_late" -> tumbleOracle,

    "q_stream_dedup_last" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_stream_rank" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 3 ORDER BY event_type, event_id""".stripMargin,

    "q_stream_topn" ->
      """SELECT event_type, event_id AS id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
        |  FROM events WHERE event_id % 3 = 0 AND event_id % 7 <> 0)
        |WHERE rn <= 3 ORDER BY event_type, id""".stripMargin,

    "q_stream_asof" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE user_id % 2 = 0),
        |p AS (SELECT event_id AS p_id, user_id, ts FROM e WHERE event_type = 'purchase'),
        |v AS (SELECT event_id AS v_id, user_id, ts, value AS v_value FROM e WHERE event_type = 'view')
        |SELECT p.p_id, v.v_id AS r_v_id, v.v_value AS r_v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p_id""".stripMargin,

    "q_stream_hop" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM e, UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
        |                time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS u(ws)
        |GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "q_stream_interval" ->
      s"""SELECT p.event_id AS p_id, e.event_id AS e_id
        |FROM (SELECT * FROM ${Tables.duckEvents} WHERE event_type = 'purchase' AND user_id % 2 = 0) p
        |JOIN (SELECT * FROM ${Tables.duckEvents} WHERE event_type = 'error' AND user_id % 2 = 0) e
        |ON p.user_id = e.user_id
        | AND e.ts >= p.ts - INTERVAL 1 HOUR
        | AND e.ts <= p.ts
        |ORDER BY p_id, e_id""".stripMargin,

    "q_stream_groupagg" -> groupAggOracle,

    "q_stream_minmax" ->
      """WITH surv AS (
        |  SELECT event_type, event_id FROM (
        |    SELECT event_type, event_id,
        |      row_number() OVER (PARTITION BY event_type ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_id % 3 = 0) WHERE rn > 10)
        |SELECT event_type, CAST(MAX(event_id) AS BIGINT) AS max_id, COUNT(*) AS n
        |FROM surv GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mini-batch emission must fold to the SAME end state per-record
    // emission does — one shared oracle constant by construction
    "q_stream_minibatch" -> groupAggOracle,

    "q_stream_outer" ->
      """WITH p AS (SELECT user_id, event_id AS p_id, value AS p_value FROM events WHERE event_type = 'purchase' AND user_id % 2 = 0),
        |v AS (SELECT user_id, event_id AS v_id, value AS v_value FROM events WHERE event_type = 'view' AND event_id % 3 <> 0 AND user_id % 2 = 0)
        |SELECT COALESCE(p.user_id, v.user_id) AS user_id, p.p_id, p.p_value, v.v_id, v.v_value
        |FROM p FULL OUTER JOIN v ON p.user_id = v.user_id
        |ORDER BY user_id, p_id, v_id""".stripMargin,

    "q_stream_over" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE event_type IN ('purchase', 'error') AND user_id % 2 = 0)
        |SELECT event_type, event_id,
        |  CAST(SUM(event_id) OVER w AS BIGINT) AS moving_sum,
        |  ROW_NUMBER() OVER w AS n
        |FROM e
        |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |             ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_type, event_id""".stripMargin,

    "q_stream_cep" ->
      s"""WITH o AS (
        |  SELECT user_id, event_type, event_id,
        |    lead(event_type) OVER w AS next_type,
        |    lead(event_id) OVER w AS next_id
        |  FROM ${Tables.duckEvents}
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS purchase_id, next_id AS error_id
        |FROM o WHERE event_type = 'purchase' AND next_type = 'error'
        |ORDER BY user_id, purchase_id""".stripMargin,

    "q_stream_ptjoin" ->
      s"""WITH e AS ${Tables.duckEvents},
        |v AS (SELECT event_id, user_id, ts, value FROM e WHERE event_type = 'view'),
        |le AS (SELECT user_id, event_id AS v_id, value AS v_value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM v WHERE event_id % 2 = 0),
        |lo AS (SELECT user_id, event_id AS v_id, value AS v_value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |       FROM v WHERE event_id % 2 = 1),
        |u AS (SELECT DISTINCT user_id FROM v),
        |codd AS (SELECT u.user_id,
        |           COALESCE(lo1.v_id, le1.v_id) AS v_id,
        |           COALESCE(lo1.v_value, le1.v_value) AS v_value
        |         FROM u
        |         LEFT JOIN (SELECT * FROM lo WHERE rn = 1) lo1 ON u.user_id = lo1.user_id
        |         LEFT JOIN (SELECT * FROM le WHERE rn = 1) le1 ON u.user_id = le1.user_id),
        |cand AS (SELECT user_id, v_id, v_value, 0 AS par FROM le WHERE rn = 1
        |         UNION ALL
        |         SELECT user_id, v_id, v_value, 1 AS par FROM codd),
        |p AS (SELECT event_id AS p_id, user_id, CAST(event_id % 2 AS INT) AS par
        |      FROM e WHERE event_type = 'purchase')
        |SELECT p.p_id, c.v_id AS r_v_id, c.v_value AS r_v_value
        |FROM p LEFT JOIN cand c ON p.user_id = c.user_id AND p.par = c.par
        |ORDER BY p_id""".stripMargin,

    "q_stream_top1" ->
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM events)
        |SELECT event_type, event_id, cents FROM (
        |  SELECT event_type, event_id, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents, event_id) AS rn
        |  FROM e)
        |WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "q_stream_firstn" ->
      s"""WITH e AS (SELECT user_id, event_id,
        |  epoch_us(ts) AS ts_us FROM ${Tables.duckEvents})
        |SELECT user_id, event_id, ts_us FROM (
        |  SELECT user_id, event_id, ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
        |  FROM e)
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,

    "q_stream_lateness" ->
      s"""WITH e AS ${Tables.duckEvents},
        |mx AS (SELECT MAX(ts) AS m FROM e),
        |okre AS (SELECT e.* FROM e, mx WHERE ts > m - INTERVAL 1 HOUR),
        |latere AS (SELECT e.* FROM e, mx
        |           WHERE ts >= m - INTERVAL 9 HOUR + INTERVAL 1 SECOND
        |             AND time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 3 HOUR <= m),
        |counted AS (SELECT ts, event_type FROM e
        |            UNION ALL SELECT ts, event_type FROM okre)
        |SELECT FALSE AS late, event_type,
        |  CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS ws_ms,
        |  COUNT(*) AS n, CAST(-1 AS BIGINT) AS id
        |FROM counted GROUP BY 2, 3
        |UNION ALL
        |SELECT TRUE, event_type,
        |  CAST(epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT),
        |  CAST(-1 AS BIGINT), event_id + 9000000
        |FROM latere
        |ORDER BY late, event_type, ws_ms, id""".stripMargin,

    "q_stream_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events WHERE event_id % 4 <> 0 AND user_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // same result as the batch window join by construction
    "q_stream_winjoin" ->
      s"""WITH e AS ${Tables.duckEvents},
        |c AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, event_id AS click_id
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, event_id AS purchase_id
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.w AS window_start, c.user_id AS user_id, click_id, purchase_id
        |FROM c JOIN p ON c.w = p.w AND c.user_id = p.user_id
        |ORDER BY window_start, c.user_id, click_id, purchase_id""".stripMargin,

    // the coGroup result equals the FULL OUTER join of the two
    // per-window batch aggregates (one-sided keys included)
    "q_stream_cogroup" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE event_type IN ('click', 'purchase')),
        |c AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, COUNT(*) AS n,
        |        SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |      FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, user_id, COUNT(*) AS n,
        |        SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |      FROM e WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT COALESCE(c.w, p.w) AS window_start,
        |  COALESCE(c.user_id, p.user_id) AS user_id,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clicks,
        |  CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases,
        |  CAST(COALESCE(c.cents, 0) + COALESCE(p.cents, 0) AS BIGINT) AS sum_cents
        |FROM c FULL OUTER JOIN p ON c.w = p.w AND c.user_id = p.user_id
        |ORDER BY window_start, user_id""".stripMargin,

    // sliding assignment = each event in the bucket it starts AND the
    // one before (size 2h, slide 1h)
    "q_stream_coslide" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE event_type IN ('click', 'purchase') AND user_id % 5 = 0),
        |ex AS (SELECT user_id, event_type, value, time_bucket(INTERVAL 1 HOUR, ts) AS w FROM e
        |       UNION ALL
        |       SELECT user_id, event_type, value, time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR FROM e),
        |c AS (SELECT w, user_id, COUNT(*) AS n,
        |        SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |      FROM ex WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT w, user_id, COUNT(*) AS n,
        |        SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS cents
        |      FROM ex WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT COALESCE(c.w, p.w) AS window_start,
        |  COALESCE(c.user_id, p.user_id) AS user_id,
        |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clicks,
        |  CAST(COALESCE(p.n, 0) AS BIGINT) AS n_purchases,
        |  CAST(COALESCE(c.cents, 0) + COALESCE(p.cents, 0) AS BIGINT) AS sum_cents
        |FROM c FULL OUTER JOIN p ON c.w = p.w AND c.user_id = p.user_id
        |ORDER BY window_start, user_id""".stripMargin,

    // sessions over the union of both sides (1h gap), per-side counts +
    // exact cents in one grouped pass; ties among equal timestamps don't
    // affect the island assignment (diff 0 ≤ gap)
    "q_stream_cosession" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE event_type IN ('click', 'purchase') AND user_id % 3 = 0),
        |m AS (SELECT user_id, ts, event_type, value,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL 1 HOUR
        |    THEN 0 ELSE 1 END AS new_s FROM e),
        |s AS (SELECT user_id, ts, event_type, value,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT MIN(ts) AS window_start, user_id,
        |  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks,
        |  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM s GROUP BY user_id, sid
        |ORDER BY window_start, user_id""".stripMargin,

    // per-user gaps-and-islands firsts at the 6-hour gap — ms-truncated
    // timestamps on both engines
    "q_stream_dedup_ttl" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE user_id % 2 = 0),
        |g AS (SELECT user_id, event_id,
        |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
        |  FROM e)
        |SELECT user_id, event_id FROM g
        |WHERE gap_ms IS NULL OR gap_ms > 21600000
        |ORDER BY user_id, event_id""".stripMargin,

    // totals over ALL events for users active after the handover cutoff
    // (phase-2 keys); the history half reaches the result only through
    // the checkpoint→read→bootstrap cycle
    "q_state_bootstrap" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS usec,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents FROM ${Tables.duckEvents}),
        |c AS (SELECT MIN(usec) + (MAX(usec) - MIN(usec)) // 2 AS cutoff FROM e)
        |SELECT user_id, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM e GROUP BY user_id
        |HAVING MAX(usec) >= (SELECT cutoff FROM c)
        |ORDER BY user_id""".stripMargin,

    // exactly the rows the idleness replay sends: even-parity users in
    // full, odd-parity users only before the one-third time cutoff (the
    // stall point) — integer micros arithmetic on both engines
    "q_stream_idle" ->
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, ts, event_type FROM ${Tables.duckEvents}),
        |c AS (SELECT MIN(us) + (MAX(us) - MIN(us)) // 3 AS cutoff FROM e)
        |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, COUNT(*) AS n
        |FROM e WHERE user_id % 2 = 0 OR us < (SELECT cutoff FROM c)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    // alignment changes pacing, never results: the full tumble counts
    "q_stream_aligned" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, COUNT(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q_sink_upsert" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT user_id, event_id AS last_event_id, value AS last_value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM e)
        |WHERE rn = 1 AND user_id % 5 <> 0 ORDER BY user_id""".stripMargin,

    "q_stream_session" ->
      s"""WITH e AS (SELECT * FROM ${Tables.duckEvents} WHERE user_id % 3 = 0),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) <= INTERVAL 1 HOUR
        |    THEN 0 ELSE 1 END AS new_s FROM e),
        |s AS (SELECT user_id, event_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, event_id,
        |  MIN(ts) OVER (PARTITION BY user_id, sid) AS window_start,
        |  MAX(ts) OVER (PARTITION BY user_id, sid) + INTERVAL 1 HOUR AS window_end
        |FROM s ORDER BY user_id, event_id""".stripMargin
  )
}
