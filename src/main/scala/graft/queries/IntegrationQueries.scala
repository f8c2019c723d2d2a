package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.queries.Q._
import graft.operators.{AsyncOps, LookupJoin}
import graft.sources.{AvroIO, SequenceFileIO}

/** Integration surfaces under the hard oracle gate — components that
  * previously had ScalaTest-only verification (formats, lookup/async
  * joins, the UDTAF shape, count windows, the DSv2 mem source) get a
  * driver-visible DuckDB-checked row each: the operator runs on real
  * testdata and its result must hash-match SQL that never touches the
  * operator.
  *
  * Format round-trips are gated by equivalence: write the table through
  * the format, read it back, aggregate — the oracle aggregates the
  * PARQUET original, so any fidelity loss (timestamp precision, null
  * handling, numeric width) diverges the hash.
  */
object IntegrationQueries {

  val queries: Map[String, QFn] = Map(

    // Changelog JSON format (sources/ChangelogJson — debezium-json):
    // CDC envelopes built from events (insert all; update value+1 for
    // id % 3 == 0; delete id % 5 == 0), decoded to the changelog shape
    // and materialized by ts_ms — the end state must equal the oracle's
    // declarative restatement. The whole decode is a projection; only
    // the materialize pays a keyed shuffle.
    "q_fmt_debezium" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val payload = StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("value", DoubleType)))
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      def row(value: org.apache.spark.sql.Column) =
        struct(col("event_id"), col("user_id"), value.as("value"))
      val ins = ev.select(to_json(struct(
        row(col("value")).as("after"), lit("c").as("op"),
        (col("event_id") * 3).as("ts_ms"))).as("v"))
      val upd = ev.filter(col("event_id") % 3 === 0).select(to_json(struct(
        row(col("value")).as("before"),
        row(col("value") + 1).as("after"), lit("u").as("op"),
        (col("event_id") * 3 + 1).as("ts_ms"))).as("v"))
      val del = ev.filter(col("event_id") % 5 === 0).select(to_json(struct(
        row(when(col("event_id") % 3 === 0, col("value") + 1)
          .otherwise(col("value"))).as("before"), lit("d").as("op"),
        (col("event_id") * 3 + 2).as("ts_ms"))).as("v"))
      val parsed = graft.sources.ChangelogJson.debezium(
        ins.union(upd).union(del), "v", payload)
      graft.streaming.Changelog.materialize(parsed, Seq("event_id"), "ts_ms")
        .select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("event_id"))
    }),

    // Avro container-file round-trip (sources/AvroIO): events — the
    // micros-precision timestamp table, the hard fidelity case — writes
    // to avro and reads back; per-type counts, exact-decimal value sums
    // and the max event time must match the parquet oracle.
    "q_fmt_avro" -> ((s, dir) => {
      // ts arrives as timestamp_ntz; avro's timestamp-micros is an
      // instant, so round-trip through the session-zone instant (ntz →
      // ltz → avro → ltz → ntz is lossless within one session)
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"), col("value"))
      val path = Q.scratchDir("q_fmt_avro") + "/events_avro"
      AvroIO.write(ev, path)
      AvroIO.read(s, path, ev.schema)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          max(col("ts")).cast("timestamp_ntz").as("max_ts"))
        .orderBy(col("event_type"))
    }),

    // SequenceFile round-trip (sources/SequenceFileIO): orders keyed by
    // o_orderkey as (LongWritable, row-JSON Text) — per-status counts,
    // exact-decimal totalprice sums and max order date vs parquet.
    "q_fmt_seqfile" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val path = Q.scratchDir("q_fmt_seqfile") + "/orders_seq"
      SequenceFileIO.write(o, path, "o_orderkey")
      SequenceFileIO.read(s, path, o.schema)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"),
          max(col("o_orderdate")).cast("timestamp_ntz").as("max_date"))
        .orderBy(col("o_orderstatus"))
    }),

    // Protobuf wire format (sources/ProtobufWire — the reference's
    // flink-protobuf, PbFormatFactory.java:40 / ProtoToRowConverter.java,
    // re-expressed as proto3 wire-level Catalyst expressions since no
    // protobuf jar resolves offline): orders rows — scalar fields, a
    // packed repeated int64 and a nested message — encode to wire bytes
    // and decode back; the aggregate over the decoded frame must equal
    // the parquet oracle. Both directions are pure projections.
    "q_fmt_protobuf" -> ((s, dir) => {
      val pbSchema = StructType(Seq(
        StructField("k", LongType),
        StructField("status", StringType),
        StructField("cents", LongType),
        StructField("mods", ArrayType(LongType, containsNull = false)),
        StructField("who", StructType(Seq(
          StructField("cust", LongType),
          StructField("prio", StringType))))))
      val o = t(s, dir, "orders")
      val msg = struct(
        col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        array(col("o_orderkey") % 7, col("o_orderkey") % 11).as("mods"),
        struct(col("o_custkey").as("cust"),
          col("o_orderpriority").as("prio")).as("who"))
      val wire = o.select(
        graft.sources.ProtobufWire.toProtobuf(msg).as("pb"))
      val back = wire.select(
        graft.sources.ProtobufWire.fromProtobuf(col("pb"), pbSchema).as("m"))
      back.groupBy(col("m.status").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(col("m.cents")).cast(LongType).as("sum_cents"),
          sum(element_at(col("m.mods"), 1) + element_at(col("m.mods"), 2))
            .cast(LongType).as("sum_mods"),
          sum(col("m.who.cust")).cast(LongType).as("sum_cust"),
          countDistinct(col("m.who.prio")).as("n_prio"))
        .orderBy(col("status"))
    }),

    // Lookup join (operators/LookupJoin): customers probe a nation
    // dimension through the LookupFunction + per-partition LRU cache
    // path (the reference's lookup-join runtime shape); the result must
    // equal the plain SQL join. The dim is driver-collected by design —
    // a lookup table is small by contract.
    "q_join_lookup" -> ((s, dir) => {
      import s.implicits._
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType), col("n_name"))
        .as[(Long, String)].collect().toMap
      val fn = new LookupJoin.LookupFunction[Long, String] {
        override def lookup(k: Long): Option[String] = nations.get(k)
      }
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast(LongType))
        .as[(Long, Long)]
      LookupJoin.lookupJoin[(Long, Long), Long, String](cust, _._2, fn)
        .map { case ((ck, _), n) => (ck, n.getOrElse("?")) }
        .toDF("c_custkey", "n_name")
        .orderBy(col("c_custkey"))
    }),

    // Async ordered lookup (operators/AsyncOps.orderedAsync — the
    // reference's AsyncDataStream.orderedWait): same nation enrichment
    // through asynchronous invocations with bounded in-flight capacity;
    // emission order per partition stays input order, and the oracle is
    // the same SQL join.
    "q_async_lookup" -> ((s, dir) => {
      import s.implicits._
      val nations = t(s, dir, "nation")
        .select(col("n_nationkey").cast(LongType), col("n_name"))
        .as[(Long, String)].collect().toMap
      val fn = new AsyncOps.AsyncFunction[(Long, Long), (Long, String)] {
        override def invoke(in: (Long, Long))(
            implicit ec: scala.concurrent.ExecutionContext)
            : scala.concurrent.Future[(Long, String)] =
          scala.concurrent.Future((in._1, nations.getOrElse(in._2, "?")))
      }
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast(LongType))
        .as[(Long, Long)]
      AsyncOps.orderedAsync(cust, fn, capacity = 8)
        .toDF("c_custkey", "n_name")
        .orderBy(col("c_custkey"))
    }),

    // Table aggregate / UDTAF (the reference's canonical top-2 emitter,
    // TableAggregateFunction): per order status emit the two highest
    // totalprice orders with their rank — a multi-row-per-group
    // aggregate, the shape GROUP BY cannot produce.
    "q_agg_tableagg" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"))
        .as[(String, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (status, it) =>
          // single-pass bounded accumulator (the UDTAF contract): keep
          // the best 2 of an UNBOUNDED group in O(1) memory — a full
          // toSeq.sortBy would buffer the whole group per task
          val ord = Ordering.by[(String, Long, Double), (Double, Long)](
            r => (-r._3, r._2))
          val top = it.foldLeft(List.empty[(String, Long, Double)]) {
            (acc, r) => (r :: acc).sorted(ord).take(2)
          }
          top.sorted(ord).zipWithIndex
            .map { case ((_, key, price), i) => (status, i + 1L, key, price) }
            .iterator
        }
        .toDF("o_orderstatus", "rank", "o_orderkey", "o_totalprice")
        .orderBy(col("o_orderstatus"), col("rank"))
    }),

    // Streaming count windows (StatefulOps.CountWindowProcessor — the
    // reference's countWindow(size)): events replay per user in
    // (event-time, id) order through 4 micro-batches; every FULL window
    // of 10 emits (sum of event ids, count), partial tails stay pending.
    // The oracle reproduces the windows with ROW_NUMBER arithmetic.
    "q_stream_countwin" -> ((s, dir) => {
      StreamQueries.countWindowReplay(s, dir, size = 10)
    }),

    // Sliding count window (StatefulOps.CountSlideProcessor —
    // countWindow(size, slide)): fires every 4th row per user over the
    // trailing 10; the oracle restates each firing with a windowed
    // self-join over the replay's row numbers.
    "q_stream_countslide" -> ((s, dir) => {
      StreamQueries.countSlideReplay(s, dir, size = 10, slide = 4)
    }),

    // Streaming temporal sort + chained order audit (TemporalSort): see
    // StreamQueries.temporalSortReplay — the second stateful operator
    // makes emission ORDER an oracle-checkable value.
    "q_stream_sort" -> ((s, dir) => {
      StreamQueries.temporalSortReplay(s, dir)
    }),

    // Streaming semi / anti join with retractions (SemiAntiJoin
    // .SemiAntiProcessor): see StreamQueries.semiAntiReplay — the
    // view-delete batch drives right counts across zero, forcing the
    // retract-all / re-emit-all protocol the reference's semi/anti
    // operators implement.
    "q_stream_semi" -> ((s, dir) => {
      StreamQueries.semiAntiReplay(s, dir, semi = true)
    }),
    "q_stream_anti" -> ((s, dir) => {
      StreamQueries.semiAntiReplay(s, dir, semi = false)
    }),

    // Rolling file sink + rename-safe compaction (FileCompaction): events
    // write as many small part files, compaction merges them in place
    // (write-then-rename-then-delete, crash-safe toward duplication not
    // loss), and the directory must still aggregate to the parquet
    // oracle — a lost or double-counted record breaks the hash.
    "q_fmt_filesink" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val out = Q.scratchDir("q_fmt_filesink") + "/rolled"
      graft.sources.FileCompaction.writeRolled(ev, out,
        maxRecordsPerFile = 1000L)
      graft.sources.FileCompaction.compactParquet(s, out,
        smallBytes = 64L * 1024 * 1024, targetBytes = 128L * 1024 * 1024)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }),

    // Connected / broadcast streams (ConnectedStreams
    // .ThresholdProcessor): see StreamQueries.broadcastReplay.
    "q_stream_broadcast" -> ((s, dir) => {
      StreamQueries.broadcastReplay(s, dir)
    }),

    // Continuous file-monitor source: events split across three parquet
    // appends, then a readStream over the directory discovers them one
    // file per trigger (forced incremental discovery) and a streaming
    // aggregation folds them — the complete-mode result must equal the
    // batch aggregate of the same parquet.
    "q_stream_filesrc" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      val src = Q.scratchDir("q_stream_filesrc") + "/incoming"
      (0 until 3).foreach { i =>
        ev.filter(pmod(col("event_id"), lit(3)) === i)
          .coalesce(1).write.mode("append").parquet(src)
      }
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      val name = "q_filesrc_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream.writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", Q.scratchDir("q_filesrc_ckpt")).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).orderBy(col("event_type"))
    }),

    // DSv2 mem source round-trip (sources/GraftMemSource): orders load
    // through the source's 2PC batch WRITE, then scan back through its
    // read path with a pushed filter and pruned columns — the driver
    // sees only (id, v) rows the source filtered, and the oracle runs
    // the same predicate in SQL.
    "q_src_dsv2" -> ((s, dir) => {
      // fixed scratch name, cleared before each load: a UUID per run
      // would leak a full orders copy in MemTables for the JVM lifetime
      val table = "q_src_dsv2_scratch"
      graft.sources.MemTables.tables.remove(table)
      t(s, dir, "orders")
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("name"),
          (col("o_totalprice").cast(DecimalType(12, 2)) * 100)
            .cast(LongType).as("v"))
        .write.format("graftmem").option("table", table).mode("append").save()
      s.read.format("graftmem").option("table", table).load()
        .filter(col("v") > 30000000L) // pushed to the source
        .select(col("id"), col("v"))  // name pruned before the scan
        .orderBy(col("id"))
    }),

    // CSV round-trip: events — micros timestamps serialize as text and
    // doubles as shortest-round-trip decimal strings; any formatting or
    // parsing loss diverges from the parquet oracle.
    "q_fmt_csv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
      val path = Q.scratchDir("q_fmt_csv") + "/events_csv"
      val ntzFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      ev.write.option("header", "true").option("timestampNTZFormat", ntzFmt)
        .csv(path)
      s.read.option("header", "true").option("timestampNTZFormat", ntzFmt)
        .schema(ev.schema).csv(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
          max(col("ts")).as("max_ts"))
        .orderBy(col("event_type"))
    }),

    // JSON-lines round-trip: lineitem prices and ship timestamps through
    // schema-on-read JSON.
    "q_fmt_json" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice"), col("l_shipdate"))
      val path = Q.scratchDir("q_fmt_json") + "/lineitem_json"
      val ntzFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      li.write.option("timestampNTZFormat", ntzFmt).json(path)
      s.read.option("timestampNTZFormat", ntzFmt).schema(li.schema).json(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy(col("l_returnflag"))
    }),

    // ORC round-trip: customer account balances per market segment.
    "q_fmt_orc" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val path = Q.scratchDir("q_fmt_orc") + "/customer_orc"
      c.write.orc(path)
      s.read.orc(path)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // Partitioned filesystem round-trip: events written partitionBy a
    // derived int bucket (values live in directory NAMES and must come
    // back typed), read with a partition filter — the pruned-scan path
    // FormatsSpec pins at the plan level, gated here on values.
    "q_fmt_partitioned" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("bucket", (col("user_id") % 8).cast(IntegerType))
      val path = Q.scratchDir("q_fmt_partitioned") + "/events_part"
      ev.write.partitionBy("bucket").parquet(path)
      s.read.parquet(path)
        .filter(col("bucket").isin(1, 3, 5))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy(col("bucket"))
    }),

    // Offline state inspection (streaming/StateReader — the State
    // Processor API analogue): a streaming per-status aggregation runs
    // over a 3-batch replay and STOPS; the statestore source then opens
    // the checkpoint and reads the aggregation BUFFER state without the
    // query — key + (count, decimal sum) per status must equal the batch
    // SQL over the same table. Gates the full write→checkpoint→offline-
    // read cycle, not just the reader's schema.
    "q_state_reader" -> ((s, dir) => {
      import s.implicits._
      // deterministic quarter of the orders: the write→checkpoint→read
      // cycle is exercised identically per row, and the subset keeps the
      // replay-feed driver memory bounded as sf grows (same idiom as the
      // q_stream_* gates; the predicate is mirrored in the oracle)
      val rows = t(s, dir, "orders")
        .filter(col("o_orderkey") % 4 === 0)
        .select(col("o_orderstatus"), col("o_totalprice"))
        .as[(String, Double)].collect().toSeq
      val ckpt = Q.scratchDir("q_state_reader") + "/ckpt"
      val size = math.max(1, math.ceil(rows.length / 3.0).toInt)
      StreamQueries.replay(s, rows.grouped(size).toSeq, mode = "complete",
          keepCheckpoint = Some(ckpt))(_.toDF("st", "tp")
        .groupBy(col("st"))
        .agg(count(lit(1)).as("n"), sum(dec2(col("tp"))).as("sp")))
      graft.streaming.StateReader.store(s, ckpt)
        .select(col("key.st").as("o_orderstatus"),
          col("value.count").as("n"),
          col("value.sum").cast(DoubleType).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    // Delta iteration (operators/Iterate.iterateDelta — the reference's
    // DataSet.iterateDelta solution-set/workset loop): single-source
    // shortest paths over a deterministic weighted DAG derived from the
    // documents ids (chain edges +1, skip edges +7 from even nodes).
    // Each round relaxes only edges out of last round's improvements;
    // the loop ends when the workset drains. The oracle recomputes every
    // distance declaratively with a recursive CTE — a wrong merge, a
    // premature drain, or a lost relaxation diverges the hash.
    "q_iter_sssp" -> ((s, dir) => withFewPartitions(s) {
      val e = iterEdges(s, dir)
      graft.operators.Iterate.shortestPaths(e, sourceId = 0L)
        .orderBy(col("id"))
    }),

    // Bulk iteration (Iterate.iterate — DataSet.iterate with a fixed
    // round count): 5 rounds of min-label-over-in-neighbors on the same
    // DAG; after k rounds a node's label is the min id within <= k hops
    // upstream, which the oracle states with a depth-bounded recursion.
    "q_iter_minlabel" -> ((s, dir) => withFewPartitions(s) {
      val n = t(s, dir, "documents").filter(col("doc_id") < 300)
        .select(col("doc_id").as("id"))
      graft.operators.Iterate.minLabelSpread(n, iterEdges(s, dir), 5)
        .orderBy(col("id"))
    })
  )

  /** Iteration rounds move TINY keyed frames (the 300-node graph, the
    * shrinking frontier); a wide session shuffle width only multiplies
    * per-round task-scheduling overhead, and the number of ROUNDS — not
    * per-round data — is the cost driver. Same idiom as the streaming
    * replays' shuffle cap; the session default is restored for
    * whatever runs next. At real scale the caller sizes this to the
    * graph, not the corpus.
    */
  private def withFewPartitions[A](s: org.apache.spark.sql.SparkSession)
      (body: => A): A =
    // AQE's per-stage replanning round-trips dominate a tiny-frame
    // iteration's latency and buy nothing at 4 partitions
    Q.withConf(s, "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.adaptive.enabled" -> "false")(body)

  /** Deterministic weighted DAG off the documents ids (all edges point
    * id-upward, so the DuckDB recursion terminates): an EXPENSIVE unit
    * chain doc→doc+1 (weight doc%3+4) plus powers-of-3 skip edges
    * doc→doc+3^k (k=1..4, weight doc%5+2 — cheap and FLAT across
    * scales, so one big skip always beats composing smaller ones).
    * Optimal paths therefore take maximal skips and their hop count is
    * the base-3 digit sum of the target (≤ ~10 anywhere under 300) —
    * the delta iteration's round count, which IS this query's cost
    * driver, stays a handful while multi-path relaxation (chain vs
    * every skip scale) is genuinely exercised.
    */
  private def iterEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val n = t(s, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"))
    def edges(step: Int, w: org.apache.spark.sql.Column) =
      n.filter(col("doc_id") + step < 300)
        .select(col("doc_id").as("src"), (col("doc_id") + step).as("dst"),
          w.as("w"))
    Seq(3, 9, 27, 81).map(k => edges(k, col("doc_id") % 5 + 2))
      .foldLeft(edges(1, col("doc_id") % 3 + 4))(_ unionByName _)
  }

  val oracles: Map[String, String] = Map(
    "q_fmt_debezium" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 3 = 0 THEN value + 1 ELSE value END AS value
        |FROM events WHERE event_id % 5 <> 0 ORDER BY event_id""".stripMargin,

    "q_fmt_avro" ->
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
        |  MAX(ts) AS max_ts
        |FROM ${Tables.duckEvents} GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_fmt_seqfile" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
        |  ${dsumSql("o_totalprice")} AS sum_price,
        |  MAX(o_orderdate) AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_fmt_protobuf" ->
      """SELECT o_orderstatus AS status, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(SUM(o_orderkey % 7 + o_orderkey % 11) AS BIGINT) AS sum_mods,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust,
        |  COUNT(DISTINCT o_orderpriority) AS n_prio
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_fmt_csv" ->
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
        |  MAX(ts) AS max_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_fmt_json" ->
      s"""SELECT l_returnflag, COUNT(*) AS n,
        |  ${dsumSql("l_extendedprice")} AS sum_price,
        |  MAX(l_shipdate) AS max_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_fmt_orc" ->
      s"""SELECT c_mktsegment, COUNT(*) AS n, ${dsumSql("c_acctbal")} AS sum_bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_fmt_partitioned" ->
      s"""SELECT CAST(user_id % 8 AS INT) AS bucket, COUNT(*) AS n,
        |  ${dsumSql("value")} AS sum_value
        |FROM events WHERE user_id % 8 IN (1, 3, 5)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_state_reader" ->
      s"""SELECT o_orderstatus, COUNT(*) AS n,
        |  ${dsumSql("o_totalprice")} AS sum_price
        |FROM orders WHERE o_orderkey % 4 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_lookup" ->
      """SELECT c_custkey, n_name FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_async_lookup" ->
      """SELECT c_custkey, n_name FROM customer
        |JOIN nation ON n_nationkey = c_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_agg_tableagg" ->
      """SELECT o_orderstatus, CAST(rank AS BIGINT) AS rank, o_orderkey,
        |  o_totalprice
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |        ROW_NUMBER() OVER (PARTITION BY o_orderstatus
        |          ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |      FROM orders)
        |WHERE rank <= 2 ORDER BY o_orderstatus, rank""".stripMargin,

    "q_stream_countslide" ->
      s"""WITH ordered AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM ${Tables.duckEvents} WHERE user_id % 3 = 0)
        |SELECT CAST(o.user_id AS VARCHAR) AS key,
        |  CAST(o.rn // 4 AS BIGINT) AS fire_id,
        |  CAST(SUM(i.event_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM ordered o JOIN ordered i
        |  ON i.user_id = o.user_id AND i.rn BETWEEN o.rn - 9 AND o.rn
        |WHERE o.rn % 4 = 0
        |GROUP BY o.user_id, o.rn
        |ORDER BY key, fire_id""".stripMargin,

    "q_stream_countwin" ->
      s"""WITH ordered AS (
        |  SELECT user_id, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM ${Tables.duckEvents} WHERE user_id % 3 = 0)
        |SELECT CAST(user_id AS VARCHAR) AS key,
        |  CAST((rn - 1) // 10 AS BIGINT) AS window_id,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM ordered GROUP BY user_id, (rn - 1) // 10
        |HAVING COUNT(*) = 10
        |ORDER BY key, window_id""".stripMargin,

    "q_stream_sort" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS violations
        |FROM events WHERE user_id % 3 = 0
        |GROUP BY user_id ORDER BY key""".stripMargin,

    "q_fmt_filesink" ->
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
        |  MAX(event_id) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_stream_semi" ->
      """SELECT CAST(p.user_id AS VARCHAR) AS key, p.event_id AS id
        |FROM events p WHERE p.event_type = 'purchase' AND EXISTS (
        |  SELECT 1 FROM events v WHERE v.event_type = 'view'
        |    AND v.user_id = p.user_id AND v.user_id % 7 <> 0 AND v.event_id % 3 <> 0)
        |ORDER BY key, id""".stripMargin,

    "q_stream_anti" ->
      """SELECT CAST(p.user_id AS VARCHAR) AS key, p.event_id AS id
        |FROM events p WHERE p.event_type = 'purchase' AND NOT EXISTS (
        |  SELECT 1 FROM events v WHERE v.event_type = 'view'
        |    AND v.user_id = p.user_id AND v.user_id % 7 <> 0 AND v.event_id % 3 <> 0)
        |ORDER BY key, id""".stripMargin,

    "q_stream_broadcast" ->
      """SELECT CAST(user_id AS VARCHAR) AS key,
        |  CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS value,
        |  user_id % 100 AS threshold
        |FROM events
        |WHERE CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) > user_id % 100
        |ORDER BY key, value""".stripMargin,

    "q_stream_filesrc" ->
      s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_src_dsv2" ->
      """SELECT o_orderkey AS id,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS v
        |FROM orders
        |WHERE CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) > 30000000
        |ORDER BY id""".stripMargin,

    // recursive-CTE restatement of the delta-iteration fixpoint: every
    // distance from node 0 over the same derived DAG (UNION dedups the
    // frontier, MIN folds multi-path sums)
    "q_iter_sssp" ->
      """WITH RECURSIVE
        |n AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        |e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst, doc_id % 3 + 4 AS w FROM n WHERE doc_id + 1 < 300
        |  UNION ALL
        |  SELECT doc_id, doc_id + s, doc_id % 5 + 2 FROM n, (VALUES (3), (9), (27), (81)) AS sk(s)
        |  WHERE doc_id + s < 300),
        |p(id, dist) AS (
        |  SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist
        |  UNION
        |  SELECT e.dst, p.dist + e.w FROM p JOIN e ON e.src = p.id)
        |SELECT id, MIN(dist) AS dist FROM p GROUP BY id ORDER BY id""".stripMargin,

    // depth-bounded recursion = exactly k bulk rounds of min-label
    "q_iter_minlabel" ->
      """WITH RECURSIVE
        |n AS (SELECT doc_id FROM documents WHERE doc_id < 300),
        |e AS (
        |  SELECT doc_id AS src, doc_id + 1 AS dst FROM n WHERE doc_id + 1 < 300
        |  UNION ALL
        |  SELECT doc_id, doc_id + s FROM n, (VALUES (3), (9), (27), (81)) AS sk(s)
        |  WHERE doc_id + s < 300),
        |r(id, label, depth) AS (
        |  SELECT doc_id, doc_id, 0 FROM n
        |  UNION ALL
        |  SELECT e.dst, r.label, r.depth + 1 FROM r JOIN e ON e.src = r.id WHERE r.depth < 5)
        |SELECT id, MIN(label) AS label FROM r GROUP BY id ORDER BY id""".stripMargin
  )
}
