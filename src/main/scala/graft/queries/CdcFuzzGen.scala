package graft.queries

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.Tables
import graft.streaming.Changelog

/** Seeded random generator for CDC-FORMAT differential cases — fuzzes
  * the four changelog-JSON dialect parsers in
  * [[graft.sources.ChangelogJson]] (the reference's
  * DebeziumJsonDeserializationSchema / CanalJsonDeserializationSchema /
  * MaxwellJsonDeserializationSchema / OggJsonDeserializationSchema,
  * flink-formats/flink-json) with shapes the fixed `q_fmt_debezium`
  * scenario can't enumerate: random PK-collision schedules, interleaved
  * insert/update/delete chains per key, canal's MULTI-ROW `data` arrays,
  * and the canal/maxwell PARTIAL-OLD update images (`old` carries only
  * the changed fields, which the parser must merge over `data` to
  * reconstruct the UPDATE_BEFORE row).
  *
  * Per seed, ONE simulated table history (a pure function of the seed
  * over the events table: rows in event_id order upsert/delete a key
  * space folded by `user_id % pkMod`) renders in all four dialects.
  * Each dialect decodes through its parser and folds ORDER-INSENSITIVELY
  * by full row value (+I/+U count +1, -U/-D count −1; net 1 survives):
  * the simulation issues consistent before-images, so every retraction
  * must cancel an earlier addition exactly — a parser that reconstructs
  * a wrong UPDATE_BEFORE (e.g. a bad partial-old merge) leaves
  * non-cancelling rows and diverges. The fold's fixed point is the
  * history's final table state, which the DuckDB oracle restates
  * declaratively (last row per key, dropped if delete-marked).
  */
object CdcFuzzGen {

  case class Case(
      seed: Long,
      filterSql: String,
      pkMod: Int,
      delMod: Int,
      delRes: Int,
      canalBatchMax: Int) {

    /** DuckDB restatement of the final table state. The simulation's
      * skip rule (a delete-marked row on an absent key is a no-op, so
      * the stream never deletes a missing row) makes the fixed point
      * exactly: a key survives iff its LAST event row (event_id order)
      * is not delete-marked, carrying that row's image.
      */
    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT user_id % $pkMod AS pk, event_id AS ev,
         |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    event_id
         |  FROM e WHERE $filterSql),
         |l AS (SELECT pk, ev, cents,
         |    ROW_NUMBER() OVER (PARTITION BY pk ORDER BY event_id DESC)
         |      AS rn,
         |    (event_id % $delMod = $delRes) AS del
         |  FROM f)
         |SELECT pk, ev, cents FROM l WHERE rn = 1 AND NOT del""".stripMargin
  }

  /** The case for a seed — a pure function of the seed. Small PK spaces
    * make per-key op chains (insert → update* → delete → re-insert)
    * the common case.
    */
  def gen(seed: Long): Case = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xcdc0fL))
    val filterSql = StreamFuzzGen.basePredOf(r)
    // small mods: deep per-key op chains (insert→update*→delete→re-insert);
    // large mods: wide final tables (many keys, shallow chains) — both
    // shapes land across seeds
    val pkMod = Seq(3, 5, 7, 11, 97, 1009)(r.nextInt(6))
    val delMod = 2 + r.nextInt(5)
    val delRes = r.nextInt(delMod)
    val canalBatchMax = 1 + r.nextInt(3)
    Case(seed, filterSql, pkMod, delMod, delRes, canalBatchMax)
  }

  /** One row image in the simulated table. */
  private case class Img(pk: Long, ev: Long, cents: Long)

  private sealed trait Op
  private case class Ins(after: Img) extends Op
  private case class Upd(before: Img, after: Img) extends Op
  private case class Del(before: Img) extends Op

  /** Simulate the table history: events rows (filtered, event_id order)
    * fold the key space; delete-marked rows DELETE the key's current
    * image (or no-op when absent), anything else INSERTs/UPDATEs with
    * the row's own image. Before-images are the true previous images —
    * the consistency the dialect parsers' retractions are checked
    * against.
    */
  /** Memoized for the LAST (dir, case) only: the history is a pure
    * function of both, and each case's history is decoded by FOUR
    * consecutive dialect runs (spec convergence + sweep) that would
    * otherwise repeat the filter+collect+sort each. A single-entry
    * cache captures that whole win; an unbounded map would retain one
    * multi-MB op history per sweep seed for the JVM's lifetime.
    */
  private val lastSim = new java.util.concurrent.atomic.AtomicReference[
    ((String, Case), Seq[Op])]()

  private def simulate(s: SparkSession, dir: String, c: Case): Seq[Op] = {
    val key = (dir, c)
    val cached = lastSim.get()
    if (cached != null && cached._1 == key) cached._2
    else {
      val ops = simulateUncached(s, dir, c)
      lastSim.set((key, ops))
      ops
    }
  }

  private def simulateUncached(s: SparkSession, dir: String,
      c: Case): Seq[Op] = {
    import s.implicits._
    val rows = Q.t(s, dir, "events")
      .filter(expr(c.filterSql))
      .select((col("user_id") % c.pkMod).as("pk"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
    val state = scala.collection.mutable.Map.empty[Long, Img]
    val ops = Seq.newBuilder[Op]
    rows.foreach { case (pk, ev, cents) =>
      val del = ev % c.delMod == c.delRes
      (state.get(pk), del) match {
        case (Some(prev), true) => state.remove(pk); ops += Del(prev)
        case (None, true) => // delete of an absent key: CDC never emits it
        case (Some(prev), false) =>
          val img = Img(pk, ev, cents); state(pk) = img
          ops += Upd(prev, img)
        case (None, false) =>
          val img = Img(pk, ev, cents); state(pk) = img
          ops += Ins(img)
      }
    }
    ops.result()
  }

  private def js(i: Img): String =
    s"""{"pk":${i.pk},"ev":${i.ev},"cents":${i.cents}}"""

  /** Canal/maxwell `old` image: ONLY the changed fields' old values —
    * the parser must coalesce them over `data` to rebuild the before
    * row. pk never changes (same key); ev always does; cents may tie.
    */
  private def jsOld(before: Img, after: Img): String = {
    val fields = Seq(s""""ev":${before.ev}""") ++
      (if (before.cents != after.cents) Seq(s""""cents":${before.cents}""")
       else Nil)
    fields.mkString("{", ",", "}")
  }

  /** ogg op_ts: "yyyy-MM-dd HH:mm:ss.SSSSSS" from the op index, encoded
    * at MILLISECOND granularity — the parser's `ts_ms` is unix_millis of
    * this string, so a finer (micros) encoding would collide 1000 op
    * indices onto one seq value and break the materialize route's
    * last-image ordering.
    */
  private def oggTs(i: Long): String = {
    // one day of ms-indices before the fixed-date hour field overflows
    // into an unparseable "24:..." — fail fast, never corrupt the seq
    require(i < 86400000L, s"ogg op index $i overflows the op_ts day")
    val sec = i / 1000L
    val us = (i % 1000L) * 1000L
    f"2024-01-01 ${sec / 3600}%02d:${sec / 60 % 60}%02d:${sec % 60}%02d.$us%06d"
  }

  /** Render the history in one dialect. Canal batches CONSECUTIVE
    * same-type ops into one envelope's `data` array (up to
    * `canalBatchMax` rows — the multi-row statement shape its parser's
    * posexplode/old-alignment path exists for).
    */
  private def render(ops: Seq[Op], dialect: String, c: Case): Seq[String] =
    dialect match {
      case "debezium" => ops.zipWithIndex.map {
        case (Ins(a), i) => s"""{"after":${js(a)},"op":"c","ts_ms":$i}"""
        case (Upd(b, a), i) =>
          s"""{"before":${js(b)},"after":${js(a)},"op":"u","ts_ms":$i}"""
        case (Del(b), i) => s"""{"before":${js(b)},"op":"d","ts_ms":$i}"""
      }
      case "maxwell" => ops.zipWithIndex.map {
        case (Ins(a), i) => s"""{"type":"insert","data":${js(a)},"ts":$i}"""
        case (Upd(b, a), i) =>
          s"""{"type":"update","data":${js(a)},"old":${jsOld(b, a)},"ts":$i}"""
        case (Del(b), i) => s"""{"type":"delete","data":${js(b)},"ts":$i}"""
      }
      case "ogg" => ops.zipWithIndex.map {
        case (Ins(a), i) =>
          s"""{"after":${js(a)},"op_type":"I","op_ts":"${oggTs(i)}"}"""
        case (Upd(b, a), i) =>
          s"""{"before":${js(b)},"after":${js(a)},"op_type":"U","op_ts":"${oggTs(i)}"}"""
        case (Del(b), i) =>
          s"""{"before":${js(b)},"op_type":"D","op_ts":"${oggTs(i)}"}"""
      }
      case "canal" =>
        // group CONSECUTIVE same-type runs, then split to batchMax
        val runs = Seq.newBuilder[Seq[Op]]
        var cur = List.empty[Op]
        def tpe(o: Op) = o match {
          case _: Ins => "INSERT"; case _: Upd => "UPDATE"
          case _: Del => "DELETE"
        }
        ops.foreach { o =>
          if (cur.nonEmpty && tpe(cur.head) == tpe(o) &&
              cur.length < c.canalBatchMax) cur = cur :+ o
          else { if (cur.nonEmpty) runs += cur; cur = List(o) }
        }
        if (cur.nonEmpty) runs += cur
        runs.result().zipWithIndex.map { case (run, i) =>
          val t = tpe(run.head)
          val data = run.map {
            case Ins(a) => js(a); case Upd(_, a) => js(a); case Del(b) => js(b)
          }.mkString("[", ",", "]")
          val old = run.map {
            case Upd(b, a) => jsOld(b, a); case _ => "null"
          }.mkString("[", ",", "]")
          s"""{"type":"$t","data":$data,"old":$old,"ts":$i}"""
        }
    }

  private val payload = StructType(Seq(
    StructField("pk", LongType), StructField("ev", LongType),
    StructField("cents", LongType)))

  /** Decode the case's history through the DIALECT's parser and fold to
    * the final table: net count per full row image must be exactly +1
    * (alive) or 0 (inserted and later retracted away). `ts_ms` is the
    * envelope's order hint and drops before the fold — the fold is
    * order-insensitive by construction, which is precisely what makes a
    * malformed retraction image observable.
    */
  private def parsed(s: SparkSession, dir: String, c: Case,
      dialect: String): DataFrame = {
    import s.implicits._
    val lines = render(simulate(s, dir, c), dialect, c)
    val raw = s.createDataset(lines).toDF("v")
    dialect match {
      case "debezium" => graft.sources.ChangelogJson.debezium(raw, "v", payload)
      case "canal" => graft.sources.ChangelogJson.canal(raw, "v", payload)
      case "maxwell" => graft.sources.ChangelogJson.maxwell(raw, "v", payload)
      case "ogg" => graft.sources.ChangelogJson.ogg(raw, "v", payload)
    }
  }

  /** The PRODUCTION consumer route: decode, then
    * [[Changelog.materialize]] by primary key with the envelope's
    * `ts_ms` as the seq — the same composition `q_fmt_debezium` ships.
    * Valid for the one-op-per-envelope dialects (debezium/maxwell/ogg,
    * where ts_ms is the unique op index after -U rows drop); canal's
    * per-envelope ts cannot order rows WITHIN a batched `data` array —
    * exactly as in real canal, where intra-envelope order is positional
    * — so canal stays on the order-insensitive fold route only.
    */
  def replayMaterialized(s: SparkSession, dir: String, c: Case,
      dialect: String): DataFrame = {
    require(dialect != "canal",
      "canal's per-envelope ts cannot seq intra-batch rows")
    Changelog.materialize(parsed(s, dir, c, dialect), Seq("pk"), "ts_ms")
      .select(col("pk"), col("ev"), col("cents"))
      .orderBy(col("pk"))
  }

  def replay(s: SparkSession, dir: String, c: Case,
      dialect: String): DataFrame = {
    import s.implicits._
    parsed(s, dir, c, dialect)
      .withColumn("__sign",
        when(col(Changelog.RowKindCol) === Changelog.Insert ||
          col(Changelog.RowKindCol) === Changelog.UpdateAfter, 1)
          .otherwise(-1))
      .groupBy($"pk", $"ev", $"cents")
      .agg(sum($"__sign").as("__net"))
      .filter($"__net" === 1)
      .select($"pk", $"ev", $"cents")
      .orderBy($"pk")
  }
}
