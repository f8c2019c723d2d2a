package graft.queries

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Seeded random generators for the WINDOW-FAMILY leftovers the core
  * stream fuzz ([[StreamFuzzGen]]) doesn't reach:
  *
  *   - [[genCumulate]]: CUMULATE window TVF shapes through the
  *     [[graft.GraftSql]] front door (the reference's
  *     CumulativeWindowAssigner / StreamExecWindowAggregate slice
  *     semantics, re-expressed as WindowTvf's slice expansion) — random
  *     step/maxSize pairs, keys, aggregates, filters;
  *   - [[genCountWin]]: count windows over
  *     [[graft.streaming.StatefulOps.CountWindowProcessor]] /
  *     CountSlideProcessor (KeyedStream.countWindow(size) and
  *     countWindow(size, slide)) — random keys, sizes, slides, value
  *     expressions, restated as ROW_NUMBER arithmetic;
  *   - [[genWinRank]]: window Top-N and window dedup (the reference's
  *     WindowRankProcessor / RowTimeWindowDeduplicateProcessor) —
  *     random tumble widths, partition keys, ranks and keep-first/last
  *     arms over per-window ROW_NUMBER.
  *
  * Every case is a pure function of its seed; oracles are DuckDB
  * restatements over the same events parquet (time_bucket for windows —
  * widths are constrained to divide a day so epoch- and
  * Monday-origin-alignment coincide, as everywhere in this repo).
  */
object WindowFuzzGen {

  /** CUMULATE TVF case: slices [start, start + k·step], k = 1..max/step. */
  case class CumulateCase(
      seed: Long,
      filterSql: String,
      keys: Seq[(String, String)], // (shared SQL expr, alias)
      stepMinutes: Int,
      maxMinutes: Int,
      aggs: Seq[(String, String)]) {

    /** The Spark text — runs through the GraftSql TVF front door, so the
      * fuzz also exercises the CUMULATE parser/rewriter with shapes the
      * fixed q_tvf_cumulate row can't.
      */
    def sparkSql: String = {
      val keySel = keys.map { case (e, a) => s"$e AS $a" }
      val aggSel = aggs.map { case (e, a) => s"$e AS $a" }
      s"""SELECT window_start, window_end,
         |  ${(keySel ++ aggSel).mkString(",\n  ")}
         |FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts),
         |  INTERVAL '$stepMinutes' MINUTE, INTERVAL '$maxMinutes' MINUTE))
         |WHERE $filterSql
         |GROUP BY window_start, window_end, ${keys.map(_._1).mkString(", ")}""".stripMargin
    }

    def oracleSql: String = {
      val keySel = keys.map { case (e, a) => s"$e AS $a" }
      val aggSel = aggs.map { case (e, a) => s"$e AS $a" }
      val groupBy = (1 to 2 + keys.length).mkString(", ")
      s"""WITH e AS ${Tables.duckEvents},
         |f AS (SELECT * FROM e WHERE $filterSql)
         |SELECT time_bucket(INTERVAL $maxMinutes MINUTE, ts) AS window_start,
         |  we AS window_end,
         |  ${(keySel ++ aggSel).mkString(",\n  ")}
         |FROM f, UNNEST(generate_series(
         |    time_bucket(INTERVAL $maxMinutes MINUTE, ts) + INTERVAL $stepMinutes MINUTE,
         |    time_bucket(INTERVAL $maxMinutes MINUTE, ts) + INTERVAL $maxMinutes MINUTE,
         |    INTERVAL $stepMinutes MINUTE)) AS u(we)
         |WHERE we > ts
         |GROUP BY $groupBy""".stripMargin
    }
  }

  /** Count-window case: tumbling emits each FULL window of `size` rows
    * per key (partial tails stay pending); sliding fires at every
    * `slide`-th row over the trailing `size` (partial heads allowed).
    */
  case class CountWinCase(
      seed: Long,
      filterSql: String,
      keySql: String, // STRING-valued shared expr
      valueSql: String, // BIGINT-valued shared expr
      size: Int,
      slide: Int,
      sliding: Boolean) {

    def oracleSql: String = {
      val ordered =
        s"""WITH e AS ${Tables.duckEvents},
           |f AS (SELECT CAST($keySql AS STRING) AS k,
           |    CAST($valueSql AS BIGINT) AS v, ts, event_id
           |  FROM e WHERE $filterSql),
           |ordered AS (SELECT k, v, ROW_NUMBER() OVER (
           |    PARTITION BY k ORDER BY ts, event_id) AS rn FROM f)""".stripMargin
      if (!sliding)
        s"""$ordered
           |SELECT k, CAST((rn - 1) // $size AS BIGINT) AS window_id,
           |  CAST(SUM(v) AS BIGINT) AS sum_v, COUNT(*) AS n
           |FROM ordered GROUP BY k, (rn - 1) // $size
           |HAVING COUNT(*) = $size""".stripMargin
      else
        s"""$ordered
           |SELECT o.k AS k, CAST(o.rn // $slide AS BIGINT) AS fire_id,
           |  CAST(SUM(i.v) AS BIGINT) AS sum_v, COUNT(*) AS n
           |FROM ordered o JOIN ordered i
           |  ON i.k = o.k AND i.rn BETWEEN o.rn - ${size - 1} AND o.rn
           |WHERE o.rn % $slide = 0
           |GROUP BY o.k, o.rn""".stripMargin
    }
  }

  /** Window-rank case: `topn` ranks per-entity aggregates inside each
    * (tumble, partition key) slice; `dedup` keeps the first/last row per
    * slice — both restated as per-window ROW_NUMBER.
    */
  case class WinRankCase(
      seed: Long,
      filterSql: String,
      winMinutes: Int,
      partSql: String, // STRING-valued shared expr
      mode: String, // topn | dedup
      n: Int,
      last: Boolean) { // dedup arm: keep-last instead of keep-first

    def oracleSql: String = {
      val base =
        s"""WITH e AS ${Tables.duckEvents},
           |f AS (SELECT time_bucket(INTERVAL $winMinutes MINUTE, ts)
           |      AS window_start,
           |    CAST($partSql AS STRING) AS pk, user_id, event_id, ts,
           |    CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
           |  FROM e WHERE $filterSql)""".stripMargin
      mode match {
        case "topn" =>
          s"""$base,
             |per_entity AS (SELECT window_start, pk, user_id,
             |    CAST(SUM(cents) AS BIGINT) AS sum_cents
             |  FROM f GROUP BY 1, 2, 3)
             |SELECT window_start, pk, user_id, sum_cents, rn FROM (
             |  SELECT *, CAST(ROW_NUMBER() OVER (
             |      PARTITION BY window_start, pk
             |      ORDER BY sum_cents DESC, user_id) AS BIGINT) AS rn
             |  FROM per_entity)
             |WHERE rn <= $n""".stripMargin
        case "dedup" =>
          val ord = if (last) "ts DESC, event_id DESC" else "ts, event_id"
          s"""$base
             |SELECT window_start, pk, event_id FROM (
             |  SELECT window_start, pk, event_id, ROW_NUMBER() OVER (
             |      PARTITION BY window_start, pk ORDER BY $ord) AS rn
             |  FROM f)
             |WHERE rn = 1""".stripMargin
      }
    }
  }

  /** Cumulate case for a seed — pure function of the seed. maxMinutes
    * divides a day (bucket alignment); step divides maxMinutes.
    */
  def genCumulate(seed: Long): CumulateCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xc31a7eL))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val keyPool = Seq(
      ("event_type", "k_type"),
      (s"(user_id % ${Seq(3, 5, 7)(r.nextInt(3))})", "k_user"))
    val keys = r.nextInt(3) match {
      case 0 => Seq(keyPool.head)
      case 1 => Seq(keyPool(1))
      case 2 => keyPool
    }
    val max = Seq(120, 240, 360)(r.nextInt(3))
    val step = Seq(max / 2, max / 4)(r.nextInt(2))
    require(1440 % max == 0 && max % step == 0,
      s"cumulate max=$max/step=$step must align buckets")
    val aggPool = Seq(
      ("COUNT(*)", "n"),
      ("CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT)", "sum_cents"),
      ("MIN(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))", "min_cents"),
      ("MAX(event_id)", "max_id"))
    val aggs = r.shuffle(aggPool).take(1 + r.nextInt(2)).sortBy(_._2)
    CumulateCase(seed, filterSql, keys, step, max, aggs)
  }

  /** Count-window case for a seed — pure function of the seed. */
  def genCountWin(seed: Long): CountWinCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0xc0147L))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val keySql = r.nextInt(3) match {
      case 0 => "CAST(user_id AS STRING)"
      case 1 => s"CAST(user_id % ${Seq(5, 11)(r.nextInt(2))} AS STRING)"
      case 2 => "CONCAT(event_type, '#', CAST(user_id % 3 AS STRING))"
    }
    val valueSql = r.nextInt(3) match {
      case 0 => "event_id"
      case 1 => "CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"
      case 2 => "event_id - 100000"
    }
    val size = 2 + r.nextInt(8)
    val sliding = r.nextInt(2) == 0
    val slide = if (sliding) 1 + r.nextInt(size) else size
    CountWinCase(seed, filterSql, keySql, valueSql, size, slide, sliding)
  }

  /** Window-rank case for a seed — pure function of the seed. */
  def genWinRank(seed: Long): WinRankCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x3a41cL))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val win = Seq(180, 360, 720, 1440)(r.nextInt(4))
    val partSql = r.nextInt(2) match {
      case 0 => "event_type"
      case 1 => s"CAST(user_id % ${Seq(3, 5)(r.nextInt(2))} AS STRING)"
    }
    val mode = Seq("topn", "dedup")(r.nextInt(2))
    val n = 1 + r.nextInt(4)
    val last = r.nextInt(2) == 0
    WinRankCase(seed, filterSql, win, partSql, mode, n, last)
  }

  /** Cumulate replay — the TVF text through the SQL front door. */
  def replayCumulate(s: SparkSession, dir: String,
      c: CumulateCase): DataFrame = {
    graft.Tables.registerAll(s, dir)
    graft.GraftSql.sql(s, c.sparkSql)
  }

  /** Window-rank replay — the batch window+rank composition (the same
    * plan family the hand rows q_window_topn / q_window_dedup pin).
    */
  def replayWinRank(s: SparkSession, dir: String,
      c: WinRankCase): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val f = Q.t(s, dir, "events")
      .filter(expr(c.filterSql))
      .select(
        window(col("ts").cast("timestamp"), s"${c.winMinutes} minutes")
          .getField("start").cast("timestamp_ntz").as("window_start"),
        expr(s"CAST(${c.partSql} AS STRING)").as("pk"),
        col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("tts"),
        expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
          .as("cents"))
    c.mode match {
      case "topn" =>
        val perEntity = f.groupBy(col("window_start"), col("pk"),
            col("user_id"))
          .agg(sum(col("cents")).cast("long").as("sum_cents"))
        val w = Window.partitionBy(col("window_start"), col("pk"))
          .orderBy(col("sum_cents").desc, col("user_id"))
        perEntity
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= c.n)
      case "dedup" =>
        val w = Window.partitionBy(col("window_start"), col("pk"))
          .orderBy(
            (if (c.last) Seq(col("tts").desc, col("event_id").desc)
             else Seq(col("tts"), col("event_id"))): _*)
        f.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("window_start"), col("pk"), col("event_id"))
    }
  }
}
