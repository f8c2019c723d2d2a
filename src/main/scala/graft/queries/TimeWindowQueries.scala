package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import Q._

/** SQL window TVF parity — the reference's TUMBLE/HOP/CUMULATE/SESSION
  * table functions (StreamExecWindowTableFunction.java:73,
  * StreamExecWindowAggregate.java:90, slice assigners
  * flink-table-runtime/.../operators/window/tvf/slicing/SliceAssigners.java:46)
  * plus window top-n (StreamExecWindowRank.java:77) and window dedup
  * (StreamExecWindowDeduplicate.java:69), expressed in their batch form
  * over the events table (SURVEY.md §2.5, §2.7).
  *
  * Spark-first mapping: tumble → `window(ts, w)`, hop → `window(ts, w,
  * slide)`, session → `session_window(ts, gap)`, cumulate (no built-in) →
  * explode of growing slice ends off the max-window bucket, exactly the
  * reference's slice-end model. Windows are epoch-aligned in both engines
  * (DuckDB `time_bucket` origin 2000-01-01 is a whole multiple of every
  * bucket width used here).
  *
  * Scale notes: each query is one hash shuffle on (window, key) with
  * map-side partial aggregation; the hop/cumulate row-multiplication
  * happens before the partial agg, mirroring the reference's slicing
  * (shared slices, not per-window copies, would be the next optimization —
  * at 2-4 slices per row the expand cost is bounded).
  */
object TimeWindowQueries {

  val queries: Map[String, QFn] = Map(
    // Tumbling window aggregate (TumblingWindowAssigner parity).
    "q_window_tumble" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(
          $"window.start".as("window_start"),
          $"window.end".as("window_end"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    }),

    // Hopping/sliding window aggregate (SlidingWindowAssigner parity):
    // 1 hour window sliding every 30 minutes → every row in 2 windows.
    "q_window_hop" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(window($"ts", "1 hour", "30 minutes"), $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(
          $"window.start".as("window_start"),
          $"window.end".as("window_end"),
          $"event_type", $"n", $"sum_value")
        .orderBy($"window_start", $"event_type")
    }),

    // Session window with a 1 hour inactivity gap (SessionWindowAssigner /
    // MergingWindowSet parity). Window end = last event + gap.
    "q_window_session" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "events")
        .groupBy(session_window($"ts", "1 hour"), $"user_id")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(
          $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"),
          $"user_id", $"n", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }),

    // Session window with a DYNAMIC gap expression (SessionWindowAssigner
    // withDynamicGap parity): purchases extend the session by 2 hours,
    // everything else by 1 hour. Each event spans [ts, ts+gap); touching
    // spans merge.
    "q_window_session_dyn" -> ((s, dir) => {
      import s.implicits._
      val gap = when($"event_type" === "purchase", "2 hours").otherwise("1 hour")
      t(s, dir, "events")
        .groupBy(session_window($"ts", gap), $"user_id")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .select(
          $"session_window.start".as("session_start"),
          $"session_window.end".as("session_end"),
          $"user_id", $"n", $"sum_value")
        .orderBy($"user_id", $"session_start")
    }),

    // Cumulate window (CumulativeWindowAssigner parity): max 4 hours,
    // step 1 hour — shared window_start, growing window_end slices.
    "q_window_cumulate" -> ((s, dir) => {
      import s.implicits._
      val base = window($"ts", "4 hours").getField("start")
      t(s, dir, "events")
        .withColumn("window_start", base)
        .withColumn("window_end", explode(sequence(
          col("window_start") + expr("INTERVAL 1 HOUR"),
          col("window_start") + expr("INTERVAL 4 HOURS"),
          expr("INTERVAL 1 HOUR"))))
        .filter($"window_end" > $"ts")
        .groupBy($"window_start", $"window_end", $"event_type")
        .agg(count(lit(1)).as("n"), dsum($"value").as("sum_value"))
        .orderBy($"window_start", $"window_end", $"event_type")
    }),

    // Window Top-N (WindowRankProcessor parity): top-2 users by revenue
    // per (1 day tumble, event_type).
    "q_window_topn" -> ((s, dir) => {
      import s.implicits._
      val perUser = t(s, dir, "events")
        .groupBy(window($"ts", "1 day").getField("start").as("window_start"),
          $"event_type", $"user_id")
        .agg(sum(dec2($"value")).as("sum_dec"))
      val w = Window.partitionBy($"window_start", $"event_type")
        .orderBy($"sum_dec".desc, $"user_id")
      perUser
        .select($"window_start", $"event_type", $"user_id",
          $"sum_dec".cast(DoubleType).as("sum_value"),
          row_number().over(w).cast(LongType).as("rn"))
        .filter($"rn" <= 2)
        .orderBy($"window_start", $"event_type", $"rn")
    }),

    // The same four window shapes through the reference's TVF syntax
    // (TUMBLE/HOP/CUMULATE/SESSION(TABLE …, DESCRIPTOR(ts), …)) — the
    // WindowTvf front door expands the TVF and hands the rest to spark.sql;
    // oracles are shared with the DataFrame forms above.
    "q_tvf_tumble" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start, window_end, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, event_type""".stripMargin)
    }),

    // TUMBLE with the optional OFFSET argument: windows align to
    // :15 boundaries instead of the hour (window() startTime shift).
    "q_tvf_tumble_offset" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start, window_end, event_type, COUNT(*) AS n
          |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '15' MINUTES))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, event_type""".stripMargin)
    }),

    // Window TVF composed with GROUPING SETS (the reference's window
    // aggregation supports grouping sets over the TVF's columns): the
    // expanded TUMBLE view must leave a statement Spark's grouping-sets
    // analysis accepts — gates the COMPOSITION, not just the TVF.
    "q_tvf_groupingsets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start, event_type, user_id % 3 AS ubucket, COUNT(*) AS n
          |FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, GROUPING SETS ((event_type), (user_id % 3))
          |ORDER BY window_start, event_type, ubucket""".stripMargin)
    }),

    "q_tvf_hop" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start, window_end, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '30' MINUTES, INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, event_type""".stripMargin)
    }),

    "q_tvf_cumulate" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start, window_end, event_type, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '1' HOUR, INTERVAL '4' HOURS))
          |GROUP BY window_start, window_end, event_type
          |ORDER BY window_start, window_end, event_type""".stripMargin)
    }),

    "q_tvf_session" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      graft.GraftSql.sql(s,
        """SELECT window_start AS session_start, window_end AS session_end,
          |  user_id, COUNT(*) AS n,
          |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
          |FROM TABLE(SESSION(TABLE events PARTITION BY user_id, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, user_id
          |ORDER BY user_id, session_start""".stripMargin)
    }),

    // Window dedup (RowTimeWindowDeduplicateProcessor parity): first event
    // per (user, 6 hour tumble).
    "q_window_dedup" -> ((s, dir) => {
      import s.implicits._
      val withW = t(s, dir, "events")
        .withColumn("window_start", window($"ts", "6 hours").getField("start"))
      val w = Window.partitionBy($"window_start", $"user_id")
        .orderBy($"ts", $"event_id")
      withW
        .select($"window_start", $"user_id", $"event_id", $"ts",
          row_number().over(w).as("rn"))
        .filter($"rn" === 1)
        .select($"window_start", $"user_id", $"event_id", $"ts")
        .orderBy($"window_start", $"user_id")
    })
  )

  private val baseOracles: Map[String, String] = Map(
    "q_window_tumble" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        |  time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM e GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "q_window_hop" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT ws AS window_start, ws + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM e, UNNEST([time_bucket(INTERVAL 30 MINUTE, ts),
        |                time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS u(ws)
        |GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,

    "q_window_session" ->
      s"""WITH e AS ${Tables.duckEvents},
        |m AS (SELECT user_id, ts, value,
        |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |            <= INTERVAL 1 HOUR THEN 0 ELSE 1 END AS new_s
        |  FROM e),
        |g AS (SELECT user_id, ts, value,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL 1 HOUR AS session_end,
        |  user_id, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_window_session_dyn" ->
      s"""WITH e AS (SELECT *,
        |  CASE WHEN event_type = 'purchase' THEN INTERVAL 2 HOUR ELSE INTERVAL 1 HOUR END AS gap
        |  FROM ${Tables.duckEvents}),
        |m AS (SELECT user_id, ts, value, event_id, ts + gap AS myend,
        |  MAX(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM e),
        |s AS (SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS new_s FROM m),
        |g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT MIN(ts) AS session_start, MAX(myend) AS session_end,
        |  user_id, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_window_cumulate" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT time_bucket(INTERVAL 4 HOUR, ts) AS window_start, we AS window_end,
        |  event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
        |FROM e, UNNEST(generate_series(time_bucket(INTERVAL 4 HOUR, ts) + INTERVAL 1 HOUR,
        |                               time_bucket(INTERVAL 4 HOUR, ts) + INTERVAL 4 HOUR,
        |                               INTERVAL 1 HOUR)) AS u(we)
        |WHERE we > ts
        |GROUP BY 1, 2, 3 ORDER BY window_start, window_end, event_type""".stripMargin,

    "q_window_topn" ->
      s"""WITH e AS ${Tables.duckEvents},
        |per_user AS (
        |  SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type, user_id,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS sum_dec
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT window_start, event_type, user_id,
        |  CAST(sum_dec AS DOUBLE) AS sum_value, rn FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY window_start, event_type
        |    ORDER BY sum_dec DESC, user_id) AS BIGINT) AS rn
        |  FROM per_user)
        |WHERE rn <= 2 ORDER BY window_start, event_type, rn""".stripMargin,

    "q_window_dedup" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT window_start, user_id, event_id, ts FROM (
        |  SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, user_id, event_id, ts,
        |    row_number() OVER (PARTITION BY time_bucket(INTERVAL 6 HOUR, ts), user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM e)
        |WHERE rn = 1 ORDER BY window_start, user_id""".stripMargin
  )

  /** The TVF-syntax queries compute the same results as the DataFrame
    * forms, so they share oracles (with the session's aliased columns).
    */
  val oracles: Map[String, String] = baseOracles ++ Map(
    "q_tvf_tumble" -> baseOracles("q_window_tumble"),
    "q_tvf_tumble_offset" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT time_bucket(INTERVAL 1 HOUR, ts, INTERVAL 15 MINUTE) AS window_start,
        |  time_bucket(INTERVAL 1 HOUR, ts, INTERVAL 15 MINUTE) + INTERVAL 1 HOUR AS window_end,
        |  event_type, COUNT(*) AS n
        |FROM e GROUP BY 1, 2, 3 ORDER BY window_start, event_type""".stripMargin,
    "q_tvf_groupingsets" ->
      s"""WITH e AS ${Tables.duckEvents}
        |SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
        |  event_type, user_id % 3 AS ubucket, COUNT(*) AS n
        |FROM e
        |GROUP BY time_bucket(INTERVAL 1 HOUR, ts),
        |  GROUPING SETS ((event_type), (user_id % 3))
        |ORDER BY window_start, event_type, ubucket""".stripMargin,
    "q_tvf_hop" -> baseOracles("q_window_hop"),
    "q_tvf_cumulate" -> baseOracles("q_window_cumulate"),
    "q_tvf_session" -> baseOracles("q_window_session"))
}
