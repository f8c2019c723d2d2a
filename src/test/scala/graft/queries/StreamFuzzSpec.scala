package graft.queries

import graft.SparkSuite
import org.apache.spark.sql.functions.col

/** The streaming differential-fuzz layer ([[StreamFuzzGen]]) in CI
  * form: every seeded case runs BOTH ways on this engine — incremental
  * (MemoryStream replay → watermark → append-mode window aggregate,
  * state-store-backed) and one-shot batch (the identical transform on
  * the batch frame) — and the results must be row-for-row equal. A
  * divergence would expose incremental-execution bugs (watermark
  * arithmetic, state eviction, window assignment) that batch-only
  * fuzzing cannot reach. The cross-engine half runs via
  * `graft.FuzzDump` + `dev/check.py` (DuckDB restatements of the
  * same cases), and three shape-representative seeds are permanent
  * oracle-checked rows (FuzzFamilies).
  */
class StreamFuzzSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("the events input stage with no filter keeps sortedEvents' order, ascending by event_id") {
    import spark.implicits._
    val staged = StreamQueries.eventsInput[(Long, String)](spark, dir, "true",
      col("event_id"), col("event_type")).map(_._1)
    assert(staged.nonEmpty)
    assert(staged == StreamQueries.sortedEvents(spark, dir).map(_.event_id))
    // the data fact the replays that once sorted by event_id alone rely
    // on: (micro-ts, event_id) order is event_id order on the testdata
    assert(staged == staged.sorted && staged.distinct.length == staged.length)
  }

  test("generator is deterministic per seed and covers both window kinds") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.gen(s) == StreamFuzzGen.gen(s))
    val cases = (1L to 24L).map(StreamFuzzGen.gen)
    assert(cases.exists(_.isHop) && cases.exists(!_.isHop))
    assert(cases.exists(_.keys.length == 2))
    assert(cases.map(_.filterSql).distinct.length > 4)
  }

  test("promoted seeds cover tumble+1key, hop, and composite-key shapes") {
    val shapes = FuzzFamilies.window.seeds.map(StreamFuzzGen.gen)
    assert(shapes.exists(c => !c.isHop && c.keys.length == 1))
    assert(shapes.exists(_.isHop))
    assert(shapes.exists(c => !c.isHop && c.keys.length == 2))
  }

  test("session/retract generators are deterministic and cover their arms") {
    for (s <- Seq(1L, 7L, 4242L)) {
      assert(StreamFuzzGen.genSession(s) == StreamFuzzGen.genSession(s))
      assert(StreamFuzzGen.genRetract(s) == StreamFuzzGen.genRetract(s))
    }
    val sess = (1L to 24L).map(StreamFuzzGen.genSession)
    assert(sess.exists(_.keys.length == 1) && sess.exists(_.keys.length == 2))
    assert(sess.map(_.gapMinutes).distinct.length > 1)
    val ret = (1L to 24L).map(StreamFuzzGen.genRetract)
    assert(Set("sum", "min", "max").subsetOf(ret.map(_.op).toSet))
    assert(ret.map(_.keySql).distinct.length > 2)
  }

  test("incremental session annotation matches batch gaps-and-islands per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val batchEv = Q.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    for (seed <- 1L to 6L) {
      val c = StreamFuzzGen.genSession(seed)
      val gapMicros = c.gapMinutes * 60000000L
      // batch restatement: same islands construction as the DuckDB
      // oracle, in exact micros arithmetic
      var f = batchEv
      c.keys.foreach { case (e, a) => f = f.withColumn(a, expr(e)) }
      f = f.filter(expr(c.filterSql))
      val keyCols = c.keys.map(k => col(k._2))
      val w = Window.partitionBy(keyCols: _*)
        .orderBy(col("ts"), col("event_id"))
      val m = f
        .withColumn("__us", unix_micros(col("ts")))
        .withColumn("__prev", lag(col("__us"), 1).over(w))
        .withColumn("__new_s",
          when(col("__prev").isNotNull &&
            col("__us") - col("__prev") <= gapMicros, 0).otherwise(1))
        .withColumn("__sid", sum(col("__new_s"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val w2 = Window.partitionBy(keyCols :+ col("__sid"): _*)
      val expected = m.select(keyCols ++ Seq(col("event_id"),
        timestamp_micros(min(col("__us")).over(w2)).as("window_start"),
        timestamp_micros(max(col("__us")).over(w2) + gapMicros)
          .as("window_end")): _*)
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamSessionFuzzReplay(spark, dir, c)
        .select(keyCols ++ Seq(col("event_id"),
          col("window_start").cast("timestamp").as("window_start"),
          col("window_end").cast("timestamp").as("window_end")): _*)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"session seed $seed diverged: filter=${c.filterSql} " +
          s"keys=${c.keys} gap=${c.gapMinutes}m " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("incremental retract aggregation matches batch group-by per seed") {
    import org.apache.spark.sql.functions._
    for (seed <- 1L to 10L) {
      val c = StreamFuzzGen.genRetract(seed)
      val aggCol = c.op match {
        case "sum" => sum(col("v"))
        case "min" => min(col("v"))
        case "max" => max(col("v"))
      }
      val expected = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"), col("event_id"))
        .filter(!(col("event_id") % c.deleteMod === c.deleteRes))
        .groupBy(col("k"))
        .agg(aggCol.as("agg"), count(lit(1)).as("n"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamRetractFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"retract seed $seed diverged: op=${c.op} key=${c.keySql} " +
          s"value=${c.valueSql} filter=${c.filterSql} " +
          s"delete=id%${c.deleteMod}=${c.deleteRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("sessiondyn generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genSessionDyn(s) == StreamFuzzGen.genSessionDyn(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genSessionDyn)
    assert(cs.exists(_.gapSql.contains("CASE WHEN event_type")))
    assert(cs.exists(_.gapSql.contains("user_id %")))
    assert(cs.exists(_.gapSql.contains("CAST(value")))
  }

  test("dynamic-gap session windows match the running-max-ends islands per seed") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1L to 6L) {
      val c = StreamFuzzGen.genSessionDyn(seed)
      // islands restatement: break when ts >= running MAX of prior
      // per-row ends ([start, end) windows merge on strict overlap)
      val f = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("event_id"), col("ts"),
          expr(s"CAST((${c.gapSql}) AS INT)").as("gapm"))
        .withColumn("w_end", expr("ts + make_dt_interval(0, 0, gapm, 0)"))
      val w = Window.partitionBy("k").orderBy("ts", "event_id")
      val expected = f
        .withColumn("prev_end",
          max("w_end").over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("brk",
          when(col("ts") < col("prev_end"), 0).otherwise(1))
        .withColumn("sid",
          sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("k", "sid")
        .agg(min("ts").as("ws"), max("w_end").as("we"),
          count(lit(1)).as("n"), sum("event_id").cast("long").as("sum_id"))
        .select(col("k"), col("ws").cast("timestamp_ntz").as("window_start"),
          col("we").cast("timestamp_ntz").as("window_end"),
          col("n"), col("sum_id"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamSessionDynFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"sessiondyn seed $seed diverged: key=${c.keySql} gap=${c.gapSql} " +
          s"filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("surgery generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genSurgery(s) == StreamFuzzGen.genSurgery(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genSurgery)
    assert(cs.exists(_.keySql.contains("CONCAT")))
    assert(cs.map(c => (c.cutNum, c.cutDen)).distinct.size > 1)
    assert(cs.map(_.rwMod).distinct.size > 1)
  }

  test("state surgery read→rewrite→resume matches the batch restatement per seed") {
    import org.apache.spark.sql.functions._
    def restate(c: StreamFuzzGen.SurgeryCase): Seq[String] = {
      val f = Q.t(spark, dir, "events").filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"),
          expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      val mm = f.agg(min("us").as("mn"), max("us").as("mx")).head
      val cut = mm.getLong(0) +
        (mm.getLong(1) - mm.getLong(0)) * c.cutNum / c.cutDen
      val tot = f.groupBy("k")
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      val prek = f.filter(col("us") < cut).select("k").distinct()
        .withColumn("pre", lit(1))
      val postk = f.filter(col("us") >= cut).select("k").distinct()
      tot.join(postk, "k").join(prek, Seq("k"), "left")
        .withColumn("sum_cents", (col("cents") +
          when(col("pre").isNotNull && expr(c.rewritePred("k")), c.rwDelta)
            .otherwise(0L)).cast("long"))
        .select("k", "n", "sum_cents")
        .collect().map(_.toString).sorted.toSeq
    }
    for (seed <- 1L to 4L) {
      val c = StreamFuzzGen.genSurgery(seed)
      val actual = StreamQueries.streamSurgeryFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == restate(c),
        s"surgery seed $seed diverged: key=${c.keySql} " +
          s"cut=${c.cutNum}/${c.cutDen} " +
          s"rewrite=len%${c.rwMod}=${c.rwRes}+${c.rwDelta}")
    }
    // the recovery leg: phase 2 stopped at its interior batch boundary
    // and resumed — the bootstrap must not re-apply on restart
    val c1 = StreamFuzzGen.genSurgery(1L)
    val rec = StreamQueries.streamSurgeryFuzzReplay(spark, dir, c1,
        restarts = Seq(1))
      .collect().map(_.toString).sorted.toSeq
    assert(rec == restate(c1), "surgery recovery arm diverged")
  }

  test("mini-batch emission folds to the same end state per seed") {
    import org.apache.spark.sql.functions._
    // the retract case's SUM arm through the mini-batch protocol (one
    // -U/+U step per key per micro-batch): the folded changelog must
    // equal the batch group-by — and hence the per-record route, which
    // the sweep above pins to the same restatement
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genRetract(seed).copy(op = "sum")
      val expected = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"), col("event_id"))
        .filter(!(col("event_id") % c.deleteMod === c.deleteRes))
        .groupBy(col("k"))
        .agg(sum(col("v")).as("agg"), count(lit(1)).as("n"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamRetractFuzzReplay(spark, dir, c,
          miniBatch = true)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"mini-batch seed $seed diverged: key=${c.keySql} " +
          s"value=${c.valueSql} filter=${c.filterSql} " +
          s"delete=id%${c.deleteMod}=${c.deleteRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("distinct generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genDistinct(s) == StreamFuzzGen.genDistinct(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genDistinct)
    assert(cs.exists(_.valueSql.contains("%"))) // duplicated-value arm
    assert(cs.exists(_.valueSql == "user_id"))  // full-cardinality arm
    assert(cs.map(_.buckets).distinct.size > 1)
  }

  test("split count-distinct matches the batch count-distinct per seed") {
    import org.apache.spark.sql.functions._
    for (seed <- 1L to 10L) {
      val c = StreamFuzzGen.genDistinct(seed)
      val expected = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.groupSql} AS STRING)").as("g"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"), col("event_id"))
        .filter(!(col("event_id") % c.deleteMod === c.deleteRes))
        .groupBy(col("g"))
        .agg(countDistinct(col("v")).as("n_distinct"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamDistinctFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"distinct seed $seed diverged: group=${c.groupSql} " +
          s"value=${c.valueSql} buckets=${c.buckets} " +
          s"filter=${c.filterSql} delete=id%${c.deleteMod}=${c.deleteRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("dedup generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genDedup(s) == StreamFuzzGen.genDedup(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genDedup)
    assert(Set("first", "last", "first_ttl")
      .subsetOf(cs.map(_.mode).toSet))
    assert(cs.map(_.keySql).distinct.length > 2)
  }

  test("incremental dedup matches the batch row_number/islands restatement per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (seed <- 1L to 10L) {
      val c = StreamFuzzGen.genDedup(seed)
      val f = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("ts").cast("timestamp").as("ts"), col("event_id").as("id"))
      val w = Window.partitionBy(col("k")).orderBy(col("ts"), col("id"))
      val batch = c.mode match {
        case "first" =>
          f.withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1).select(col("k"), col("id"))
        case "last" =>
          f.withColumn("rn", row_number().over(
              Window.partitionBy(col("k"))
                .orderBy(col("ts").desc, col("id").desc)))
            .filter(col("rn") === 1).select(col("k"), col("id"))
        case "first_ttl" =>
          f.withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
            .filter(col("prev").isNull ||
              unix_micros(col("ts")) - col("prev") >
                c.ttlMinutes * 60000000L)
            .select(col("k"), col("id"))
      }
      val expected = batch.collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamDedupFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"dedup seed $seed diverged: mode=${c.mode} key=${c.keySql} " +
          s"filter=${c.filterSql} ttl=${c.ttlMinutes}m " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("topn generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genTopN(s) == StreamFuzzGen.genTopN(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genTopN)
    assert(cs.exists(_.sortSql == "event_id") &&
      cs.exists(_.sortSql.contains("DECIMAL")))
    assert(cs.map(_.n).distinct.length > 2)
  }

  test("incremental top-n diffs match batch row_number per seed") {
    import org.apache.spark.sql.functions._
    for (seed <- 1L to 10L) {
      val c = StreamFuzzGen.genTopN(seed)
      val batch = Q.t(spark, dir, "events")
        .filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("event_id").as("id"),
          expr(s"CAST(${c.sortSql} AS BIGINT)").as("v"))
        .filter(!(col("id") % c.delMod === c.delRes))
        .withColumn("v", when(col("id") % c.updMod === c.updRes,
          col("v") - c.updDelta).otherwise(col("v")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("k")).orderBy(col("v"), col("id"))))
        .filter(col("rn") <= c.n)
        .select(col("k"), col("id"), col("v").as("sort"))
      val exp = batch.collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamTopNFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == exp,
        s"topn seed $seed diverged: n=${c.n} key=${c.keySql} " +
          s"sort=${c.sortSql} filter=${c.filterSql} " +
          s"upd=id%${c.updMod}=${c.updRes}-${c.updDelta} " +
          s"del=id%${c.delMod}=${c.delRes} " +
          s"(batch=${exp.length} rows, stream=${actual.length})")
    }
  }

  test("join generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genJoin(s) == StreamFuzzGen.genJoin(s))
    val cs = (1L to 48L).map(StreamFuzzGen.genJoin)
    assert(Set("inner", "left", "right", "full", "semi", "anti")
      .subsetOf(cs.map(_.joinType).toSet))
    assert(cs.map(_.keySql).distinct.length == 2)
    assert(cs.map(_.leftFilterSql).distinct.length > 4)
  }

  test("promoted join seeds cover full-outer, semi, and anti shapes") {
    val shapes = FuzzFamilies.join.seeds.map(StreamFuzzGen.genJoin)
    assert(shapes.map(_.joinType).toSet == Set("full", "semi", "anti"))
  }

  test("incremental retraction join matches the batch join over survivors per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 12L) {
      val c = StreamFuzzGen.genJoin(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      val lBase = keyed
        .filter(col("event_id") % 2 === 0 && expr(c.leftFilterSql))
      val l = (if (c.isSemiAnti) lBase
        else lBase.filter(!(col("event_id") % c.lDelMod === c.lDelRes)))
        .select(col("k"), col("event_id").as("l_id"),
          col("cents").as("l_cents"))
      val r = keyed
        .filter(col("event_id") % 2 === 1 && expr(c.rightFilterSql))
        .filter(!(col("event_id") % c.rDelMod === c.rDelRes))
        .select(col("k"), col("event_id").as("r_id"))
      val batch = c.joinType match {
        case "semi" => l.join(r, Seq("k"), "left_semi").select("k", "l_id")
        case "anti" => l.join(r, Seq("k"), "left_anti").select("k", "l_id")
        case jt => l.join(r, Seq("k"), if (jt == "full") "full_outer" else jt)
          .select("k", "l_id", "l_cents", "r_id")
      }
      val expected = batch.collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamJoinFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"join seed $seed diverged: type=${c.joinType} key=${c.keySql} " +
          s"lf=${c.leftFilterSql} rf=${c.rightFilterSql} " +
          s"ldel=id%${c.lDelMod}=${c.lDelRes} rdel=id%${c.rDelMod}=${c.rDelRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("full-outer retraction join preserves duplicate-payload multiplicities per seed") {
    // the oracle replays keep payloads unique (a net-count fold can't
    // represent multisets), so the processor's duplicate-count paths —
    // MapState cnt >= 2, emitN fan-out, willBeEmpty on (p, 1) — get
    // their own differential here: duplicated inserts, single-copy
    // deletes, and a driver-side multiset ground truth
    import org.apache.spark.sql.functions._
    import graft.streaming.{Changelog, OuterJoin}
    import spark.implicits._
    for (seed <- 1L to 6L) {
      val c = StreamFuzzGen.genJoin(seed).copy(joinType = "full")
      val rows = Q.t(spark, dir, "events")
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("event_id"),
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("cents"),
          expr(c.leftFilterSql).as("lf"), expr(c.rightFilterSql).as("rf"))
        .as[(String, Long, Long, Boolean, Boolean)].collect().toSeq
        .sortBy(_._2)
      // weights: duplicated rows insert twice; delete-predicate rows
      // retract ONE copy (clamped — a delete of a never-surviving row
      // is not generated)
      def wOf(id: Long, dupMod: Long, dupRes: Long, delMod: Int,
          delRes: Int): Int = {
        val ins = if (id % dupMod == dupRes) 2 else 1
        val del = if (id % delMod == delRes) 1 else 0
        math.max(0, ins - del)
      }
      val lefts = rows.collect { case (k, id, cents, true, _)
        if id % 2 == 0 => (k, id, cents) }
      val rights = rows.collect { case (k, id, _, _, true)
        if id % 2 == 1 => (k, id) }
      val wl = lefts.map { case (k, id, cents) =>
        (k, id, cents) -> wOf(id, 5, 2, c.lDelMod, c.lDelRes) }.toMap
      val wr = rights.map { case (k, id) =>
        (k, id) -> wOf(id, 7, 1, c.rDelMod, c.rDelRes) }.toMap
      // ground truth multiset of (k, l_id, l_cents, r_id) -> multiplicity
      val lByK = lefts.filter(wl(_) > 0).groupBy(_._1)
      val rByK = rights.filter(wr(_) > 0).groupBy(_._1)
      val expected = scala.collection.mutable.Map.empty[(String,
        Option[(Long, Long)], Option[Long]), Long]
      def bump(key: (String, Option[(Long, Long)], Option[Long]),
          n: Long): Unit =
        expected(key) = expected.getOrElse(key, 0L) + n
      (lByK.keySet ++ rByK.keySet).foreach { k =>
        val ls = lByK.getOrElse(k, Nil)
        val rs = rByK.getOrElse(k, Nil)
        if (rs.isEmpty) ls.foreach(l =>
          bump((k, Some((l._2, l._3)), None), wl(l).toLong))
        else if (ls.isEmpty) rs.foreach(r =>
          bump((k, None, Some(r._2)), wr(r).toLong))
        else for (l <- ls; r <- rs)
          bump((k, Some((l._2, l._3)), Some(r._2)),
            wl(l).toLong * wr(r).toLong)
      }
      // replay: inserts (dup rows twice) in two batches, then right
      // deletes, then left deletes — one copy each
      val inserts = (lefts.flatMap { case t @ (k, id, cents) =>
          Seq.fill(if (id % 5 == 2) 2 else 1)((k, Changelog.Insert,
            true, id, cents)) } ++
        rights.flatMap { case (k, id) =>
          Seq.fill(if (id % 7 == 1) 2 else 1)((k, Changelog.Insert,
            false, id, 0L)) }).sortBy(_._4)
      val rDel = rights.collect { case (k, id)
        if id % c.rDelMod == c.rDelRes => (k, Changelog.Delete, false, id, 0L) }
      val lDel = lefts.collect { case (k, id, cents)
        if id % c.lDelMod == c.lDelRes => (k, Changelog.Delete, true, id, cents) }
      val half = inserts.length / 2 + 1
      val actual = StreamQueries.replay(spark,
          inserts.grouped(half).toSeq ++ Seq(rDel, lDel).filter(_.nonEmpty)) {
          ds =>
        val left = ds.filter(_._3).map(r => (r._1, r._2, (r._4, r._5)))
        val right = ds.filter(!_._3).map(r => (r._1, r._2, r._4))
        OuterJoin.outerJoin[String, (Long, Long), Long](
          left, right, OuterJoin.FullOuter).toDF()
      }.collect().toSeq
        .groupBy { r =>
          val l = Option(r.getStruct(r.fieldIndex("left")))
            .map(s0 => (s0.getLong(0), s0.getLong(1)))
          val rr = if (r.isNullAt(r.fieldIndex("right"))) None
            else Some(r.getLong(r.fieldIndex("right")))
          (r.getString(r.fieldIndex("key")), l, rr)
        }
        .view.mapValues(_.map(r =>
          if (Changelog.isAdd(r.getByte(r.fieldIndex("kind")))) 1L
          else -1L).sum)
        .filter(_._2 != 0L).toMap
      assert(actual == expected.toMap,
        s"dup-join seed $seed diverged: key=${c.keySql} " +
          s"lf=${c.leftFilterSql} rf=${c.rightFilterSql} " +
          s"(expected ${expected.size} distinct rows, got ${actual.size})")
    }
  }

  test("interval generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genInterval(s) == StreamFuzzGen.genInterval(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genInterval)
    assert(cs.exists(c => c.loMinutes < 0 && c.hiMinutes <= 0))
    assert(cs.exists(c => c.loMinutes < 0 && c.hiMinutes > 0))
    assert(cs.exists(_.loMinutes >= 0))
    assert(cs.forall(c => c.hiMinutes > c.loMinutes))
  }

  test("stream-stream interval join matches the batch range join per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genInterval(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      val l = keyed.filter(col("event_id") % 2 === 0 && expr(c.leftFilterSql))
        .select(col("k"), col("event_id").as("l_id"), col("us").as("l_us"))
      val r = keyed.filter(col("event_id") % 2 === 1 && expr(c.rightFilterSql))
        .select(col("k").as("r_k"), col("event_id").as("r_id"),
          col("us").as("r_us"))
      val expected = l.join(r,
          col("k") === col("r_k") &&
          col("r_us") >= col("l_us") + c.loMinutes * 60000000L &&
          col("r_us") <= col("l_us") + c.hiMinutes * 60000000L)
        .select(col("k"), col("l_id"), col("r_id"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamIntervalFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"interval seed $seed diverged: key=${c.keySql} " +
          s"lo=${c.loMinutes} hi=${c.hiMinutes} lf=${c.leftFilterSql} " +
          s"rf=${c.rightFilterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("window-join generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genWinJoin(s) == StreamFuzzGen.genWinJoin(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genWinJoin)
    assert(cs.map(_.winMinutes).distinct.length == 3)
    assert(cs.exists(_.keySql.contains("CONCAT")) &&
      cs.exists(!_.keySql.contains("CONCAT")))
  }

  test("windowed stream-stream join matches the batch window join per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genWinJoin(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("ws",
          window(col("ts").cast("timestamp"), s"${c.winMinutes} minutes")
            .getField("start").cast("timestamp_ntz"))
      val l = keyed.filter(col("event_id") % 2 === 0 && expr(c.leftFilterSql))
        .select(col("ws"), col("k"), col("event_id").as("l_id"))
      val r = keyed.filter(col("event_id") % 2 === 1 && expr(c.rightFilterSql))
        .select(col("ws"), col("k"), col("event_id").as("r_id"))
      val expected = l.join(r, Seq("ws", "k"))
        .select(col("ws").as("window_start"), col("k"), col("l_id"),
          col("r_id"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamWinJoinFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"winjoin seed $seed diverged: key=${c.keySql} win=${c.winMinutes}m " +
          s"lf=${c.leftFilterSql} rf=${c.rightFilterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("over generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genOver(s) == StreamFuzzGen.genOver(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genOver)
    assert(cs.exists(_.rangeMode) && cs.exists(!_.rangeMode))
    assert(cs.map(_.keySql).distinct.length > 2)
    assert(cs.exists(_.valueSql.contains("- 100000")))
  }

  test("streaming over-aggregation matches the batch window frame per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genOver(seed)
      val f = ev.filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("ts").cast("timestamp").as("ts"), col("event_id"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val expected = (if (c.rangeMode) {
        val w = Window.partitionBy(col("k")).orderBy(col("ts_ms"))
        f.select(col("k"), col("ts_ms"), col("v"),
          sum(col("v")).over(w).as("moving_sum"),
          count(lit(1)).over(w).as("n"))
      } else {
        val w = Window.partitionBy(col("k"))
          .orderBy(col("ts"), col("event_id"))
        f.select(col("k"), col("ts_ms"), col("v"),
          sum(col("v")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("moving_sum"),
          row_number().over(w).cast("long").as("n"))
      }).collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamOverFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"over seed $seed diverged: range=${c.rangeMode} key=${c.keySql} " +
          s"value=${c.valueSql} filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("bounded-over generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genBoundedOver(s) == StreamFuzzGen.genBoundedOver(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genBoundedOver)
    assert(cs.exists(_.rangeMode) && cs.exists(!_.rangeMode))
    assert(cs.map(_.nRows).distinct.length > 2)
    assert(cs.map(_.rangeMs).distinct.length > 2)
    assert(cs.map(_.keySql).distinct.length > 2)
  }

  test("bounded-preceding streaming over matches the batch frame per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genBoundedOver(seed)
      val f = ev.filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("ts").cast("timestamp").as("ts"), col("event_id"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"))
        .withColumn("ts_ms", unix_millis(col("ts")))
      val expected = (if (c.rangeMode) {
        val w = Window.partitionBy(col("k")).orderBy(col("ts_ms"))
          .rangeBetween(-c.rangeMs, 0)
        f.select(col("k"), col("ts_ms"), col("v"),
          sum(col("v")).over(w).as("moving_sum"),
          count(lit(1)).over(w).as("n"))
      } else {
        val w = Window.partitionBy(col("k"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-(c.nRows - 1).toLong, 0)
        f.select(col("k"), col("ts_ms"), col("v"),
          sum(col("v")).over(w).as("moving_sum"),
          count(lit(1)).over(w).as("n"))
      }).collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamBoundedOverFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"bounded over seed $seed diverged: range=${c.rangeMode} " +
          s"n=${c.nRows} horizon=${c.rangeMs}ms key=${c.keySql} " +
          s"value=${c.valueSql} filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("temporal generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genTemporal(s) == StreamFuzzGen.genTemporal(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genTemporal)
    assert(cs.map(_.keySql).distinct.length == 3 ||
      cs.map(_.keySql).distinct.length == 4) // %7 and %11 are two texts
    assert(cs.exists(_.keySql.contains("%")) &&
      cs.exists(!_.keySql.contains("%")))
  }

  test("watermark-driven temporal join matches the batch as-of restatement per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genTemporal(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("tts", col("ts").cast("timestamp"))
        .withColumn("ms", unix_millis(col("tts")))
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      val probes = keyed.filter(expr(c.probeFilterSql))
        .select(col("k"), col("ms"), col("event_id").as("probe_id"))
      // operator keys versions at ms granularity, last (micro-ts, id)
      // arrival winning a (key, ms) collision — dedup before the as-of
      val versions = keyed.filter(expr(c.versionFilterSql))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k"), col("ms"))
            .orderBy(col("tts").desc, col("event_id").desc)))
        .filter(col("rn") === 1)
        .select(col("k"), col("ms"), col("cents"))
      val expected = graft.operators.AsOfJoin.asOf(
          probes, versions, "k", "ms", Seq("ms", "cents"))
        .select(col("k"), col("probe_id"),
          coalesce(col("r_ms"), lit(-1L)).as("v_ts"),
          coalesce(col("r_cents"), lit(-1L)).as("v_cents"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamTemporalFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"temporal seed $seed diverged: key=${c.keySql} " +
          s"pf=${c.probeFilterSql} vf=${c.versionFilterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("stream-stream and bounded-dim routes agree per seed") {
    // one operator, two front doors: the stream-stream union
    // (asOfStream) and the bounded-dim initial-state load
    // (asOfStreamStatic) must agree on identical replays — buffering,
    // ms-collision last-write-wins, resolve order, GC. The last case
    // keeps no row on either arm: its replay is the flush sentinel
    // alone, and every route emits nothing
    val noRows = StreamFuzzGen.genTemporal(1L)
      .copy(probeFilterSql = "false", versionFilterSql = "false")
    for (c <- (1L to 4L).map(StreamFuzzGen.genTemporal) :+ noRows) {
      val seed = c.seed
      val stream = StreamQueries.streamTemporalFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      if (c == noRows) assert(stream.isEmpty, s"no-row case emitted $stream")
      // for an ascending replay the bounded-dim route must agree with
      // the stream-stream run
      val static = StreamQueries.streamTemporalFuzzReplayStatic(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(static == stream,
        s"temporal static-dim seed $seed diverged: key=${c.keySql} " +
          s"pf=${c.probeFilterSql} vf=${c.versionFilterSql} " +
          s"(stream=${stream.length} rows, static=${static.length})")
    }
  }

  test("window-family generators are deterministic and cover their arms") {
    for (s <- Seq(1L, 7L, 4242L)) {
      assert(WindowFuzzGen.genCumulate(s) == WindowFuzzGen.genCumulate(s))
      assert(WindowFuzzGen.genCountWin(s) == WindowFuzzGen.genCountWin(s))
      assert(WindowFuzzGen.genWinRank(s) == WindowFuzzGen.genWinRank(s))
    }
    val cu = (1L to 24L).map(WindowFuzzGen.genCumulate)
    assert(cu.exists(_.keys.length == 2) && cu.map(_.maxMinutes).distinct.length == 3)
    val cw = (1L to 24L).map(WindowFuzzGen.genCountWin)
    assert(cw.exists(_.sliding) && cw.exists(!_.sliding))
    assert(cw.map(_.size).distinct.length > 3)
    val wr = (1L to 24L).map(WindowFuzzGen.genWinRank)
    assert(wr.exists(_.mode == "topn") && wr.exists(c => c.mode == "dedup" && c.last))
  }

  test("cumulate TVF matches the batch slice expansion per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
      .withColumn("tts", col("ts").cast("timestamp"))
    for (seed <- 1L to 8L) {
      val c = WindowFuzzGen.genCumulate(seed)
      // batch restatement: base tumble of maxSize, explode the slice
      // ends, keep slices covering the row — q_window_cumulate's shape
      var f = ev.filter(expr(c.filterSql))
        .withColumn("window_start",
          window(col("tts"), s"${c.maxMinutes} minutes").getField("start"))
        .withColumn("window_end", explode(sequence(
          col("window_start") + expr(s"INTERVAL ${c.stepMinutes} MINUTE"),
          col("window_start") + expr(s"INTERVAL ${c.maxMinutes} MINUTE"),
          expr(s"INTERVAL ${c.stepMinutes} MINUTE"))))
        .filter(col("window_end") > col("tts"))
      c.keys.foreach { case (e, a) => f = f.withColumn(a, expr(e)) }
      val aggCols = c.aggs.map { case (e, a) => expr(e).as(a) }
      val expected = f
        .groupBy((Seq(col("window_start"), col("window_end")) ++
          c.keys.map(k => col(k._2))): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .select((Seq(col("window_start").cast("string"),
          col("window_end").cast("string")) ++
          (c.keys.map(k => col(k._2)) ++ c.aggs.map(a => col(a._2)))): _*)
        .collect().map(_.toString).sorted.toSeq
      val actual = WindowFuzzGen.replayCumulate(spark, dir, c)
        .select((Seq(col("window_start").cast("string"),
          col("window_end").cast("string")) ++
          (c.keys.map(k => col(k._2)) ++ c.aggs.map(a => col(a._2)))): _*)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"cumulate seed $seed diverged: step=${c.stepMinutes} " +
          s"max=${c.maxMinutes} keys=${c.keys} filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, tvf=${actual.length})")
    }
  }

  test("streaming count windows match the row-number restatement per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = WindowFuzzGen.genCountWin(seed)
      val f = ev.filter(expr(c.filterSql))
        .select(expr(s"CAST(${c.keySql} AS STRING)").as("k"),
          col("ts").cast("timestamp").as("tts"), col("event_id"),
          expr(s"CAST(${c.valueSql} AS BIGINT)").as("v"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("k")).orderBy(col("tts"), col("event_id"))))
      val expected = (if (!c.sliding)
        f.withColumn("window_id", ((col("rn") - 1) / c.size).cast("long"))
          .groupBy(col("k"), col("window_id"))
          .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
          .filter(col("n") === c.size)
      else {
        val w = Window.partitionBy(col("k")).orderBy(col("rn"))
          .rowsBetween(-(c.size - 1), Window.currentRow)
        f.withColumn("sum_v", sum(col("v")).over(w))
          .withColumn("n", count(lit(1)).over(w))
          .filter(col("rn") % c.slide === 0)
          .select(col("k"), (col("rn") / c.slide).cast("long").as("fire_id"),
            col("sum_v"), col("n"))
      }).collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamCountWinFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"countwin seed $seed diverged: sliding=${c.sliding} " +
          s"size=${c.size} slide=${c.slide} key=${c.keySql} " +
          s"value=${c.valueSql} filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("cogroup generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genCoGroup(s) == StreamFuzzGen.genCoGroup(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genCoGroup)
    assert(cs.exists(_.isSliding) && cs.exists(!_.isSliding))
    assert(cs.map(_.keySql).distinct.length > 2)
  }

  test("windowed coGroup matches the two-sided full-join restatement per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 6L) {
      val c = StreamFuzzGen.genCoGroup(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("tts", col("ts").cast("timestamp"))
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      def windows(df: org.apache.spark.sql.DataFrame) =
        if (!c.isSliding)
          df.withColumn("ws",
            window(col("tts"), s"${c.winMinutes} minutes")
              .getField("start").cast("timestamp_ntz"))
        else
          df.withColumn("w", window(col("tts"), s"${c.winMinutes} minutes",
              s"${c.slideMinutes} minutes"))
            .withColumn("ws", col("w.start").cast("timestamp_ntz"))
      val lw = windows(keyed
          .filter(col("event_id") % 2 === 0 && expr(c.leftFilterSql)))
        .groupBy(col("ws"), col("k"))
        .agg(count(lit(1)).as("l_n0"), sum(col("cents")).as("l_c0"))
      val rw = windows(keyed
          .filter(col("event_id") % 2 === 1 && expr(c.rightFilterSql)))
        .groupBy(col("ws"), col("k"))
        .agg(count(lit(1)).as("r_n0"), max(col("event_id")).as("r_m0"))
      val expected = lw.join(rw, Seq("ws", "k"), "full_outer")
        .select(col("ws").as("window_start"), col("k"),
          coalesce(col("l_n0"), lit(0L)).as("l_n"),
          coalesce(col("r_n0"), lit(0L)).as("r_n"),
          coalesce(col("l_c0"), lit(0L)).as("l_cents"),
          coalesce(col("r_m0"), lit(-1L)).as("r_max_id"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamCoGroupFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"cogroup seed $seed diverged: key=${c.keySql} " +
          s"win=${c.winMinutes}/${c.slideMinutes}m lf=${c.leftFilterSql} " +
          s"rf=${c.rightFilterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("watermark idleness/alignment generators are deterministic and cover their arms") {
    for (s <- Seq(1L, 7L, 4242L)) {
      assert(StreamFuzzGen.genIdle(s) == StreamFuzzGen.genIdle(s))
      assert(StreamFuzzGen.genWmAlign(s) == StreamFuzzGen.genWmAlign(s))
    }
    val ids = (1L to 24L).map(StreamFuzzGen.genIdle)
    assert(ids.forall(c => c.cutoffs.exists(_.isDefined) &&
      c.cutoffs.exists(_.isEmpty)),
      "every idle case needs a stalled AND an unstalled source")
    assert(ids.exists(_.nSources == 2) && ids.exists(_.nSources == 3))
    assert(ids.exists(_.delayMinutes > 0) && ids.exists(_.delayMinutes == 0))
    assert(ids.map(_.idleTimeoutRounds).distinct.length == 2)
    assert(ids.map(_.winMinutes).distinct.length >= 3)
    val als = (1L to 24L).map(StreamFuzzGen.genWmAlign)
    assert(als.map(_.mod).distinct.length == 3)
    assert(als.map(_.driftDiv).distinct.length == 3)
  }

  /** The combined idleness-aware clock ([[StreamFuzzGen.IdleCase]]):
    * stalled sources must be released from the watermark min — the
    * sentinel goes only to UNSTALLED sources, so every window past a
    * stall closes only through the idle path. The restatement (tumble
    * counts over exactly the sent rows) is valid only under the
    * structural no-late guarantee, so the validity preconditions are
    * ASSERTED per seed, not assumed.
    */
  test("watermark idleness combined clock matches the sent-rows restatement per seed") {
    import org.apache.spark.sql.functions._
    Q.t(spark, dir, "events").createOrReplaceTempView("wm_fuzz_ev")
    val sparkCev = "SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) " +
      "AS us, event_type FROM wm_fuzz_ev"
    val evs = Q.t(spark, dir, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    val mn = evs.head._2
    val mx = evs.last._2
    val span = mx - mn + 1
    // the promoted seed rides along so its validity preconditions are
    // asserted, not just its sf0.01 oracle outcome observed
    for (seed <- (1L to 4L) ++ FuzzFamilies.wmIdle.seeds) {
      val c = StreamFuzzGen.genIdle(seed)
      // validity: every source occupies every time slice up to its data
      // end (never spuriously idle mid-stream), and every stalled
      // source is silent ≥ idleTimeoutRounds rounds before the sentinel
      // — the shared IdleCase.invalidReason check FuzzDump's wi
      // arm also gates on
      val invalid = c.invalidReason(evs)
      assert(invalid.isEmpty, s"idle seed $seed: ${invalid.getOrElse("")}")
      val expected = spark.sql(c.restatement(sparkCev))
        .collect().map(_.toString).sorted.toSeq
      // bite: some expected window must START past a stalled cutoff —
      // it can only close because idleness released the stalled source
      val stallCut = c.cutoffs.flatten
        .map(cut => mn + (mx - mn) * cut / 16).min
      assert(spark.sql(c.restatement(sparkCev))
        .filter(col("ws_us") > stallCut).count() > 0,
        s"idle seed $seed: no window past the stall — idleness untested")
      val actual = StreamQueries.streamIdleFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"idle seed $seed diverged: sources=${c.nSources} " +
          s"cutoffs=${c.cutoffs} delay=${c.delayMinutes}m " +
          s"k=${c.idleTimeoutRounds} win=${c.winMinutes}m " +
          s"rounds=${c.rounds} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  /** Alignment pacing ([[StreamFuzzGen.WmAlignCase]]): pause/resume
    * must change WHEN rows are released, never WHAT comes out — and the
    * pause must actually occur, or the arm degenerates to a plain
    * replay.
    */
  test("watermark alignment pacing matches the full-tumble restatement per seed") {
    import org.apache.spark.sql.functions._
    Q.t(spark, dir, "events").createOrReplaceTempView("wm_fuzz_ev")
    val sparkCev = "SELECT user_id, unix_micros(CAST(ts AS TIMESTAMP)) " +
      "AS us, event_type FROM wm_fuzz_ev"
    var paused = 0
    // the promoted seed rides along so its drift-cap bite is asserted,
    // not just its oracle outcome observed (it is chosen for the
    // COARSEST round split — cheapest bench shape that still pauses)
    for (seed <- (1L to 3L) ++
        FuzzFamilies.wmAlign.seeds.filterNot(1L to 3L contains _)) {
      val c = StreamFuzzGen.genWmAlign(seed)
      val expected = spark.sql(c.restatement(sparkCev))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamWmAlignFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"align seed $seed diverged: mod=${c.mod} drift=span/${c.driftDiv} " +
          s"roundsDiv=${c.roundsDiv} win=${c.winMinutes}m " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
      // pausing guard: recompute the pacing and look for a round where
      // a source with rows remaining released less than the cap
      val rows = Q.t(spark, dir, "events")
        .select(col("user_id"),
          col("ts").cast("timestamp").as("ts"), col("event_id"))
        .collect().map(r => (r.getLong(0),
          r.getTimestamp(1).getTime, r.getLong(2)))
        .sortBy(t => (t._2, t._3))
      val fast = rows.filter(t => Math.floorMod(t._1, c.mod.toLong) == 0L)
        .map(_._2).toVector
      val slow = rows.filter(t => Math.floorMod(t._1, c.mod.toLong) != 0L)
        .map(_._2).toVector
      val spanMs = (rows.last._2 - rows.head._2).max(1L)
      val cap = (math.min(fast.size, slow.size) / c.roundsDiv).max(1)
      val rounds = graft.streaming.WatermarkMux.alignRounds(
        Map(0 -> fast, 1 -> slow), (t: Long) => t,
        maxDriftMs = spanMs / c.driftDiv, rowsPerRound = cap)
      val remaining = scala.collection.mutable.Map(
        0 -> fast.size, 1 -> slow.size)
      var seedPaused = 0
      rounds.foreach { r =>
        val bySrc = r.groupBy(_._1).view.mapValues(_.size).toMap
        Seq(0, 1).foreach { j =>
          val released = bySrc.getOrElse(j, 0)
          remaining(j) -= released
          if (released < cap && remaining(j) > 0) seedPaused += 1
        }
      }
      paused += seedPaused
      // the promoted seed must ITSELF pause — its coarse round split is
      // chosen for bench cost, and this is the proof it kept the bite
      if (FuzzFamilies.wmAlign.seeds.contains(seed))
        assert(seedPaused > 0,
          s"promoted align seed $seed never paused — degenerate promotion")
    }
    assert(paused > 0,
      "alignment never paused any source on any seed — the arm is degenerate")
  }

  test("lateness generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genLateness(s) == StreamFuzzGen.genLateness(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genLateness)
    assert(cs.map(_.winMinutes).distinct.length == 3)
    assert(cs.exists(_.latenessMult >= 2) && cs.exists(_.slackMult == 2))
  }

  test("allowed-lateness refire/side-output matches the class restatement per seed") {
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 6L) {
      val c = StreamFuzzGen.genLateness(seed)
      val f = ev.filter(expr(c.filterSql))
        .select(col("event_type"), col("ts").cast("timestamp").as("tts"),
          col("event_id"))
        .withColumn("tms", unix_millis(col("tts")))
        .withColumn("ws", col("tms") - pmod(col("tms"), lit(c.windowMs)))
      // a filter matching zero rows is vacuously correct on all routes
      // (replay and oracle both yield empty) — don't NPE on the null agg
      val mRow = f.agg(max(col("tms"))).collect()(0)
      if (mRow.isNullAt(0)) {
        assert(StreamQueries.streamLatenessFuzzReplay(spark, dir, c)
          .collect().isEmpty)
      } else {
      val m = mRow.getLong(0)
      val re = f.filter(col("event_id") % c.reMod === c.reRes &&
          col("tms") >= m - c.delayMs + 1000L)
        .withColumn("too_late",
          col("ws") <= m - c.windowMs - c.latenessMs)
      val counts = f.select(col("event_type"), col("ws"))
        .union(re.filter(!col("too_late"))
          .select(col("event_type"), col("ws")))
        .groupBy(col("event_type"), col("ws"))
        .agg(count(lit(1)).as("n"))
        .select(lit(false).as("late"), col("event_type"),
          col("ws").as("ws_ms"), col("n"), lit(-1L).as("id"))
      val lateRows = re.filter(col("too_late"))
        .select(lit(true).as("late"), col("event_type"),
          col("ws").as("ws_ms"), lit(-1L).as("n"),
          (col("event_id") + c.idOff).as("id"))
      val expected = counts.union(lateRows)
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamLatenessFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"lateness seed $seed diverged: win=${c.winMinutes}m " +
          s"lat=${c.latenessMult}w slack=${c.slackMult}w " +
          s"re=id%${c.reMod}=${c.reRes} filter=${c.filterSql} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
      }
    }
  }

  test("proctime-join generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genPtJoin(s) == StreamFuzzGen.genPtJoin(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genPtJoin)
    assert(cs.exists(_.keySql.contains("%")) &&
      cs.exists(!_.keySql.contains("%")))
    assert(cs.map(c => (c.delMod, c.delRes)).distinct.length > 3)
  }

  test("arrival-order proctime join matches the last-preceding-version restatement per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val ev = Q.t(spark, dir, "events")
    for (seed <- 1L to 8L) {
      val c = StreamFuzzGen.genPtJoin(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("tts", col("ts").cast("timestamp"))
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      val versions = keyed.filter(expr(c.versionFilterSql))
        .select(col("k"), col("tts"), col("event_id"), lit(0).as("tag"),
          lit(false).as("is_probe"),
          (col("event_id") % c.delMod === c.delRes).as("vdel"),
          col("event_id").as("vid"), col("cents").as("vcents"))
      val probes = keyed.filter(expr(c.probeFilterSql))
        .select(col("k"), col("tts"), col("event_id"), lit(1).as("tag"),
          lit(true).as("is_probe"), lit(null).cast("boolean").as("vdel"),
          lit(null).cast("long").as("vid"), lit(null).cast("long").as("vcents"))
      val w = Window.partitionBy(col("k"))
        .orderBy(col("tts"), col("event_id"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def lastV(cn: String) =
        last(when(!col("is_probe"), col(cn)), ignoreNulls = true).over(w)
      val expected = versions.union(probes)
        .select(col("k"), col("event_id"), col("is_probe"),
          lastV("vdel").as("p_vdel"), lastV("vid").as("p_vid"),
          lastV("vcents").as("p_vcents"))
        .filter(col("is_probe"))
        .select(col("k"), col("event_id").as("probe_id"),
          coalesce(when(col("p_vdel"), lit(null)).otherwise(col("p_vid")),
            lit(-1L)).as("v_id"),
          coalesce(when(col("p_vdel"), lit(null)).otherwise(col("p_vcents")),
            lit(-1L)).as("v_cents"))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamPtJoinFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"ptjoin seed $seed diverged: key=${c.keySql} " +
          s"pf=${c.probeFilterSql} vf=${c.versionFilterSql} " +
          s"del=id%${c.delMod}=${c.delRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
  }

  test("broadcast-state generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genBroadcast(s) == StreamFuzzGen.genBroadcast(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genBroadcast)
    assert(cs.exists(_.keySql.contains("%")) &&
      cs.exists(_.keySql == "event_type"),
      "key arms must cover both mod buckets and event_type")
    assert(cs.map(_.nRules).distinct.length == 3)
    assert(cs.map(c => (c.delMod, c.delRes)).distinct.length > 3)
  }

  /** Broadcast-state rules map ([[StreamFuzzGen.BcCase]] — the
    * reference's KeyedBroadcastProcessFunction pattern): control
    * PUT/REMOVEs interleaving with data rows in arrival order, each
    * data row reading the rules map exactly as of its arrival. The
    * expected side is an independent DataFrame restatement (per-(key,
    * rule) last-preceding-op window over the tagged timeline — not the
    * processor's map mutation), and the case's dialect-shared SQL
    * restatement must agree with it, pinning the DuckDB oracle text.
    * Four data-dependent bites must each fire on some seed: an
    * explicit REMOVE read by a later data row, a data row passing ≥ 2
    * rules at once, a `__none` sentinel, and a rule whose version was
    * overwritten between reads.
    */
  test("broadcast-state rules map matches the last-preceding-op restatement per seed") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = Q.t(spark, dir, "events")
    ev.createOrReplaceTempView("bc_fuzz_ev")
    val sparkCev = "SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts," +
      " event_type, value FROM bc_fuzz_ev"
    var delBite = 0
    var multiBite = 0
    var noneBite = 0
    var overwriteBite = 0
    for (seed <- (1L to 6L) ++
        FuzzFamilies.broadcast.seeds.filterNot(1L to 6L contains _)) {
      val c = StreamFuzzGen.genBroadcast(seed)
      val keyed = ev.withColumn("k", expr(s"CAST(${c.keySql} AS STRING)"))
        .withColumn("tts", col("ts").cast("timestamp"))
        .withColumn("cents",
          expr("CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)"))
      val ctrl = keyed.filter(expr(c.ctrlFilterSql))
        .select(col("k"), col("tts"), col("event_id"), lit(0).as("tag"),
          lit(false).as("is_probe"),
          concat(lit("r"), (col("event_id") % c.nRules).cast("string"))
            .as("rule"),
          (col("event_id") % c.delMod === c.delRes).as("is_del"),
          col("event_id").as("version"),
          ((col("event_id") % 9 + lit(1L)) * 2500L).as("thr"),
          lit(null).cast("long").as("dcents"),
          lit(null).cast("long").as("data_id"))
      val names = (0 until c.nRules).map(i => s"r$i").toDF("rule")
      val dat = keyed.filter(expr(c.dataFilterSql))
        .select(col("k"), col("tts"), col("event_id"), col("cents"))
        .crossJoin(names)
        .select(col("k"), col("tts"), col("event_id"), lit(1).as("tag"),
          lit(true).as("is_probe"), col("rule"),
          lit(null).cast("boolean").as("is_del"),
          lit(null).cast("long").as("version"),
          lit(null).cast("long").as("thr"),
          col("cents").as("dcents"), col("event_id").as("data_id"))
      val w = Window.partitionBy(col("k"), col("rule"))
        .orderBy(col("tts"), col("event_id"), col("tag"))
        .rowsBetween(Window.unboundedPreceding, -1)
      def lastV(cn: String) =
        last(when(!col("is_probe"), col(cn)), ignoreNulls = true).over(w)
      val probed = ctrl.unionByName(dat)
        .select(col("k"), col("rule"), col("is_probe"), col("dcents"),
          col("data_id"), lastV("is_del").as("p_del"),
          lastV("version").as("p_ver"), lastV("thr").as("p_thr"))
        .filter(col("is_probe"))
        .withColumn("pass",
          coalesce(col("p_del"), lit(true)) === false &&
            col("dcents") > col("p_thr"))
        .cache()
      val passRows = probed.filter(col("pass"))
        .select(col("k"), col("data_id"), col("rule").as("rule_name"),
          col("p_ver").as("version"), col("p_thr").as("thr_cents"))
      val noneRows = probed.groupBy(col("k"), col("data_id"))
        .agg(max(when(col("pass"), 1).otherwise(0)).as("np"))
        .filter(col("np") === 0)
        .select(col("k"), col("data_id"), lit("__none").as("rule_name"),
          lit(-1L).as("version"), lit(-1L).as("thr_cents"))
      val expected = passRows.unionByName(noneRows)
        .collect().map(_.toString).sorted.toSeq
      if (probed.filter(col("p_del") === true).count() > 0) delBite += 1
      if (passRows.groupBy("data_id").count()
          .filter(col("count") >= 2).count() > 0) multiBite += 1
      if (noneRows.limit(1).count() > 0) noneBite += 1
      if (passRows.groupBy("k", "rule_name")
          .agg(countDistinct("version").as("nv"))
          .filter(col("nv") >= 2).count() > 0) overwriteBite += 1
      probed.unpersist()
      // the dialect-shared SQL restatement (the DuckDB oracle text) must
      // agree with the independent DataFrame restatement
      val sqlSide = spark.sql(c.restatement(sparkCev))
        .collect().map(_.toString).sorted.toSeq
      assert(sqlSide == expected,
        s"broadcast seed $seed: SQL restatement diverged from the " +
          s"DataFrame restatement (${sqlSide.length} vs ${expected.length})")
      val actual = StreamQueries.streamBroadcastFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"broadcast seed $seed diverged: key=${c.keySql} " +
          s"cf=${c.ctrlFilterSql} df=${c.dataFilterSql} " +
          s"rules=${c.nRules} del=id%${c.delMod}=${c.delRes} " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
    assert(delBite > 0, "no seed ever read an explicit REMOVE — untested")
    assert(multiBite > 0, "no data row ever passed ≥2 rules — untested")
    assert(noneBite > 0, "no __none sentinel ever emitted — untested")
    assert(overwriteBite > 0,
      "no rule version was ever overwritten between reads — untested")
  }

  test("temporal-sort generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genTsort(s) == StreamFuzzGen.genTsort(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genTsort)
    assert(cs.map(_.quantMinutes).distinct.length == 3)
    assert(cs.map(_.delayMinutes).distinct.length == 3)
    assert(cs.exists(_.keySql.contains("%")))
  }

  /** Temporal sort ([[StreamFuzzGen.TsortCase]] — the reference's
    * RowTimeSortOperator): scrambled chunks must re-emit in exact
    * (quantized ts, arrival) order, stamped into a per-key sequence the
    * restatement states as ROW_NUMBER. Two data-dependent bites must
    * fire on some seed: a batch that actually contains an out-of-order
    * timestamp pair (the sort has work to undo), and a quantized tie
    * group spanning ≥ 2 chunks (one buffered timestamp accumulating
    * across micro-batches).
    */
  test("temporal sort re-emits scrambled chunks in exact order per seed") {
    import org.apache.spark.sql.functions._
    Q.t(spark, dir, "events").createOrReplaceTempView("tsort_fuzz_ev")
    val sparkCev = "SELECT event_id, user_id, " +
      "unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_type, value " +
      "FROM tsort_fuzz_ev"
    var disorderBite = 0
    var spanBite = 0
    for (seed <- (1L to 4L) ++
        FuzzFamilies.tsort.seeds.filterNot(1L to 4L contains _)) {
      val c = StreamFuzzGen.genTsort(seed)
      // mirror the replay's batch construction to assert the bites
      val quantUs = c.quantUs
      val rows = spark.sql(s"SELECT CAST(${c.keySql} AS STRING) AS k, " +
          s"us, event_id FROM ($sparkCev) WHERE ${c.filterSql}")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._2, t._3)).toSeq
      val csz = math.max(1, math.ceil(rows.length.toDouble / 3).toInt)
      val batches = rows.grouped(csz).toSeq
        .map(_.sortBy(t => ((t._3 * 131) % 997, t._3)))
      if (batches.exists(b => b.sliding(2).exists(p =>
        p.length == 2 && p(0)._2 - p(0)._2 % quantUs >
          p(1)._2 - p(1)._2 % quantUs))) disorderBite += 1
      val groupChunks = rows.zipWithIndex.groupBy { case ((k, us, _), _) =>
        (k, us - us % quantUs) }
        .values.map(_.map(_._2 / csz).distinct.length)
      if (groupChunks.exists(_ >= 2)) spanBite += 1
      val expected = spark.sql(c.restatement(sparkCev))
        .collect().map(_.toString).sorted.toSeq
      val actual = StreamQueries.streamTsortFuzzReplay(spark, dir, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"tsort seed $seed diverged: key=${c.keySql} f=${c.filterSql} " +
          s"quant=${c.quantMinutes}m delay=${c.delayMinutes}m " +
          s"(batch=${expected.length} rows, stream=${actual.length})")
    }
    assert(disorderBite > 0,
      "no batch ever contained an out-of-order pair — the sort is untested")
    assert(spanBite > 0,
      "no tie group ever spanned two chunks — cross-batch buffering untested")
  }

  test("top1/firstn generator is deterministic and covers its arms") {
    for (s <- Seq(1L, 7L, 4242L))
      assert(StreamFuzzGen.genT1(s) == StreamFuzzGen.genT1(s))
    val cs = (1L to 24L).map(StreamFuzzGen.genT1)
    assert(cs.exists(_.arm == "top1") && cs.exists(_.arm == "firstn"))
    assert(cs.exists(c => c.arm == "top1" && c.sortSql.contains("DECIMAL")))
    assert(cs.map(_.n).distinct.length >= 3)
  }

  /** Fast Top-1 / append First-N ([[StreamFuzzGen.T1Case]] — the
    * reference's FastTop1Function champion state and
    * AppendOnlyFirstNFunction counter state): folded changelogs must
    * equal the ROW_NUMBER restatements. Three bites must fire across
    * the sweep: a champion DETHRONED mid-replay (-U/+U path), a sort
    * TIE resolved by id, and a key truncated by the First-N counter.
    */
  test("fast top1/firstn matches the row_number restatement per seed") {
    import org.apache.spark.sql.functions._
    Q.t(spark, dir, "events").createOrReplaceTempView("t1_fuzz_ev")
    val sparkCev = "SELECT event_id, user_id, " +
      "unix_micros(CAST(ts AS TIMESTAMP)) AS us, event_type, value " +
      "FROM t1_fuzz_ev"
    var dethroneBite = 0
    var tieBite = 0
    var truncBite = 0
    // the bites are pure data facts (no engine run) — scan a wider seed
    // range than the replay differential so each fires somewhere
    for (seed <- (1L to 16L) ++
        FuzzFamilies.t1.seeds.filterNot(1L to 16L contains _)) {
      val c = StreamFuzzGen.genT1(seed)
      if (c.arm == "top1") {
        // dethroning: the eventual champion is not the first arrival
        val n = spark.sql(
          s"""WITH f AS (SELECT CAST(${c.keySql} AS STRING) AS k,
             |    event_id, us, CAST(${c.sortSql} AS BIGINT) AS srt
             |  FROM ($sparkCev) WHERE ${c.filterSql}),
             |r AS (SELECT k,
             |    MIN_BY(event_id, STRUCT(srt, event_id)) AS champ,
             |    MIN_BY(event_id, STRUCT(us, event_id)) AS first
             |  FROM f GROUP BY k)
             |SELECT COUNT(*) FROM r WHERE champ <> first""".stripMargin)
          .collect().head.getLong(0)
        if (n > 0) dethroneBite += 1
        val ties = spark.sql(
          s"""WITH f AS (SELECT CAST(${c.keySql} AS STRING) AS k,
             |    CAST(${c.sortSql} AS BIGINT) AS srt
             |  FROM ($sparkCev) WHERE ${c.filterSql}),
             |m AS (SELECT k, MIN(srt) AS ms FROM f GROUP BY k)
             |SELECT COUNT(*) FROM f JOIN m ON f.k = m.k AND f.srt = m.ms
             |GROUP BY f.k HAVING COUNT(*) >= 2""".stripMargin).count()
        if (ties > 0) tieBite += 1
      } else {
        val over = spark.sql(
          s"""SELECT CAST(${c.keySql} AS STRING) AS k, COUNT(*) AS n
             |FROM ($sparkCev) WHERE ${c.filterSql}
             |GROUP BY 1 HAVING COUNT(*) > ${c.n}""".stripMargin).count()
        if (over > 0) truncBite += 1
      }
      // the engine differential runs on the head of the range + the
      // promoted seeds (each replay is a full streaming query)
      if (seed <= 6L || FuzzFamilies.t1.seeds.contains(seed)) {
        val expected = spark.sql(c.restatement(sparkCev))
          .collect().map(_.toString).sorted.toSeq
        val actual = StreamQueries.streamT1FuzzReplay(spark, dir, c)
          .collect().map(_.toString).sorted.toSeq
        assert(actual == expected,
          s"t1 seed $seed diverged: arm=${c.arm} key=${c.keySql} " +
            s"f=${c.filterSql} sort=${c.sortSql} n=${c.n} " +
            s"(batch=${expected.length} rows, stream=${actual.length})")
      }
    }
    assert(dethroneBite > 0, "no champion was ever dethroned — untested")
    assert(tieBite > 0, "no sort tie ever occurred — tiebreak untested")
    assert(truncBite > 0, "no key exceeded n — First-N truncation untested")
  }

  test("checkpoint stop/restart resume: recovered state equals the uninterrupted run per seed") {
    // the exactly-once contract across restarts (the reference's core
    // checkpoint guarantee): stop() at a seed-determined batch boundary,
    // restart from the checkpoint, and the union of pre- and post-restart
    // emissions must fold to EXACTLY the uninterrupted run's output —
    // state stores restored, watermark reloaded, no duplicates, no loss.
    // One seed per recovered-state shape; the boundary varies with the
    // seed (FuzzFamilies.restartBoundary), so across the set the
    // stop lands both mid-insert and before the retract/sentinel batches.
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    for (seed <- 1L to 2L) {
      val b = Seq(FuzzFamilies.restartBoundary(seed))
      val jc = StreamFuzzGen.genJoin(seed)
      assert(
        canon(StreamQueries.streamJoinFuzzReplay(spark, dir, jc, b)) ==
        canon(StreamQueries.streamJoinFuzzReplay(spark, dir, jc)),
        s"join recovery seed $seed diverged (type=${jc.joinType}, stop=$b)")
      val rc = StreamFuzzGen.genRetract(seed)
      assert(
        canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc, b)) ==
        canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc)),
        s"retract recovery seed $seed diverged (op=${rc.op}, stop=$b)")
      val tc = StreamFuzzGen.genTemporal(seed)
      assert(
        canon(StreamQueries.streamTemporalFuzzReplay(spark, dir, tc, b)) ==
        canon(StreamQueries.streamTemporalFuzzReplay(spark, dir, tc)),
        s"temporal recovery seed $seed diverged (key=${tc.keySql}, stop=$b)")
      val nc = StreamFuzzGen.genTopN(seed)
      assert(
        canon(StreamQueries.streamTopNFuzzReplay(spark, dir, nc, b)) ==
        canon(StreamQueries.streamTopNFuzzReplay(spark, dir, nc)),
        s"topn recovery seed $seed diverged (n=${nc.n}, stop=$b)")
    }
    // watermark-carrying shapes: the persisted watermark must reload on
    // restart or the tail windows/sessions never flush (or flush twice)
    val wc = StreamFuzzGen.gen(1L)
    val wb = Seq(FuzzFamilies.restartBoundary(1L))
    assert(
      canon(StreamQueries.streamFuzzReplay(spark, dir, wc, wb)) ==
      canon(StreamQueries.streamFuzzReplay(spark, dir, wc)),
      s"window-agg recovery diverged (win=${wc.winMinutes}m, stop=$wb)")
    val sc = StreamFuzzGen.genSession(1L)
    assert(
      canon(StreamQueries.streamSessionFuzzReplay(spark, dir, sc, wb)) ==
      canon(StreamQueries.streamSessionFuzzReplay(spark, dir, sc)),
      s"session recovery diverged (gap=${sc.gapMinutes}m, stop=$wb)")
    // CEP: the NFA's partial-match buffer (CepProcessor buffer ListState
    // + emitted-hash MapState) must restore — a lost partial match drops
    // the a_id row whose tail arrives after the restart
    val cc = CepFuzzGen.gen(1L)
    assert(
      canon(CepQueries.cepStreamFuzzReplay(spark, dir, cc, wb)) ==
      canon(CepQueries.cepStreamFuzzReplay(spark, dir, cc)),
      s"CEP recovery diverged (steps=${cc.steps.length}, stop=$wb)")
    // allowed-lateness: alive windows, fired-pane images, and the
    // persisted watermark restore — a lost pane image re-fires wrong -U
    // rows, a lost watermark re-admits dropped late rows
    val lc = StreamFuzzGen.genLateness(1L)
    assert(
      canon(StreamQueries.streamLatenessFuzzReplay(spark, dir, lc, wb)) ==
      canon(StreamQueries.streamLatenessFuzzReplay(spark, dir, lc)),
      s"lateness recovery diverged (mult=${lc.latenessMult}, stop=$wb)")
    // DOUBLE stop/restart: recovery from an already-recovered checkpoint
    // (snapshot + changelog restore stacking) — every batch boundary is
    // a stop, so both the join MapStates and the session timers +
    // watermark restore twice before the final leg
    val jc2 = StreamFuzzGen.genJoin(3L)
    assert(
      canon(StreamQueries.streamJoinFuzzReplay(spark, dir, jc2,
        restarts = Seq(1, 2))) ==
      canon(StreamQueries.streamJoinFuzzReplay(spark, dir, jc2)),
      s"join double-restart diverged (type=${jc2.joinType})")
    assert(
      canon(StreamQueries.streamSessionFuzzReplay(spark, dir, sc,
        restarts = Seq(1, 2))) ==
      canon(StreamQueries.streamSessionFuzzReplay(spark, dir, sc)),
      s"session double-restart diverged (gap=${sc.gapMinutes}m)")
    // the retract accumulators through the same two stops (a single
    // boundary was all the family's replay could take before)
    val rc2 = StreamFuzzGen.genRetract(3L)
    assert(
      canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc2,
        restarts = Seq(1, 2))) ==
      canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc2)),
      s"retract double-restart diverged (op=${rc2.op})")
  }

  test("restart sink buffers a redelivered batch whose first collect failed") {
    // the batchId-idempotent sink must mark a batch seen only AFTER its
    // rows are collected: a delivery that fails inside collect() comes
    // back with the same batchId, and its rows must then land — once
    import org.apache.spark.sql.functions.{lit, raise_error}
    val buf =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val sink = StreamQueries.idempotentSink(buf)
    val rows = spark.range(3).toDF("id")
    intercept[Exception](
      sink(rows.select(raise_error(lit("collect failed"))), 0L))
    sink(rows, 0L)
    assert(buf.size == 3, s"batch 0 lost on redelivery: ${buf.size} rows")
    sink(rows, 0L)
    assert(buf.size == 3, s"batch 0 buffered twice: ${buf.size} rows")
  }

  test("checkpoint resume survives a different session shuffle-partition default") {
    // Stateful queries cannot change the state-store partition count
    // across a checkpoint restore; the replay harness pins 2 at every
    // leg (StreamQueries.replay's per-query override), which this assert
    // insures: a resumed leg started under a DIFFERENT session default
    // must still restore and produce the uninterrupted run's output.
    // If a future harness edit lets the session default leak into a
    // restarted leg, the resume either fails (partition mismatch) or
    // diverges — both caught here.
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val rc = StreamFuzzGen.genRetract(1L)
    val expected =
      canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc))
    Q.withConf(spark, "spark.sql.shuffle.partitions" -> "1") {
      assert(
        canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc,
          Seq(1))) == expected,
        "resume under session default 1 diverged")
    }
    Q.withConf(spark, "spark.sql.shuffle.partitions" -> "7") {
      assert(
        canon(StreamQueries.streamRetractFuzzReplay(spark, dir, rc,
          Seq(2))) == expected,
        "resume under session default 7 diverged")
    }
  }

  test("incremental streaming replay matches the one-shot batch plan per seed") {
    val batchEv = Q.t(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        col("ts").cast("timestamp").as("ts"), col("event_type"),
        col("value"))
    for (seed <- 1L to 16L) {
      val c = StreamFuzzGen.gen(seed)
      def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        // compare window_start as text: the replay casts to
        // timestamp_ntz for the DuckDB convention, the batch side stays
        // TIMESTAMP — same instant, different Spark type
        val cols = col("window_start").cast("string").as("ws") +:
          (c.keys.map(k => col(k._2)) ++ c.aggs.map(a => col(a._2)))
        df.select(cols: _*).collect().map(_.toString).sorted.toSeq
      }
      val expected = canon(c(batchEv))
      val actual = canon(StreamQueries.streamFuzzReplay(spark, dir, c))
      assert(actual == expected,
        s"seed $seed diverged between incremental and batch execution:\n" +
          s"filter=${c.filterSql} keys=${c.keys} win=${c.winMinutes}/" +
          s"${c.slideMinutes}m aggs=${c.aggs}\n" +
          s"batch=${expected.length} rows, stream=${actual.length} rows")
    }
  }
}
