package graft

import graft.queries.FuzzGen

/** The differential-fuzz generator (queries/FuzzGen) in CI form. The
  * full ≥500-seed DuckDB differential runs via `graft.FuzzDump ... sql` +
  * `dev/check.py` (python-side oracle — kept out of the sbt suite so
  * the library test run stays JVM-only); this spec pins the properties
  * that make that sweep trustworthy:
  *
  *   - the generator is a pure function of the seed (replayability);
  *   - every generated query parses and executes on Spark;
  *   - results are plan-configuration-invariant: the same query returns
  *     the identical row multiset with AQE on and off (a proxy for the
  *     engine-side half of the differential — a nondeterministic query
  *     would diverge between configs long before it diverged between
  *     engines).
  */
class FuzzSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  private val seeds = (1L to 60L) ++ Seq(1234L, 99999L)

  test("generator is deterministic per seed") {
    for (s <- Seq(1L, 17L, 4242L))
      assert(FuzzGen.sql(s) == FuzzGen.sql(s))
    // distinct seeds produce distinct queries (no degenerate collapse)
    assert(seeds.map(FuzzGen.sql).distinct.length > seeds.length / 2)
  }

  test("pinned engine delta: grouping sets over empty input emit no grand-total row") {
    // Found by the 500-seed differential sweep (seeds 204/349/380): for
    // GROUP BY ROLLUP/CUBE/GROUPING SETS whose sets include (), ANSI —
    // and DuckDB/PostgreSQL — emit one grand-total row with COUNT(*)=0
    // even when the input is empty, exactly like a global aggregate.
    // Spark implements grouping sets as Expand + group-by grouping-id,
    // so an empty input has no groups and emits zero rows. The generator
    // therefore guards every grouping-sets query with HAVING COUNT(*)>0,
    // which removes exactly that row on the ANSI side and nothing else.
    val rollup = spark.sql(
      """SELECT (x % 2) AS k, GROUPING((x % 2)) AS g, COUNT(*) AS c
        |FROM (SELECT 1 AS x WHERE false) GROUP BY ROLLUP((x % 2))""".stripMargin)
    assert(rollup.collect().isEmpty, "Spark grouping-sets-over-empty emits rows now — drop the HAVING guard in FuzzGen and this pin")
    // the global-aggregate sibling DOES emit its one row (the contrast
    // that makes the grouping-sets behavior a delta, not a general rule)
    val global = spark.sql("SELECT COUNT(*) AS c FROM (SELECT 1 AS x WHERE false)")
    assert(global.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("upsert generator is deterministic and covers its arms") {
    import graft.queries.UpsertFuzzGen
    for (s <- Seq(1L, 7L, 4242L))
      assert(UpsertFuzzGen.gen(s) == UpsertFuzzGen.gen(s))
    val cs = (1L to 24L).map(UpsertFuzzGen.gen)
    assert(cs.exists(_.compositePk) && cs.exists(!_.compositePk))
    assert(cs.map(_.stmts.length).distinct.length > 1)
    // collisions must be the common case, or the fuzz tests nothing
    assert(cs.forall { c =>
      val keys = c.stmts.flatten.map(r => (r._1, r._2))
      keys.distinct.length < keys.length
    })
  }

  test("PK upsert route equals last-writer-wins restatement per seed") {
    import graft.queries.UpsertFuzzGen
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    for (seed <- 1L to 6L) {
      val c = UpsertFuzzGen.gen(seed)
      val raw = c.stmts.zipWithIndex.flatMap { case (st, si) =>
        st.zipWithIndex.map { case ((k1, k2, v), ri) =>
          (k1, k2, v, si, ri) }
      }
      val w = Window.partitionBy(c.pk.map(col): _*)
        .orderBy(col("s").desc, col("i").desc)
      val expected = spark.createDataFrame(raw)
        .toDF("k1", "k2", "v", "s", "i")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("k1", "k2", "v")
        .collect().map(_.toString).sorted.toSeq
      val actual = UpsertFuzzGen.replay(spark, c)
        .collect().map(_.toString).sorted.toSeq
      assert(actual == expected,
        s"upsert seed $seed diverged: pk=${c.pk} " +
          s"stmts=${c.stmts.map(_.length)} " +
          s"(restatement=${expected.length} rows, merged=${actual.length})")
    }
  }

  test("seeded queries execute identically with AQE on and off") {
    Tables.registerAll(spark, dir)
    val aqe = "spark.sql.adaptive.enabled"
    for (seed <- seeds) {
      val sql = FuzzGen.sql(seed)
      def run(): Seq[String] =
        try spark.sql(sql).collect().map(_.toString).sorted.toSeq
        catch { case e: Throwable =>
          fail(s"seed $seed failed to execute: ${e.getMessage}\n$sql")
        }
      val a = graft.queries.Q.withConf(spark, aqe -> "true")(run())
      val b = graft.queries.Q.withConf(spark, aqe -> "false")(run())
      assert(a == b, s"seed $seed diverged between AQE configs:\n$sql")
    }
  }
}
