package graft.queries

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded random generator for PRIMARY-KEY upsert differential cases —
  * fuzzes the PK arm of [[graft.operators.ConnectorDdl.step]]'s INSERT (the
  * keyed merge through [[graft.sources.UpsertSink.mergeBatch]]; the
  * reference's SinkUpsertMaterializer last-row-per-key contract,
  * flink-table-runtime SinkUpsertMaterializer.java) with shapes the one
  * fixed `q_stream_upsert_route` scenario can't enumerate: random key
  * collision patterns WITHIN a statement (the `__ddl_seq` intra-batch
  * monotone tiebreaker must pick the statement's LAST duplicate),
  * ACROSS statements (a later statement's version must overwrite any
  * earlier one), single vs composite primary keys, and random statement
  * splits of the same logical row set.
  *
  * Rows are literal VALUES (single-partition local relations on the
  * Spark side), so "last duplicate in statement text order wins" is the
  * exact deterministic contract under test — the DuckDB restatement is
  * the same VALUES list ranked by (statement, row) descending per key.
  */
object UpsertFuzzGen {

  /** One generated case: `stmts(i)` is statement i's (k1, k2, v) rows,
    * inserted in order into a fresh PK table.
    */
  case class Case(seed: Long, compositePk: Boolean,
      stmts: Seq[Seq[(Long, Long, Long)]]) {

    def pk: Seq[String] = if (compositePk) Seq("k1", "k2") else Seq("k1")

    /** DuckDB restatement: rank every inserted row by (statement, row
      * index) descending per primary key — the merge's last-writer-wins
      * fixed point.
      */
    def oracleSql: String = {
      val rows = for {
        (st, si) <- stmts.zipWithIndex
        ((k1, k2, v), ri) <- st.zipWithIndex
      } yield s"($k1, $k2, $v, $si, $ri)"
      s"""WITH raw(k1, k2, v, s, i) AS (VALUES ${rows.mkString(", ")})
         |SELECT k1, k2, v FROM (
         |  SELECT k1, k2, v, ROW_NUMBER() OVER (
         |    PARTITION BY ${pk.mkString(", ")} ORDER BY s DESC, i DESC) AS rn
         |  FROM raw) WHERE rn = 1""".stripMargin
    }
  }

  /** The case for a seed — a pure function of the seed. Small key spaces
    * make intra- and cross-statement collisions the common case rather
    * than the corner.
    */
  def gen(seed: Long): Case = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x0b5e47L))
    val compositePk = r.nextInt(2) == 0
    val k1Space = 3 + r.nextInt(8)
    val k2Space = 2 + r.nextInt(3)
    val nStmts = 2 + r.nextInt(3)
    val stmts = Seq.fill(nStmts) {
      val n = 8 + r.nextInt(25)
      Seq.fill(n)((r.nextInt(k1Space).toLong, r.nextInt(k2Space).toLong,
        r.nextInt(100000).toLong))
    }
    Case(seed, compositePk, stmts)
  }

  private val nameSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run the case through the SQL front door: CREATE a fresh PK table,
    * replay each statement as its own INSERT (its own merge batch), and
    * read the materialized state back. Table name and path are unique
    * per invocation — repeated Verify/Bench runs in one JVM must not
    * merge into each other's state.
    */
  def replay(s: SparkSession, c: Case): DataFrame = {
    val out = Q.scratchDir("q_fuzz_upsert")
    val name = s"upfz_${c.seed}_${nameSeq.incrementAndGet()}"
    graft.GraftSql.sql(s,
      s"""CREATE TABLE $name (k1 BIGINT, k2 BIGINT, v BIGINT,
         |  PRIMARY KEY (${c.pk.mkString(", ")}) NOT ENFORCED)
         |WITH ('connector' = 'filesystem', 'path' = '$out/t',
         |      'format' = 'parquet')""".stripMargin)
    c.stmts.foreach { st =>
      val values = st.map { case (k1, k2, v) => s"($k1, $k2, $v)" }
      graft.GraftSql.sql(s,
        s"INSERT INTO $name SELECT * FROM VALUES ${values.mkString(", ")} AS t(k1, k2, v)")
    }
    // materialize BEFORE dropping the table: the drop must never be able
    // to affect the returned frame, even if DROP TABLE ever gains file
    // cleanup — and eager caching lets the scratch dir be reaped eagerly
    // rather than queueing per-invocation parquet in /tmp for JVM exit
    val result = graft.GraftSql.sql(s, s"SELECT k1, k2, v FROM $name")
      .localCheckpoint(eager = true)
    // the per-invocation name must not accumulate in the catalog OR the
    // DDL registry across bench iterations — DROP TABLE removes both
    graft.GraftSql.sql(s, s"DROP TABLE $name")
    Q.deleteRecursively(java.nio.file.Paths.get(out))
    result
  }
}
