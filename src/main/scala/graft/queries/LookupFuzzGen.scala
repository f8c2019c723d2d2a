package graft.queries

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsyncOps, LookupJoin}

/** Seeded random generator for LOOKUP-JOIN differential cases — fuzzes
  * [[graft.operators.LookupJoin]] (the reference's LookupJoinRunner +
  * RetryableLookupFunctionDelegator: per-row point lookups with an LRU
  * cache and a retry wrapper) and the async route
  * ([[graft.operators.AsyncOps]] ordered/unordered + AsyncRetryStrategies)
  * with shapes the fixed `q_join_lookup` / `q_async_lookup` rows can't
  * enumerate.
  *
  * The external store is a DETERMINISTIC fake with three key classes,
  * modeling the failure taxonomy a real dimension service has:
  *   - clean miss: keys outside the dim predicate return None (no
  *     retry on the async route; the sync wrapper burns its attempts —
  *     both end at None);
  *   - transient: keys with `k % failMod <= maxRetries` throw on their
  *     first `k % failMod` calls and succeed forever after (sticky
  *     success) — the retry ladder must recover the value;
  *   - permanent: keys with `k % failMod > maxRetries` throw on every
  *     call — every ladder exhausts to a miss.
  * Outcomes are pure functions of the key, so cache hits, evictions
  * (cacheSize down to 1), partitioning, and async completion order
  * cannot change the result — which is exactly what the differential
  * asserts, against a one-line CASE restatement in both engines.
  */
object LookupFuzzGen {

  case class Case(
      seed: Long,
      filterSql: String,
      keyMod: Int,
      dimMod: Int,
      dimRes: Int,
      failMod: Int,
      maxRetries: Int,
      cacheSize: Int) {

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |p AS (SELECT event_id, user_id % $keyMod AS k
         |  FROM e WHERE $filterSql)
         |SELECT event_id, k,
         |  CASE WHEN k % $dimMod <> $dimRes AND k % $failMod <= $maxRetries
         |       THEN k * 31 + 7 ELSE -1 END AS v
         |FROM p""".stripMargin
  }

  /** The case for a seed — a pure function of the seed. */
  def gen(seed: Long): Case = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x100c09L))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val keyMod = Seq(5, 11, 101)(r.nextInt(3))
    val dimMod = 2 + r.nextInt(5)
    val dimRes = r.nextInt(dimMod)
    val failMod = 1 + r.nextInt(6)
    val maxRetries = r.nextInt(3)
    val cacheSize = Seq(1, 4, 10000)(r.nextInt(3))
    Case(seed, filterSql, keyMod, dimMod, dimRes, failMod, maxRetries,
      cacheSize)
  }

  /** A cache-TTL staleness case — fuzzes the lookup cache's
    * expire-after-write / expire-after-access semantics
    * (flink-table-common DefaultLookupCache.java:55-56: values are served
    * STALE within the TTL window and re-fetched after it) against a
    * VERSIONED store whose value advances with logical time. The TTL
    * clock is a [[graft.operators.LookupJoin.RowTicker]] (tick = probe
    * index) shared by cache and store — the reference injects a Ticker
    * for the same reason (DefaultLookupCache.java:64,129) — and the probe
    * stream runs event_id-sorted in ONE partition, so which version each
    * probe observes is a pure function of the sequence:
    *   - write mode: probe at tick t served from the last cache WRITE w,
    *     where w re-arms only when t - w >= ttl (a sequential chain — the
    *     oracle is a recursive CTE);
    *   - access mode: every served hit re-arms the timer, so a write
    *     happens exactly when the gap from the key's previous probe is
    *     >= ttl (gaps-and-islands — plain window SQL).
    * Values render the version (`k*31+7 + 1000*(w/versionPeriod)`), so a
    * cache serving a fresher or older image than the documented staleness
    * window diverges immediately. The single-partition feed is gate
    * plumbing only — production runs one cache+clock per partition, which
    * is exactly the reference's per-task staleness bound.
    */
  case class TtlCase(
      seed: Long,
      filterSql: String,
      keyMod: Int,
      dimMod: Int,
      dimRes: Int,
      ttl: Long,
      versionPeriod: Long,
      accessMode: Boolean) {

    private def header: String =
      s"""e AS ${Tables.duckEvents},
         |p AS (SELECT event_id, user_id % $keyMod AS k,
         |    row_number() OVER (ORDER BY event_id) - 1 AS tick
         |  FROM e WHERE $filterSql)""".stripMargin

    private def render(k: String, w: String): String =
      s"""CASE WHEN $k % $dimMod = $dimRes THEN -1
         |       ELSE $k * 31 + 7 + 1000 * ($w // $versionPeriod) END AS v""".stripMargin

    def oracleSql: String =
      if (accessMode)
        s"""WITH $header,
           |g AS (SELECT event_id, k, tick,
           |    CASE WHEN lag(tick) OVER pk IS NULL
           |           OR tick - lag(tick) OVER pk >= $ttl THEN tick END AS reset
           |  FROM p WINDOW pk AS (PARTITION BY k ORDER BY tick)),
           |w AS (SELECT event_id, k,
           |    MAX(reset) OVER (PARTITION BY k ORDER BY tick) AS wtick
           |  FROM g)
           |SELECT event_id, k, ${render("k", "wtick")}
           |FROM w""".stripMargin
      else
        s"""WITH RECURSIVE $header,
           |occ AS (SELECT k, tick,
           |    row_number() OVER (PARTITION BY k ORDER BY tick) AS j
           |  FROM p),
           |chain AS (
           |  SELECT k, tick, j, tick AS w FROM occ WHERE j = 1
           |  UNION ALL
           |  SELECT o.k, o.tick, o.j,
           |    CASE WHEN o.tick - c.w < $ttl THEN c.w ELSE o.tick END
           |  FROM occ o JOIN chain c ON o.k = c.k AND o.j = c.j + 1)
           |SELECT p.event_id, p.k, ${render("p.k", "c.w")}
           |FROM p JOIN chain c ON c.k = p.k AND c.tick = p.tick""".stripMargin
  }

  /** The TTL case for a seed — a pure function of the seed. Small keyMod
    * keeps per-key probe gaps well under AND over every ttl choice, so
    * both served-stale hits and expiry re-fetches occur; ttl and
    * versionPeriod are drawn independently so the stale-serving window
    * spans version boundaries (ttl > period) on some seeds and sits
    * inside one (ttl < period) on others.
    */
  def genTtl(seed: Long): TtlCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x100771L))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val keyMod = Seq(7, 23, 63)(r.nextInt(3))
    val dimMod = 3 + r.nextInt(4)
    val dimRes = r.nextInt(dimMod)
    val ttl = Seq(8L, 32L, 128L)(r.nextInt(3))
    val versionPeriod = Seq(16L, 64L)(r.nextInt(2))
    val accessMode = r.nextBoolean()
    TtlCase(seed, filterSql, keyMod, dimMod, dimRes, ttl, versionPeriod,
      accessMode)
  }

  /** A FULL-cache (ALL mode) case — fuzzes
    * [[graft.operators.LookupJoin.lookupJoinFullCache]]'s
    * snapshot-and-periodic-reload semantics (LookupFullCache.java:39,
    * PeriodicCacheReloadTrigger.java:43): the whole dimension loads at
    * the first row of every `reloadEvery`-tick epoch, so with the shared
    * row ticker each reload lands exactly at tick `epoch * reloadEvery`
    * and every probe is served the version loaded there — closed-form
    * restatable, no chain: `version(tick) = (tick / RE * RE) / VP`.
    * Misses (keys the loader omits) never consult a backend — the
    * ALL-cache contract.
    */
  case class FullCase(
      seed: Long,
      filterSql: String,
      keyMod: Int,
      dimMod: Int,
      dimRes: Int,
      reloadEvery: Long,
      versionPeriod: Long) {

    def oracleSql: String =
      s"""WITH e AS ${Tables.duckEvents},
         |p AS (SELECT event_id, user_id % $keyMod AS k,
         |    row_number() OVER (ORDER BY event_id) - 1 AS tick
         |  FROM e WHERE $filterSql)
         |SELECT event_id, k,
         |  CASE WHEN k % $dimMod = $dimRes THEN -1
         |       ELSE k * 31 + 7
         |            + 1000 * ((tick // $reloadEvery * $reloadEvery)
         |                      // $versionPeriod) END AS v
         |FROM p""".stripMargin
  }

  /** The full-cache case for a seed — a pure function of the seed.
    * reloadEvery and versionPeriod are drawn independently, so some
    * seeds pin a snapshot across several store versions (reload slower
    * than the store changes — deep staleness) and others reload
    * mid-version (fresh serves).
    */
  def genFull(seed: Long): FullCase = {
    val r = new Random(StreamFuzzGen.scramble(seed ^ 0x100f77L))
    val filterSql = StreamFuzzGen.basePredOf(r)
    val keyMod = Seq(7, 23, 63)(r.nextInt(3))
    val dimMod = 3 + r.nextInt(4)
    val dimRes = r.nextInt(dimMod)
    val reloadEvery = Seq(16L, 64L, 256L)(r.nextInt(3))
    val versionPeriod = Seq(32L, 128L)(r.nextInt(2))
    FullCase(seed, filterSql, keyMod, dimMod, dimRes, reloadEvery,
      versionPeriod)
  }

  /** The event_id-sorted SINGLE-PARTITION probe feed the ticker families
    * share: one partition makes the shared row ticker the global logical
    * clock, so each probe's tick equals its sorted index (the oracles'
    * `row_number() - 1`). Gate plumbing only — production runs one cache
    * and clock per partition.
    */
  private[queries] def sortedProbes(s: SparkSession, dir: String,
      filterSql: String, keyMod: Int)
      : org.apache.spark.sql.Dataset[(Long, Long)] = {
    import s.implicits._
    Q.t(s, dir, "events")
      .filter(expr(filterSql))
      .select(col("event_id"), (col("user_id") % keyMod).as("k"))
      .repartition(1).sortWithinPartitions("event_id")
      .as[(Long, Long)]
  }

  /** The versioned bulk loader: the snapshot's values carry the version
    * current at LOAD time, so every probe reveals which reload it was
    * served from.
    */
  private class VersionedLoader(c: FullCase, ticker: LookupJoin.RowTicker)
      extends LookupJoin.AllLoader[Long, Long] {
    def loadAll(): Map[Long, Long] = {
      val ver = ticker.now() / c.versionPeriod
      (0L until c.keyMod)
        .filter(_ % c.dimMod != c.dimRes) // miss class: absent from dim
        .map(k => k -> (k * 31 + 7 + 1000L * ver)).toMap
    }
  }

  /** Full-cache replay: the versioned loader through
    * [[LookupJoin.lookupJoinFullCache]] on the shared row ticker,
    * single-partition sorted feed as in [[replayTtl]].
    */
  def replayFull(s: SparkSession, dir: String, c: FullCase): DataFrame = {
    import s.implicits._
    val ticker = new LookupJoin.RowTicker
    LookupJoin.lookupJoinFullCache[(Long, Long), Long, Long](
        sortedProbes(s, dir, c.filterSql, c.keyMod), _._2,
        new VersionedLoader(c, ticker),
        reloadEvery = c.reloadEvery, ticker = ticker)
      .map { case ((id, k), v) => (id, k, v.getOrElse(-1L)) }
      .toDF("event_id", "k", "v")
  }

  /** The versioned store: value carries the version current at CALL time
    * (the shared ticker), so whatever the cache serves later reveals the
    * tick it was fetched at.
    */
  private class VersionedStore(c: TtlCase, ticker: LookupJoin.RowTicker)
      extends LookupJoin.LookupFunction[Long, Long] {
    override def lookup(k: Long): Option[Long] =
      if (k % c.dimMod == c.dimRes) None // miss class: version-invisible
      else Some(k * 31 + 7 + 1000L * (ticker.now() / c.versionPeriod))
  }

  /** TTL replay: the versioned store through [[LookupJoin.lookupJoin]]
    * with the seed's expire-after-write OR expire-after-access TTL on the
    * shared row ticker. cacheSize is unbounded-in-practice so LRU
    * eviction (covered by the base family) stays out of the chain the
    * oracle restates.
    */
  def replayTtl(s: SparkSession, dir: String, c: TtlCase): DataFrame = {
    import s.implicits._
    val ticker = new LookupJoin.RowTicker
    LookupJoin.lookupJoin[(Long, Long), Long, Long](
        sortedProbes(s, dir, c.filterSql, c.keyMod), _._2,
        new VersionedStore(c, ticker),
        cacheSize = 1 << 20,
        expireAfterWrite = if (c.accessMode) Long.MaxValue else c.ttl,
        expireAfterAccess = if (c.accessMode) c.ttl else Long.MaxValue,
        ticker = ticker)
      .map { case ((id, k), v) => (id, k, v.getOrElse(-1L)) }
      .toDF("event_id", "k", "v")
  }

  /** The deterministic fake store (see object scaladoc). Per-key call
    * counters are per-instance (one per partition after closure
    * deserialization on the sync route; shared across a partition's
    * concurrent ladders on the async route, hence the atomics).
    */
  private class FakeStore(c: Case)
      extends LookupJoin.LookupFunction[Long, Long] {
    @transient private lazy val calls =
      new java.util.concurrent.ConcurrentHashMap[Long,
        java.util.concurrent.atomic.AtomicInteger]()
    override def lookup(k: Long): Option[Long] = {
      if (k % c.dimMod == c.dimRes) return None // clean miss
      val fails = k % c.failMod
      if (fails > c.maxRetries) // permanent failure class
        throw new RuntimeException(s"store unavailable for $k")
      val n = calls.computeIfAbsent(k,
        _ => new java.util.concurrent.atomic.AtomicInteger(0))
        .incrementAndGet()
      if (n <= fails) throw new RuntimeException(s"transient $k #$n")
      Some(k * 31 + 7)
    }
  }

  private def probes(s: SparkSession, dir: String, c: Case) = {
    import s.implicits._
    Q.t(s, dir, "events")
      .filter(expr(c.filterSql))
      .select(col("event_id"), (col("user_id") % c.keyMod).as("k"))
      .as[(Long, Long)]
  }

  /** Sync route: [[LookupJoin.lookupJoin]] with the LRU cache and the
    * miss-retry wrapper ([[LookupJoin.withRetry]] — retries both thrown
    * failures and empty results up to maxRetries).
    */
  def replay(s: SparkSession, dir: String, c: Case): DataFrame = {
    import s.implicits._
    val fn = LookupJoin.withRetry(new FakeStore(c), c.maxRetries)
    LookupJoin.lookupJoin[(Long, Long), Long, Long](
        probes(s, dir, c), _._2, fn, cacheSize = c.cacheSize)
      .map { case ((id, k), v) => (id, k, v.getOrElse(-1L)) }
      .toDF("event_id", "k", "v")
  }

  /** Async route: the same store through [[AsyncOps.withRetry]] (attempt
    * ladder per invocation, 1 ms fixed delay) under ordered or unordered
    * emission; an exhausted ladder recovers to the miss sentinel instead
    * of failing the task — the reference's timeout/side-output choice
    * restated as a recover.
    */
  def replayAsync(s: SparkSession, dir: String, c: Case,
      ordered: Boolean): DataFrame = {
    import s.implicits._
    val store = new FakeStore(c)
    val base = new AsyncOps.AsyncFunction[(Long, Long), (Long, Long, Long)] {
      def invoke(in: (Long, Long))(
          implicit ec: scala.concurrent.ExecutionContext)
          : scala.concurrent.Future[(Long, Long, Long)] =
        scala.concurrent.Future {
          (in._1, in._2, store.lookup(in._2).getOrElse(-1L))
        }
    }
    val retried = AsyncOps.withRetry(base,
      AsyncOps.RetryStrategy.fixedDelay(c.maxRetries + 1, 1L))
    val recovered =
      new AsyncOps.AsyncFunction[(Long, Long), (Long, Long, Long)] {
        def invoke(in: (Long, Long))(
            implicit ec: scala.concurrent.ExecutionContext)
            : scala.concurrent.Future[(Long, Long, Long)] =
          retried.invoke(in).recover { case _ => (in._1, in._2, -1L) }
      }
    val ds = probes(s, dir, c)
    (if (ordered) AsyncOps.orderedAsync(ds, recovered, capacity = 4)
     else AsyncOps.unorderedAsync(ds, recovered, capacity = 4))
      .toDF("event_id", "k", "v")
  }
}
