package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.GraftFunctions

/** Specs for lookup join, async I/O, the as-of join operator, and the
  * custom split_index Catalyst expression.
  */
class OperatorSpec extends SparkSuite {
  import spark.implicits._

  test("lookup join: one open per partition, cache bounds lookups, misses -> None") {
    val ds = spark.range(0, 100).map(i => i % 10).repartition(2)
    val fn = new CountingLookup
    val out = LookupJoin.lookupJoin[Long, Long, String](ds, identity, fn)
      .collect()
    assert(out.length == 100)
    assert(out.forall { case (k, v) =>
      if (k < 5) v.contains(s"dim_$k") else v.isEmpty })
    // cache: at most (distinct keys × partitions) real lookups, far
    // fewer than 100 rows
    assert(CountingLookup.calls.get() <= 20)
  }

  test("lookup join closes the function exactly once per partition") {
    // the drain-detect wrapper must not re-invoke close() on repeated
    // hasNext calls against the exhausted iterator (collect() and many
    // consumers probe hasNext more than once at the end)
    val ds = spark.range(0, 20).map(_.toLong).repartition(2)
    CloseCountingLookup.closes.set(0)
    val out = LookupJoin.lookupJoin[Long, Long, String](
      ds, identity, new CloseCountingLookup).collect()
    assert(out.length == 20)
    assert(CloseCountingLookup.closes.get() == 2,
      s"expected one close per partition, got ${CloseCountingLookup.closes.get()}")
  }

  test("lookup retry wrapper retries failures") {
    val flaky = new LookupJoin.LookupFunction[Long, String] {
      override def lookup(key: Long): Option[String] = {
        if (OperatorSpecState.attempts.incrementAndGet() % 3 != 0) throw new RuntimeException("flaky")
        Some(s"v$key")
      }
    }
    val wrapped = LookupJoin.withRetry(flaky, maxRetries = 5)
    assert(wrapped.lookup(7L).contains("v7"))
  }

  test("ordered async preserves input order under variable latency") {
    val ds = spark.range(0, 50).map(_.toLong).repartition(1)
    val out = AsyncOps.orderedAsync[Long, Long](ds, new SlowDouble, capacity = 8)
      .collect().toSeq
    assert(out == (0L until 50L).map(_ * 2))
  }

  test("unordered async returns all results (completion order)") {
    val ds = spark.range(0, 50).map(_.toLong).repartition(1)
    val out = AsyncOps.unorderedAsync[Long, Long](ds, new SlowDouble, capacity = 8)
      .collect().toSeq
    assert(out.sorted == (0L until 50L).map(_ * 2))
  }

  test("unordered async never waits on a result it already emitted") {
    // immediate futures at capacity 1 over 400 partitions: every result
    // completes while its predecessor is being taken, the window in which
    // a callback-side in-flight count lags its own queue put
    val instant = new AsyncOps.AsyncFunction[Long, Long] {
      override def invoke(in: Long)(implicit ec: ExecutionContext): Future[Long] =
        Future(in)
    }
    val ds = spark.range(0, 20000, 1, 400).as[Long]
    assert(AsyncOps.unorderedAsync(ds, instant, capacity = 1, timeoutMs = 1500)
      .count() == 20000L)
  }

  test("async retry: transient failures recover, exhaustion propagates") {
    // fails the first 2 attempts per element, succeeds on the 3rd
    class Flaky2 extends AsyncOps.AsyncFunction[Long, Long] {
      private val tries = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
      override def invoke(in: Long)(implicit ec: ExecutionContext): Future[Long] =
        Future {
          val n = tries.merge(in, 1, (a, b) => a + b)
          if (n <= 2) throw new RuntimeException(s"transient $in#$n")
          in * 2
        }
    }
    val ds = spark.range(0, 10).map(_.toLong).repartition(1)
    val ok = AsyncOps.orderedAsync[Long, Long](ds,
      AsyncOps.withRetry(new Flaky2, AsyncOps.RetryStrategy.fixedDelay(3, 5)),
      capacity = 4).collect().toSeq
    assert(ok == (0L until 10L).map(_ * 2))
    // two attempts only: the third failure must surface
    val err = intercept[Exception] {
      AsyncOps.orderedAsync[Long, Long](ds,
        AsyncOps.withRetry(new Flaky2, AsyncOps.RetryStrategy.fixedDelay(2, 1)),
        capacity = 4).collect()
    }
    assert(err.getMessage != null)
    // exponential backoff delay schedule
    val exp = AsyncOps.RetryStrategy.exponentialBackoff(5, 10, 50)
    assert(Seq(1, 2, 3, 4).map(exp.delayFor) == Seq(10L, 20L, 40L, 50L))
  }

  test("split_index: 0-based, literal delimiter, null out of range (Flink-exact)") {
    val df = Seq(("a,b,c", 0), ("a,b,c", 2), ("a,b,c", 3), ("a,b,c", -1))
      .toDF("s", "i")
    val got = df.select(GraftFunctions.splitIndex($"s", lit(","), $"i")).as[Option[String]]
      .collect().toSeq
    assert(got == Seq(Some("a"), Some("c"), None, None))
    // dots are literal, not regex-any
    val lit_ = Seq(("a.b.c", 1)).toDF("s", "i")
      .select(GraftFunctions.splitIndex($"s", lit("."), $"i")).as[Option[String]]
      .collect().toSeq
    assert(lit_ == Seq(Some("b")))
    // SQL registration
    GraftFunctions.register(spark)
    val sql = spark.sql("SELECT split_index('x|y|z', '|', 1)").as[String].collect()
    assert(sql.toSeq == Seq("y"))
    // null propagation
    val nulls = spark.sql(
      "SELECT split_index(NULL, ',', 0), split_index('a', NULL, 0), split_index('a', ',', NULL)")
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1) && nulls.isNullAt(2))
  }

  test("as-of join matches latest right version at-or-before left ts") {
    val left = Seq((1L, 100L, "p1"), (1L, 250L, "p2"), (2L, 50L, "p3"))
      .toDF("k", "ts", "pid")
    val right = Seq((1L, 100L, 10L), (1L, 200L, 20L))
      .toDF("k", "ts", "v")
    val out = AsOfJoin.asOf(left, right, "k", "ts", Seq("v"))
      .select($"pid", $"r_v").as[(String, Option[Long])].collect().toMap
    assert(out("p1").contains(10L)) // inclusive: right@100 visible at 100
    assert(out("p2").contains(20L))
    assert(out("p3").isEmpty)       // no version for key 2
  }
}

class CountingLookup extends LookupJoin.LookupFunction[Long, String] {
  override def lookup(key: Long): Option[String] = {
    CountingLookup.calls.incrementAndGet()
    if (key < 5) Some(s"dim_$key") else None
  }
}
object CountingLookup { val calls = new AtomicInteger(0) }

object OperatorSpecState { val attempts = new AtomicInteger(0) }

class CloseCountingLookup extends LookupJoin.LookupFunction[Long, String] {
  override def lookup(key: Long): Option[String] = Some(s"v$key")
  override def close(): Unit = { CloseCountingLookup.closes.incrementAndGet(); () }
}
object CloseCountingLookup { val closes = new AtomicInteger(0) }

class SlowDouble extends AsyncOps.AsyncFunction[Long, Long] {
  override def invoke(in: Long)(implicit ec: ExecutionContext): Future[Long] =
    Future {
      // variable latency: even inputs are slow
      Thread.sleep(if (in % 2 == 0) 20 else 1)
      in * 2
    }
}
