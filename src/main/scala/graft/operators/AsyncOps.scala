package graft.operators

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{Dataset, Encoder}

/** Async I/O — the reference's AsyncDataStream.orderedWait:165 /
  * unorderedWait:115 and AsyncWaitOperator
  * (flink-streaming-java/.../operators/async/AsyncWaitOperator.java:92),
  * plus StreamExecAsyncCalc's async scalar UDF execution (SURVEY.md §2.2).
  *
  * Spark-first shape: `mapPartitions` with a bounded in-flight pool of
  * futures per partition:
  *   - ordered: results emitted in input order (a sliding window of
  *     `capacity` futures keeps the pipeline full while preserving order);
  *   - unordered: results emitted as they complete.
  * Parallelism = partitions × capacity, with no extra shuffle.
  */
object AsyncOps {

  trait AsyncFunction[I, O] extends Serializable {
    def open(): Unit = {}
    def invoke(in: I)(implicit ec: ExecutionContext): Future[O]
    def close(): Unit = {}
  }

  /** Retry policy — the reference's AsyncRetryStrategies
    * (flink-streaming-java/.../functions/async/AsyncRetryStrategies.java:
    * FixedDelayRetryStrategy, ExponentialBackoffDelayRetryStrategy) with
    * its retry predicate: attempt `n` (1-based) re-invokes after
    * `min(initialDelay · multiplier^(n-1), maxDelay)` when `retryOn`
    * accepts the failure and attempts remain.
    */
  case class RetryStrategy(maxAttempts: Int, initialDelayMs: Long,
      multiplier: Double = 1.0, maxDelayMs: Long = Long.MaxValue,
      retryOn: Throwable => Boolean = _ => true) {
    require(maxAttempts >= 1)
    def delayFor(attempt: Int): Long =
      math.min(maxDelayMs.toDouble,
        initialDelayMs * math.pow(multiplier, (attempt - 1).toDouble)).toLong
  }
  object RetryStrategy {
    def fixedDelay(maxAttempts: Int, delayMs: Long): RetryStrategy =
      RetryStrategy(maxAttempts, delayMs)
    def exponentialBackoff(maxAttempts: Int, initialDelayMs: Long,
        maxDelayMs: Long, multiplier: Double = 2.0): RetryStrategy =
      RetryStrategy(maxAttempts, initialDelayMs, multiplier, maxDelayMs)
  }

  /** Single shared scheduler for retry delays — timers only, the actual
    * re-invocation runs on the caller's ExecutionContext.
    */
  @transient private lazy val retryTimer =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "async-retry-timer"); t.setDaemon(true); t
    })

  /** Wrap an AsyncFunction with retries. Composes with either ordering
    * mode; the in-flight slot stays occupied across attempts, exactly
    * the reference's behavior (a retrying element still counts against
    * the operator's capacity).
    */
  def withRetry[I, O](fn: AsyncFunction[I, O],
      strategy: RetryStrategy): AsyncFunction[I, O] =
    new AsyncFunction[I, O] {
      override def open(): Unit = fn.open()
      override def close(): Unit = fn.close()
      override def invoke(in: I)(implicit ec: ExecutionContext): Future[O] = {
        def attempt(n: Int): Future[O] =
          fn.invoke(in).recoverWith {
            case e if n < strategy.maxAttempts && strategy.retryOn(e) =>
              val p = scala.concurrent.Promise[O]()
              retryTimer.schedule(new Runnable {
                def run(): Unit = p.completeWith(attempt(n + 1))
              }, strategy.delayFor(n), TimeUnit.MILLISECONDS)
              p.future
          }
        attempt(1)
      }
    }

  /** Ordered async apply (AsyncDataStream.orderedWait semantics). */
  def orderedAsync[I, O](ds: Dataset[I], fn: AsyncFunction[I, O],
      capacity: Int = 16, timeoutMs: Long = 60000)(
      implicit outEnc: Encoder[O]): Dataset[O] =
    ds.mapPartitions { (rows: Iterator[I]) =>
      fn.open()
      val pool = Executors.newFixedThreadPool(capacity)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val inFlight = scala.collection.mutable.Queue.empty[Future[O]]
      val input = rows.buffered
      new Iterator[O] {
        private def fill(): Unit =
          while (inFlight.size < capacity && input.hasNext)
            inFlight.enqueue(fn.invoke(input.next()))
        def hasNext: Boolean = {
          fill()
          val h = inFlight.nonEmpty
          if (!h) { pool.shutdown(); pool.awaitTermination(1, TimeUnit.SECONDS); fn.close() }
          h
        }
        def next(): O = {
          fill()
          // head completes first in emission order regardless of the
          // completion order behind it
          try Await.result(inFlight.dequeue(), Duration(timeoutMs, TimeUnit.MILLISECONDS))
          catch { case t: Throwable =>
            // a failed/timed-out future aborts the task: release the pool
            // and user resources before rethrowing (no thread leak)
            pool.shutdownNow(); fn.close(); throw t
          }
        }
      }
    }

  /** Unordered async apply (AsyncDataStream.unorderedWait semantics):
    * completion order within a partition, maximizing throughput when
    * latencies vary.
    */
  def unorderedAsync[I, O](ds: Dataset[I], fn: AsyncFunction[I, O],
      capacity: Int = 16, timeoutMs: Long = 60000)(
      implicit outEnc: Encoder[O]): Dataset[O] =
    ds.mapPartitions { (rows: Iterator[I]) =>
      fn.open()
      val pool = Executors.newFixedThreadPool(capacity)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // Try-typed queue: a failed future must surface its own exception
      // promptly, not a generic timeout 60s later.
      val queue = new java.util.concurrent.LinkedBlockingQueue[scala.util.Try[O]]()
      // results not yet EMITTED (running or queued), counted on this
      // consumer thread only: a count the completion callback lowers
      // lags its own put, so hasNext could see a result that next()
      // already took and wait out the timeout for nothing
      var pending = 0
      val input = rows.buffered
      new Iterator[O] {
        private def fill(): Unit =
          while (pending < capacity && input.hasNext) {
            pending += 1
            fn.invoke(input.next()).onComplete(r => queue.put(r))
          }
        def hasNext: Boolean = {
          fill()
          val h = pending > 0
          if (!h) { pool.shutdown(); pool.awaitTermination(1, TimeUnit.SECONDS); fn.close() }
          h
        }
        def next(): O = {
          fill()
          val o = queue.poll(timeoutMs, TimeUnit.MILLISECONDS)
          try {
            if (o == null) throw new java.util.concurrent.TimeoutException("async I/O timeout")
            pending -= 1
            o.get
          } catch { case t: Throwable =>
            // failure aborts the task: release the pool and user
            // resources before rethrowing (no thread leak per partition)
            pool.shutdownNow(); fn.close(); throw t
          }
        }
      }
    }
}
