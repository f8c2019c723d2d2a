package graft

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev-only: run named streaming gates with a session-level
  * StreamingQueryListener and print each micro-batch's durationMs
  * breakdown (triggerExecution / queryPlanning / walCommit / commitOffsets
  * / addBatch / getBatch / latestOffset / stateCommit ...), so the
  * replay pool's per-batch floor is measurable instead of guessed.
  *
  * Usage: StreamProbe <sfDir> <name1,name2,...>
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, namesCsv) = args: @unchecked
    val spark = DumpIO.session()
    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        batches.add((p.batchId, s"rows=${p.numInputRows} $d"))
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    // warmup like Bench
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    namesCsv.split(",").foreach { n =>
      batches.clear()
      val t0 = System.nanoTime()
      val df = all(n)(spark, sfDir)
      val cnt = df.count()
      val t1 = System.nanoTime()
      println(s"== $n  total=${(t1 - t0) / 1e9}%s rows=$cnt")
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq.sortBy(_._1).foreach { case (id, s) =>
        println(f"  batch$id%-3d $s")
      }
    }
    spark.stop()
  }
}
