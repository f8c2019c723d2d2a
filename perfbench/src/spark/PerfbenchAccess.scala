package org.apache.spark

/** The one package-private hook the harness needs: block until the live
  * listener bus has delivered every queued event, so a traced run's spans
  * are complete before they are written.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
