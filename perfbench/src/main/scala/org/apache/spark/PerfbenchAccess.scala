package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until every
  * posted listener event has been delivered, so per-query counters are
  * complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
