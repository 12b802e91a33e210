package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * Listener delivery is asynchronous; the per-layer figures are read
  * only after the bus is drained, so none of them misses an event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
