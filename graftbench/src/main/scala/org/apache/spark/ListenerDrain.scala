package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * recorder removed afterwards has seen all jobs of the run. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
