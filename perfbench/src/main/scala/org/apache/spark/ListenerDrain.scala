package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's job totals are complete before they are read. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
