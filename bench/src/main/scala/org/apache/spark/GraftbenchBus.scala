package org.apache.spark

/** Waits until every queued listener event has been delivered. The traced
  * run aggregates listener records only after this, so an event posted late
  * by the listener bus is never lost or counted in the wrong pass. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
