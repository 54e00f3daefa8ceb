package org.apache.spark

/** Bridge into Spark's `private[spark]` listener bus. Listener events are
  * delivered asynchronously; a count read before `drain` returns can miss
  * the last job's events. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
