package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the counters a listener keeps are complete when a traced span ends.
  * Spark keeps the bus private to its own package, hence the location.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
