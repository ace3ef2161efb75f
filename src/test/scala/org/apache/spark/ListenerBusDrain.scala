package org.apache.spark

/** Test access to the listener bus: events reach listeners
  * asynchronously, so a count of them is complete only once the bus has
  * drained.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
