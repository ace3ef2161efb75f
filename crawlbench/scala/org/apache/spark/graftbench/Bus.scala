package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener-bus access for the benchmark: the bus delivers events
  * asynchronously, so a traced interval is only complete once every
  * event posted inside it has reached the listeners.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
