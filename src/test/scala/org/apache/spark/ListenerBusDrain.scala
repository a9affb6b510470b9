package org.apache.spark

/** Test access to the driver's listener bus: listener callbacks run
  * asynchronously, so a spec counting jobs must wait until every event
  * posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
