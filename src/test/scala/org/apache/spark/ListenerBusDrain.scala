package org.apache.spark

/** Test access to the private listener bus: listener events arrive
  * asynchronously, so a spec that counts stages waits for the bus to drain
  * before reading its counters.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
