package org.apache.spark

/** Test shim: block until every event posted so far has reached the
  * listeners (delivery is asynchronous and the bus is private[spark]). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
