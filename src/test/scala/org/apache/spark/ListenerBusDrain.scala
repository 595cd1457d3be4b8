package org.apache.spark

/** Test access to the driver's listener bus, whose drain is
  * package-private: block until every posted event has been delivered,
  * so a listener's counts are final.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
