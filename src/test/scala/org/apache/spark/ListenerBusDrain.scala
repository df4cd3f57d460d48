package org.apache.spark

/** Test access to the listener bus's drain (package-private to Spark), so a
  * job counter reads an exact total instead of sleeping past the bus's
  * asynchronous delivery.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
