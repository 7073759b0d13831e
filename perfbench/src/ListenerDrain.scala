package org.apache.spark

/** Blocks until the listener bus has delivered every posted event; the
  * bus is package-private, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
