package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so that
  * listener counts read afterwards are complete. The bus is private to
  * Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
