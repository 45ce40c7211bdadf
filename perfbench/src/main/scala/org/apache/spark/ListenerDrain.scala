package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span's counters are complete when it closes. The bus is private to
  * Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
