package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener's counters are complete before they are read. The bus is
  * package-private to Spark, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
