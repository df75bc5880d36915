package org.apache.spark

/** Blocks until the listener bus has delivered every event queued so
  * far, so a listener's counters are complete when they are read. The
  * bus is package-private to Spark, hence this object's package. Throws
  * a TimeoutException if the bus does not empty within Spark's wait
  * bound (10 s). */
object GraftBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
