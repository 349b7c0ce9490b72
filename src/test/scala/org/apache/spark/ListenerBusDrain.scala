package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * test's listener has seen every job the code under test submitted. The
  * bus is internal to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
