package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced run reads complete job, stage and task records. The bus is
  * internal to Spark, hence this package. */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
