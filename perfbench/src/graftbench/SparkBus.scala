package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * counters read after an operation include all of its task events.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
