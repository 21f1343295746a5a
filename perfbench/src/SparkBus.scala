package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's counters are complete before it reads them. Lives in Spark's
  * package because the bus is internal to it. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
