package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener has seen every job submitted before it reads its count.
  * Lives in Spark's package because the bus is internal to it. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
