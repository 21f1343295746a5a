package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec's listener has seen every job submitted before it reads its count.
  * Lives in Spark's package because the bus is internal to it. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `body` runs (the bus is drained on both
    * sides, so earlier jobs are not counted and none of the body's is
    * missed). */
  def jobsDuring(sc: SparkContext)(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new scheduler.SparkListener {
      override def onJobStart(e: scheduler.SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    drain(sc)
    sc.addSparkListener(listener)
    try { body; drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }
}
