package org.apache.spark

/** The listener bus is private to Spark; job-count specs wait for it so
  * that every job a finished action ran is visible to the status tracker.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
