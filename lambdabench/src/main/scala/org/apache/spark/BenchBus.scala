package org.apache.spark

/** The listener bus is private to Spark; the benchmark needs to wait for
  * it so that every task-end event of a finished operation is counted.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
