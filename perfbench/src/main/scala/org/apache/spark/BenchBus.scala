package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners,
  * so per-group task metrics are complete before they are read. The
  * listener bus is package-private to Spark, hence this package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
