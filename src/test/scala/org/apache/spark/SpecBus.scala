package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners,
  * so a spec's listener has seen every job and stage before it reads
  * them. The listener bus is package-private to Spark, hence this
  * package. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
