package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read afterwards are complete (the bus is private to Spark). */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
