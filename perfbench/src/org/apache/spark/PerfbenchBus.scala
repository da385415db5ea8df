package org.apache.spark

/** Waits until every posted listener event has been delivered, so that a
  * pass's job and task events are complete before they are read. The
  * listener bus is private to Spark, hence this shim in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
