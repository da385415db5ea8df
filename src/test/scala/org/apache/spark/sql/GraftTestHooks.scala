package org.apache.spark.sql

/** Spark-internal state that specs read: the listener bus (drained so a
  * spec that counts jobs sees all of them) and the session's cache
  * manager. Both are private to Spark, hence this shim in its package. */
object GraftTestHooks {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Runs `body` and counts the Spark jobs it starts: the bus is drained
    * before the listener is added and again before the count is read. */
  def jobsDuring[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      drain(spark)
      (result, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
