package org.apache.spark.sql

/** Spark-internal state that specs read: the listener bus (drained so a
  * spec that counts jobs sees all of them) and the session's cache
  * manager. Both are private to Spark, hence this shim in its package. */
object GraftTestHooks {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
