package org.apache.spark.sql

/** Spark-internal state some specs assert on: both calls are
  * package-private to Spark, hence this bridge. */
object SparkInternals {
  /** Waits until the listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Number of `Dataset` cache entries in the session's cache manager. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
