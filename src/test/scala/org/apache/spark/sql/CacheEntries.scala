package org.apache.spark.sql

/** Number of entries in a session's CacheManager (`numCachedEntries` is
  * private[sql]), so specs can check that a function releases every frame
  * it persists.
  */
object CacheEntries {
  def count(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
