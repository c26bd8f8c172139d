package org.apache.spark.sql

/** How many Datasets the session's CacheManager holds right now. */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
