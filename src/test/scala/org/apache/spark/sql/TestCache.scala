package org.apache.spark.sql

/** The number of Datasets the session's cache manager holds (its
  * package-private `numCachedEntries`). */
object TestCache {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
