package org.apache.spark.sql

/** Test-side read of the `private[sql]` CacheManager entry count: one
  * entry per cached plan, however many partitions it holds. */
object GraftCacheProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
}
