package org.apache.spark.sql

/** Test access to the session's CacheManager entry count, which Spark
  * keeps `private[sql]`.
  */
object CacheProbe {
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
