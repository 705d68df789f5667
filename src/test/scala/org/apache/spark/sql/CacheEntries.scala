package org.apache.spark.sql

/** The number of plans in the session's shared cache manager, which
  * Spark keeps package-private.
  */
object CacheEntries {
  def apply(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
