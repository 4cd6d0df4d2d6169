package org.apache.spark.sql

/** The number of cached plans, which Spark keeps package-private. */
object PerfbenchShim {
  def cachedPlans(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
