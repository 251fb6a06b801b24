package org.apache.spark.sql.execution

import org.apache.spark.sql.SparkSession

/** Test access to the session's cache registry size, which Spark keeps
  * package-private. */
object CacheProbe {
  def entries(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
