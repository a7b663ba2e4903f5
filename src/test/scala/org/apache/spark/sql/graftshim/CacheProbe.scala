package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** Test access to the `private[sql]` CacheManager entry count, for leak
  * checks on pinned (persisted) frames. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
