package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The number of entries in a session's CacheManager, which Spark
  * keeps `private[sql]`.
  */
object CachedEntries {
  def apply(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
