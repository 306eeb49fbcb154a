package org.apache.spark.sql.graftbridge

/** The number of frames the session's cache manager holds —
  * `CacheManager.numCachedEntries` is private[sql], so tests reach it
  * through this sql-subpackage object.
  */
object CacheProbe {
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
