package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** `CacheManager.numCachedEntries` is private[sql]; this bridge lets tests
  * count the session's cache entries.
  */
object CacheBridge {
  def cachedEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
