package org.apache.spark.sql

/** The SQL cache's entry count, which `CacheManager` keeps package-private:
  * a cache a spec must see released is an entry here, with or without
  * live blocks.
  */
object CacheEntries {
  def apply(s: SparkSession): Int = s.sharedState.cacheManager.numCachedEntries
}
