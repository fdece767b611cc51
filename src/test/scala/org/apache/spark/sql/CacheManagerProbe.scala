package org.apache.spark.sql

/** Test access to the cache manager that the sessions of one application
  * share, which Spark keeps behind the classic session's shared state: a
  * `Dataset.persist()` registers an entry there that only an `unpersist`
  * removes.
  */
object CacheManagerProbe {
  def entries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
