package org.apache.spark.sql

/** Spark SQL internals the specs read (package-private in Spark). */
object SqlTestHooks {

  /** Number of entries in the session's cache manager: the plans a
    * `Dataset.persist` registered and no `unpersist` removed yet. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
