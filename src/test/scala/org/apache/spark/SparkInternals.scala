package org.apache.spark

/** Spark internals the specs read, which Spark keeps package-private. */

/** The listener bus's drain: a spec reads its listener's counts only
  * after every event posted so far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package sql {

  /** The number of entries the session's cache manager holds. */
  object CacheEntries {
    def apply(spark: SparkSession): Int =
      spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.numCachedEntries
  }
}
