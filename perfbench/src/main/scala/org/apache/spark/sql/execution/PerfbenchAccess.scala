package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The scheduler and cache internals the benchmark reads; both are
  * visible only inside Spark's own packages. */
object PerfbenchAccess {
  /** Waits until every posted listener event has been delivered, so that a
    * job still missing its end event afterwards really never got one. */
  def drainListenerBus(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** Whole-stage and expression classes compiled so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Entries in the session's CacheManager (persisted Datasets). */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries
}
