package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The two Spark internals the probes need: the listener bus is
  * `private[spark]` and the cache lookup is `private[sql]`. */
object Internals {
  /** Block until every posted listener event has been delivered. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** `plan` with every fragment the cache manager holds replaced by
    * its cached relation, as query execution would see it. */
  def useCachedData(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.useCachedData(plan)
}
