package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the tracer needs and the public API hides. */
object Internals {

  /** Block until every posted listener event has been delivered, so a
    * rollup taken after a call sees all of that call's events. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the session's cache manager still holds any cached plan. */
  def hasCachedPlans(spark: SparkSession): Boolean =
    !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  /** The query execution an execution-end event reports: the same object
    * a QueryExecutionListener receives, which links the two. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
