package org.apache.spark.sql.searchbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to the Spark internals the benchmark's listener reads, which
  * Spark keeps package-private.
  */
object Internals {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished query, or null when the event does not carry it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
