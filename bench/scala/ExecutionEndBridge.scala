package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** The query an SQL execution ran, which Spark attaches to its end event
  * but keeps package-private. The tracer reads it here so that a query's
  * Catalyst phases and final plan arrive with its execution id. */
object ExecutionEndBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
