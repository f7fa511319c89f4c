package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event reports on: it pairs the
  * `QueryExecution` a `QueryExecutionListener` sees with its execution id.
  */
object ExecutionEndQe {
  def apply(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
