package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution carried by an execution-end event. Spark keeps it
  * package-private; its `id` differs from the event's execution id, so
  * the event is the only place where the two meet. */
object SqlEnd {
  def qe(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
