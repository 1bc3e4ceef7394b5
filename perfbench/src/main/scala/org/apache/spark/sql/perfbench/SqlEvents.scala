package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` that query-execution listeners receive rides on
  * the SQL execution-end event as a `private[sql]` field; reading it here
  * ties planning and scan counters to the execution id, and through it
  * to the job group of the op that ran the query.
  */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
