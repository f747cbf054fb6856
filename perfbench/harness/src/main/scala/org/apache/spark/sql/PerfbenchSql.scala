package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an SQL-execution-end event carries (a field
  * Spark keeps package-private): it links the execution id that jobs
  * carry to the `QueryExecution` a `QueryExecutionListener` sees.
  */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
