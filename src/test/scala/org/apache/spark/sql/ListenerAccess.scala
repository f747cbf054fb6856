package org.apache.spark.sql

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two fields Spark keeps package-private that the listener-based specs
  * read: the query execution an SQL-execution-end event carries (it
  * links the execution id that jobs carry to the executed plan), and
  * whether a stage is a result stage (a write) rather than a shuffle-map
  * stage (an AQE query-stage job).
  */
object ListenerAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  def isResultStage(s: StageInfo): Boolean = s.shuffleDepId.isEmpty
}
