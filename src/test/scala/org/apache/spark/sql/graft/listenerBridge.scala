package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Test-side reads of the listener-bus fields Spark keeps `private[spark]`
  * / `private[sql]`: the query execution and name an execution-end event
  * carries, and the bus drain (the main `bridge` pattern).
  */
object listenerBridge {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] =
    e.executionName

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
