package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the harness reads: the listener bus (events are
  * delivered asynchronously, so it is drained before the listeners' data is
  * read) and the query execution an SQL-execution-end event carries.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def sqlEnd(e: SparkListenerEvent): Option[(Long, QueryExecution)] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null => Some(end.executionId -> end.qe)
    case _ => None
  }
}
