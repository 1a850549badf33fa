package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run needs. */
object Bridge {
  /** Blocks until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an SQL-execution-end event reports on (the same
    * object a QueryExecutionListener receives), or null. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
