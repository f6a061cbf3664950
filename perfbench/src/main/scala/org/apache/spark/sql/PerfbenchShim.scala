package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners need. */
object PerfbenchShim {
  /** Waits until every listener event posted so far has been delivered, so
    * the listeners' totals are complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The executed query of a finished SQL execution (null for executions
    * not started through a QueryExecution). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
