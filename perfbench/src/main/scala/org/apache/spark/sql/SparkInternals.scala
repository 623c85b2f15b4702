package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark reads, which are visible only
  * inside Spark's packages. */
object SparkInternals {
  /** Blocks until every event posted so far has reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's QueryExecution, the object a
    * QueryExecutionListener receives; null for executions without one. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
