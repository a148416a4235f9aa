package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two engine internals the benchmark reads from outside the program: the
  * listener bus drain (so every event an operation posted is read without
  * sleeping) and the QueryExecution an execution-end event carries. */
object PerfbenchDoor {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (query execution or null, duration in ns) of a finished execution. */
  def execution(e: SparkListenerSQLExecutionEnd): (QueryExecution, Long) = (e.qe, e.duration)
}
