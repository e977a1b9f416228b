package org.apache.spark.sql.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the tracer needs; this shim lives in Spark's package
  * because both are package-private. */
object SparkInternals {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query a finished SQL execution ran: Spark attaches it to the end
    * event, which is how QueryExecutionListeners receive it, but the
    * listener callback is not told the execution id its jobs carry. */
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
