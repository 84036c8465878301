package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal members the benchmark's listeners need, hence
  * this package.
  */
object SparkInternals {
  /** Listener events are delivered asynchronously; the benchmark reads its
    * listeners only after the bus has delivered everything posted so far.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The `QueryExecution` an execution-end event belongs to, or null. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
