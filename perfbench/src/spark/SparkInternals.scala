package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the traced run needs, reachable only from
  * inside `org.apache.spark.sql`. */
object SparkInternals {

  /** Waits until the listener bus has delivered every posted event, so
    * listener events are attributed to the operation that caused them
    * before the next one starts. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The query execution an SQL execution ended with, in any session. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
