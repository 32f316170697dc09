package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The package-private Spark members the benchmark reads. */
object PerfBenchAccess {
  /** Block until every posted listener event has been delivered, so a
    * pass's counters are complete before they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The id of the QueryExecution an execution-end event belongs to (the
    * event of a live session carries it; a replayed one does not). */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.id)
}
