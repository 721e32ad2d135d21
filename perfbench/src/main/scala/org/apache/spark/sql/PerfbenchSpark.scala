package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's trace reads, both package-private
  * to Spark, hence this package. */
object PerfbenchSpark {
  /** Wait until the listener bus has delivered every queued event, so a
    * trace read after a run holds the updates of all its jobs. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** For the end of a SQL execution: its id and the milliseconds its query
    * spent in parsing, analysis, optimization and physical planning. */
  def planning(e: SparkListenerEvent): Option[(Long, Long)] = e match {
    case x: SparkListenerSQLExecutionEnd if x.qe != null =>
      Some(x.executionId -> x.qe.tracker.phases.values.map(_.durationMs).sum)
    case _ => None
  }
}
