package org.apache.spark.sql.perfbenchshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the package-private parts of Spark the tracer needs. */
object Shim {
  /** Blocks until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** QueryPlanningTracker phases of an ended SQL execution, as
    * (summed phase ms, first phase start, last phase end) in epoch ms.
    */
  def planning(e: SparkListenerSQLExecutionEnd): Option[(Double, Double, Double)] =
    Option(e.qe).map(_.tracker.phases.values).filter(_.nonEmpty).map { ps =>
      (ps.map(_.durationMs).sum.toDouble, ps.map(_.startTimeMs).min.toDouble,
        ps.map(_.endTimeMs).max.toDouble)
    }
}
