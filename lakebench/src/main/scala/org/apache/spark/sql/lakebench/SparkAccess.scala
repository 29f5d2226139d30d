package org.apache.spark.sql.lakebench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads, behind one
  * door: the planning-phase times of a finished SQL execution and a
  * drain of the listener bus before the counters are summed. */
object SparkAccess {

  /** Parse + analysis + optimization + planning time of the execution's
    * `QueryPlanningTracker`, in seconds; 0 when the event carries no plan. */
  def planSeconds(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum / 1e3).getOrElse(0.0)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
