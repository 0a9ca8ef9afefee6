package org.apache.spark.flowbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal channels the traced run reads, behind one
  * bridge: draining the listener bus, so task metrics of a finished
  * action are counted before the span closes, and the codegen
  * compilation histogram. */
object Internals {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, mean compile ms over the recent reservoir) */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
