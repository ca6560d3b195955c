package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** `private[spark]` access for the benchmark's probes. */
object Bus {

  /** Listener events arrive on an asynchronous bus; a window's counters
    * are read only after every event of the window has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage codegen compilations so far, and their mean compile
    * time in ms (the histogram keeps a decaying sample, so the mean is
    * approximate; the count is exact). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
