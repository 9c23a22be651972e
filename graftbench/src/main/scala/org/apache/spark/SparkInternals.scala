package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two Spark-internal reads the tracer needs: waiting for the listener
  * bus to deliver every posted event, and the process-wide codegen
  * compilation histogram.
  */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, their approximate total seconds). The
    * histogram keeps a sample, so the seconds are count × sample mean.
    */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }
}
