package org.apache.spark.sql

import org.apache.spark.metrics.source.CodegenMetrics

/** Hatch into the package-private codegen metrics: how many classes this
  * JVM has compiled so far. A delta around a run counts its compiles.
  */
object CodegenCompiles {
  def apply(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
