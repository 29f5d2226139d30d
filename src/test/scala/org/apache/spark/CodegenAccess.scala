package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark counts every generated-code compile (a codegen cache miss) in
  * its codegen metrics source: a spec that asserts code reuse reads
  * the JVM-wide count before and after the work it checks. */
object CodegenAccess {
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
