package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Janino compiles during `body`: the delta of Spark's compile counter,
  * which counts one compile per generated class that missed the code
  * cache. The counter is process-wide, so compiles on other threads count
  * too; run nothing else on the session meanwhile. */
object CompileCount {
  def apply[T](body: => T): (T, Long) = {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiles
    val out = body
    (out, compiles - c0)
  }
}
