package graft.core

import org.apache.spark.metrics.source.CodegenMetrics

/** Code generation as its own layer. Spark compiles whole-stage and
  * expression code with Janino and keeps every class in one JVM-wide cache
  * (sized by [[GraftSession.CodegenCacheEntries]]). Each miss compiles
  * once and adds one sample to `CodegenMetrics.METRIC_COMPILATION_TIME`,
  * so that histogram's count is the exact number of compiles (= misses)
  * in this JVM, whichever session or thread caused them. */
object Codegen {

  /** Classes compiled in this JVM so far. */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `body`'s value and the compiles that ran while it did. */
  def counting[T](body: => T): (T, Long) = {
    val c0 = compiles
    val r = body
    (r, compiles - c0)
  }

  /** The one `[codegen]` log line: `scope` is `query=<name>` or `run`. */
  def line(n: Long, scope: String): String = s"[codegen] compiles=$n $scope"
}
