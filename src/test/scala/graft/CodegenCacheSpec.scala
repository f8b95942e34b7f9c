package graft

import org.apache.spark.GraftTestSparkBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark caches compiled generated classes in one JVM-wide LRU whose
  * capacity is fixed when the first class is generated. At Spark's default
  * of 100 a working set larger than the cache is evicted before each
  * reuse, so every warm call recompiles; GraftSession sizes it to the
  * engine's working set. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  /** Declared queries whose generated code is the same on every call.
    * Left out: q99, d7, t21, t22, t27 and the other queries that still
    * compile a few classes on warm calls at any cache size. AQE numbers
    * codegen stages in the order concurrent query stages complete, so the
    * same body can come back under another class name, which is a new
    * cache key whatever the cache size. */
  private val queries = Seq("q79_skew_join", "q81_or_join_rollup",
    "q84_or_join_minmax", "q86_or_join_3pred", "q91_or_join_full",
    "q94_or_join_right_agg")

  private def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles during one call of each query. */
  private def round(): Long = {
    val c0 = compiles
    queries.foreach { n =>
      SparkEntry.all(n).fn(spark, sf0001).write.mode("overwrite").format("noop").save()
    }
    compiles - c0
  }

  test("the suite's session carries the engine's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a warm round over a working set above Spark's default 100 compiles nothing") {
    // other specs in this JVM may have compiled some of these classes:
    // start empty so the first round compiles the whole working set
    GraftTestSparkBridge.clearCodegenCache()
    val first = round()
    assert(first > 100, s"the first round compiled only $first classes: " +
      "too few to show eviction at the default size")
    val second = round()
    info(s"compiles: first round $first, warm round $second")
    assert(second === 0, s"the warm round recompiled $second classes")
  }
}
