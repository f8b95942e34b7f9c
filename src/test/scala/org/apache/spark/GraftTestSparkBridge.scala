package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Test-only bridge to `private[spark]` internals: lets specs drain the
  * async listener bus deterministically before counting jobs (the
  * zero-plan-time-jobs assertions), instead of sleep-polling the status
  * store, and empty the generated-class cache before counting compiles. */
object GraftTestSparkBridge {
  def waitListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Empties Spark's JVM-wide cache of compiled generated classes
    * (`CodeGenerator.cache`, private to its object). */
  def clearCodegenCache(): Unit = {
    val f = CodeGenerator.getClass.getDeclaredField("cache")
    f.setAccessible(true)
    f.get(null).asInstanceOf[util.NonFateSharingCache[_, _]].invalidateAll()
  }
}
