package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** Reaches into Spark internals the benchmark needs. Lives in Spark's
  * package because the listener bus is internal. */
object PerfbenchBus {
  /** Waits until the listener bus has delivered every posted event, so a
    * traced call's progress and task events are counted before the next
    * call starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private lazy val codegenCache = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
  }

  /** Empties the cache of compiled generated classes, so the next query
    * compiles its generated code as a query new to the JVM does. */
  def clearCodegenCache(): Unit = codegenCache.invalidateAll()
}
