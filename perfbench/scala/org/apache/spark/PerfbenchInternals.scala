package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The benchmark's only two accesses to Spark internals. */
object PerfbenchInternals {

  /** Waits until every listener event posted so far has been delivered,
    * so the traced run can read job, stage and task events of an op
    * right after the op's action returns.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties the JVM-wide cache of generated classes, so that a repeated
    * set-up compiles its generated code again, as the first one did.
    */
  def clearCodegenCache(): Unit = {
    val cache = CodeGenerator.getClass.getDeclaredMethod("cache")
    cache.setAccessible(true)
    cache.invoke(CodeGenerator).asInstanceOf[util.NonFateSharingLoadingCache[_, _]].invalidateAll()
  }
}
