package org.apache.spark

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.util.NonFateSharingCache

/** The two Spark internals the benchmark touches, from outside the
  * engine. `listenerBus` is package-private to Spark, hence this
  * file's package.
  */
object SparkInternals {

  /** Listener events arrive asynchronously; the traced run drains the
    * bus before it reads what its listeners recorded. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Empties Spark's JVM-wide cache of compiled generated code, as a
    * fresh process starts. The cache is private to CodeGenerator. */
  def flushGeneratedCode(): Unit = {
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    m.invoke(CodeGenerator).asInstanceOf[NonFateSharingCache[_, _]]
      .invalidateAll()
  }
}
