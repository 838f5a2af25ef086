package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
 * tracer has seen all jobs, tasks and query phases of a finished pass.
 * The bus is internal to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
