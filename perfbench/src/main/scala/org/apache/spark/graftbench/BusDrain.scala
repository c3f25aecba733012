package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Block until the listener bus has delivered every posted event, so
  * the benchmark's listener has seen a request's jobs and tasks before
  * they are attributed. The bus is private to the `spark` package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
