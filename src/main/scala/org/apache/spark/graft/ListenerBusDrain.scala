package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener (a test's, `graft.Explain`'s) has seen all of a call's
  * jobs and query executions.
  * The bus is private to Spark, so this one call lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
