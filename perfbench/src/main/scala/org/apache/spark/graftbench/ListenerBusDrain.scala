package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far.
  * The bus is private to Spark, so this one call lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
