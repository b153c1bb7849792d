package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the asynchronous listener bus has delivered every event
  * posted so far. `SparkContext.listenerBus` is `private[spark]`, so this
  * one call lives under the `org.apache.spark` package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
