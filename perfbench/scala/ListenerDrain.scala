package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the async listener bus has delivered every event posted
  * so far, so a traced request's job and Catalyst events are attributed
  * before the next request starts. The bus is private to Spark, hence
  * this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
