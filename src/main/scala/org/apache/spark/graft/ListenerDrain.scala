package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so counters a listener keeps are complete when read. The bus is
  * private to Spark, hence this object's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
