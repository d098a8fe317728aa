package org.apache.spark.graft

import org.apache.spark.SparkContext

/** test access to Spark's listener bus, which is private to Spark: waiting
  * until it is empty makes every job event posted so far visible to the
  * listeners */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
