package org.apache.spark.webdocbench

import org.apache.spark.SparkContext

/** Listener events arrive on Spark's bus thread; the benchmark waits for
  * them to be delivered before it reads its counters. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
