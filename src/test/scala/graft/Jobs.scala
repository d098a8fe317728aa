package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** counts the Spark jobs a block of driver code starts */
object Jobs {
  /** (`body`'s result, the number of Spark jobs started while it ran) */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
