package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession

/** counts the Spark jobs and tasks a block of driver code starts */
object Jobs {
  /** (`body`'s result, the number of Spark jobs started while it ran) */
  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (r, jobs, _) = work(spark)(body)
    (r, jobs)
  }

  /** (`body`'s result, the Spark jobs and the Spark tasks started while it
    * ran) */
  def work[T](spark: SparkSession)(body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val jobs, tasks = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      (r, jobs.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
