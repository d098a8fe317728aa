package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.graft.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd,
  SparkListenerTaskStart}
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
    val jobs, tasks = new AtomicInteger
    val r = listening(spark, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskStart(e: SparkListenerTaskStart): Unit = tasks.incrementAndGet()
    })(body)
    (r, jobs.get, tasks.get)
  }

  /** (`body`'s result, the input bytes its Spark tasks report having read) */
  def inputBytes[T](spark: SparkSession)(body: => T): (T, Long) = {
    val bytes = new AtomicLong
    val r = listening(spark, new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    })(body)
    (r, bytes.get)
  }

  /** `body`'s result, with `listener` seeing every Spark event it caused */
  private def listening[T](spark: SparkSession, listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      TestListenerBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
  }
}
