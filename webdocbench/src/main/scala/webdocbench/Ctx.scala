package webdocbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares: the session, the seed, the run's scratch directory,
  * the tracer and the tallies. One client, one operation at a time. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: String,
                val cpus: Int, val trace: Boolean) {
  val tracer = new Tracer(trace)
  val counters = new Counters(spark.sparkContext)
  var attempted = 0
  var failed = 0
  val problems = mutable.ArrayBuffer.empty[String]
  /** latency samples in seconds by operation class; failed operations add none */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** end-to-end metrics (trace 0) and per-layer metrics (trace 1): name -> (value, unit) */
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Spark work of each timed operation, by operation name (traced runs only) */
  val opWork = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Work]]
  /** set by the watchdog when the run's wall-time cap is reached */
  @volatile var capped = false
  @volatile private var timing = false
  def inLoop: Boolean = timing

  /** the last EncodePipeline.run of a traced run: seconds and Spark work */
  var lastRun: Option[(Double, Work)] = None

  def dir(name: String): String = s"$workDir/$name"

  /** a progress line on standard error, stamped with seconds since JVM start */
  def phase(what: String): Unit = {
    val up = System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"webdocbench: ${up / 1e3}%7.1f s  $what")
  }

  /** the workload's set-up, done `times` times; set-up time is their median */
  def setup(times: Int)(once: Int => Double): Seq[Double] = {
    phase("input ready; setting up")
    val s = (0 until times).map(k => tracer.op("setup.build")(once(k)))
    phase("set up")
    s
  }

  /** a call of EncodePipeline.run (or any bulk build); returns its seconds */
  def build(body: => Unit): Double = {
    val t0 = System.nanoTime()
    if (trace) {
      val (_, w) = counters.measure(plans("EncodePipeline.run")(body))
      lastRun = Some(((System.nanoTime() - t0) / 1e9, w))
    } else body
    (System.nanoTime() - t0) / 1e9
  }

  def sample(cls: String, seconds: Double): Unit =
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += seconds

  /** Runs one operation. Inside the timed loop it counts as attempted, and
    * its latency is kept only if it succeeds: a failure is missing, never a
    * fast sample. Outside the loop (set-up, warm-up) a failure is fatal. */
  def op[T](cls: String, name: String)(body: => T): Option[T] = {
    if (timing) attempted += 1
    if (capped) { if (timing) failed += 1; return None }
    val t0 = System.nanoTime()
    try {
      val r = if (trace) {
        val (r, w) = counters.measure(tracer.op(s"$cls.$name")(body))
        if (timing) opWork.getOrElseUpdate(s"$cls.$name", mutable.ArrayBuffer.empty) += w
        r
      } else body
      if (timing) sample(cls, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) if timing =>
        failed += 1
        System.err.println(s"operation $cls.$name failed: $e")
        None
    }
  }

  /** rounds of `round` until `seconds` have passed; always whole rounds */
  def loop(seconds: Int)(round: Int => Unit): Int = {
    phase("timed loop")
    timing = true
    val t0 = System.nanoTime()
    var r = 0
    try {
      while (r == 0 || ((System.nanoTime() - t0) / 1e9 < seconds && !capped)) {
        val rt0 = System.nanoTime()
        val failedBefore = failed
        round(r)
        // a round with a failed operation is missing, like the operation
        if (failed == failedBefore) sample("round", (System.nanoTime() - rt0) / 1e9)
        r += 1
      }
    } finally timing = false
    phase(s"timed loop done: $r rounds")
    r
  }

  def check(found: Seq[String]): Unit = problems ++= found

  def plans[T](name: String)(body: => T): T = tracer.span("plans", name)(body)
  def sources[T](name: String)(body: => T): T = tracer.span("sources", name)(body)

  /** a table read through the program's data source */
  def graft(path: String): DataFrame = spark.read.format("graft").load(path)

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** bytes of a table on disk: every file under it except the local file
    * system's .crc checksum side files */
  def tableBytes(path: String): Long = {
    val fs = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try fs.filter(p => java.nio.file.Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
      .mapToLong(p => java.nio.file.Files.size(p)).sum()
    finally fs.close()
  }

  def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}
