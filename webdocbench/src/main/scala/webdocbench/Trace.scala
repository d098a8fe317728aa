package webdocbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call: `layer` is the module called into (bench, plans,
  * sources, core, spark); spans of one operation share `trace`. */
final case class Span(id: Int, parent: Int, trace: Int, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans recorded around the benchmark's own calls into each layer, kept in
  * memory and written out at the end. Single-threaded, like the load model.
  * When disabled every call is a plain pass-through. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, Int)] = Nil // (span id, trace id) of open spans
  private var nextId = 1
  private var nextTrace = 1
  /** nanoseconds spent recording spans: the tracing overhead */
  var overheadNs = 0L

  /** a root span: a new trace id, layer "bench" */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body else open("bench", name, root = true)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body else open(layer, name, root = false)(body)

  private def open[T](layer: String, name: String, root: Boolean)(body: => T): T = {
    val o0 = System.nanoTime()
    val id = nextId; nextId += 1
    val (parent, trace) =
      if (root || stack.isEmpty) { val t = nextTrace; nextTrace += 1; (0, t) }
      else (stack.head._1, stack.head._2)
    stack = (id, trace) :: stack
    val start = System.nanoTime()
    overheadNs += start - o0
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, trace, layer, name, start, end)
      overheadNs += System.nanoTime() - end
    }
  }

  /** self time of each span: its duration minus what its children cover */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childNs(s.parent) += s.durNs)
    spans.map(s => s.id -> (s.durNs - childNs(s.id))).toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.id).foreach { s =>
      sb.append(Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "trace" -> Json.num(s.trace), "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ns" -> Json.num(s.startNs), "end_ns" -> Json.num(s.endNs)))).append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Spark work per benchmark call, counted by a listener the benchmark
  * registers itself. Calls are tagged through a job-local property. */
final case class Work(var jobs: Int = 0, var tasks: Int = 0, var bytesRead: Long = 0L,
                      var shuffleBytes: Long = 0L)

final class Counters(sc: SparkContext) extends SparkListener {
  private val Tag = "webdocbench.call"
  private val byTag = new java.util.concurrent.ConcurrentHashMap[String, Work]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private var seq = 0

  sc.addSparkListener(this)

  private def work(tag: String): Work = byTag.computeIfAbsent(tag, _ => Work())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
    tag.foreach { t =>
      work(t).synchronized(work(t).jobs += 1)
      e.stageIds.foreach(s => stageTag.put(s, t))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stageTag.get(e.stageId)
    if (t != null) {
      val w = work(t)
      w.synchronized {
        w.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.bytesRead += m.inputMetrics.bytesRead
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** nanoseconds spent waiting for the listener bus after calls: part of
    * the tracing overhead, since only traced runs count Spark work */
  var overheadNs = 0L

  /** run `body` with its Spark work tagged; returns the result and the work */
  def measure[T](body: => T): (T, Work) = {
    seq += 1
    val tag = s"c$seq"
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, tag)
    val r = try body finally sc.setLocalProperty(Tag, prev)
    val d0 = System.nanoTime()
    org.apache.spark.webdocbench.Bus.drain(sc)
    overheadNs += System.nanoTime() - d0
    (r, Option(byTag.remove(tag)).getOrElse(Work()))
  }
}
