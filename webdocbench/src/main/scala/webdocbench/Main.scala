package webdocbench

import org.apache.spark.sql.SparkSession

/** One run of one workload:
  * `Main --workload <ingest|scan|lifecycle> --seed <n> --seconds <s> --trace <0|1>
  *       --workdir <dir> --spans <file>`
  * Standard output carries only results; the last line is the JSON result.
  * A traced run writes its spans to the `--spans` file. */
object Main {
  /** wall time after which the rest of the timed loop fails: below run.py's
    * 172 s kill of the JVM, so a capped run still reports */
  val CapSeconds = 130

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val workDir = need("workdir")
    val spans = need("spans")
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"webdocbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", (2 * cpus).toString)
      .getOrCreate()
    val ctx = new Ctx(spark, seed, workDir, cpus, trace)
    ctx.phase("session started")
    val watchdog = new Thread(() => {
      try {
        Thread.sleep(CapSeconds * 1000L)
        ctx.capped = true
        System.err.println(s"wall-time cap of $CapSeconds s reached: the rest of the timed loop fails")
        while (true) { if (ctx.inLoop) spark.sparkContext.cancelAllJobs(); Thread.sleep(500) }
      } catch { case _: InterruptedException => }
    }, "webdocbench-cap")
    watchdog.setDaemon(true)
    watchdog.start()

    val lines = try {
      val out = Workload.run(workload, ctx, seconds)
      val rounds = ctx.samples.get("round").map(_.toSeq).getOrElse(Nil)
      ctx.endToEnd("setup_s") = (Stats.median(out.setupS), "s")
      ctx.endToEnd("round_s") = (if (rounds.isEmpty) Double.NaN else Stats.median(rounds), "s")
      ctx.endToEnd("compression_ratio") = (out.ratio, "ratio")
      ctx.phase("checked")
      if (trace) Layers.probe(ctx, out)
      report(ctx, out, spans)
    } finally {
      watchdog.interrupt()
      spark.stop()
      ctx.phase("session stopped")
    }
    lines.foreach(println)
    if (ctx.problems.nonEmpty) ctx.problems.take(50).foreach(p => System.err.println(s"check failed: $p"))
  }

  private def report(ctx: Ctx, out: Workload.Outcome, spans: String): Seq[String] = {
    val b = Seq.newBuilder[String]
    b += f"input: ${out.rawBytes / 1e6}%.2f MB raw; set-up runs: ${out.setupS.map(s => f"$s%.3f").mkString(", ")} s"
    ctx.samples.foreach { case (cls, xs) =>
      val t = Stats.tail(xs.toSeq).fold("")(p => f", ${p._1} ${p._2}%.4f s")
      b += f"latency $cls: p50 ${Stats.median(xs.toSeq)}%.4f s over ${xs.size} samples$t"
    }
    out.details.foreach { case (n, (v, u)) => b += f"$n: $v%.3f $u" }
    if (ctx.trace) {
      // self time by operation and layer: each operation's wall time split
      // over the layers its spans called into
      val self = ctx.tracer.selfNs
      val rows = ctx.tracer.spans.groupBy(_.trace).values.flatMap { ss =>
        val root = ss.find(_.parent == 0).get
        ss.map(s => (root.name, s.layer, self(s.id)))
      }.groupBy(r => (r._1, r._2)).map { case (k, v) => k -> v.map(_._3).sum / 1e9 }
      b += "self time (s) by operation and layer, summed over the run:"
      rows.toSeq.sortBy(_._1).foreach { case ((op, layer), s) => b += f"  $op%-34s $layer%-8s $s%.4f" }
      b += "Spark work per timed operation (medians):"
      ctx.opWork.foreach { case (op, ws) =>
        def med(f: Work => Double) = Stats.median(ws.toSeq.map(f))
        b += f"  $op%-34s calls ${ws.size}%3d  jobs ${med(_.jobs)}%.0f  tasks ${med(_.tasks)}%.0f  " +
          f"shuffle bytes ${med(_.shuffleBytes.toDouble)}%.0f"
      }
      ctx.tracer.writeJsonLines(java.nio.file.Paths.get(spans))
      b += s"spans written to $spans"
    }
    val metrics = if (ctx.trace) ctx.perLayer else ctx.endToEnd
    b += Json.obj(Seq(
      "correct" -> Json.bool(ctx.problems.isEmpty),
      "attempted" -> Json.num(ctx.attempted.toLong),
      "failed" -> Json.num(ctx.failed.toLong),
      "metrics" -> Json.obj(metrics.toSeq.map { case (n, (v, u)) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    b.result()
  }
}
