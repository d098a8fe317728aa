package webdocbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Codecs
import graft.plans.EncodePipeline

/** The traced run's per-layer figures. Every workload reports the same set,
  * measured on its own rows and its own main table:
  *  - core: single-thread Codecs calls on 4096-row blocks cut from the rows;
  *  - plans: EncodePipeline entry points called directly;
  *  - sources: format("graft") queries, planning and execution apart, with
  *    the Spark jobs, tasks and bytes the benchmark's listener saw. */
object Layers {
  val BlockRows = 4096
  val Blocks = 4
  val MinProbeNs = 150000000L // time each kernel at least this long

  def probe(ctx: Ctx, out: Workload.Outcome): Unit = {
    core(ctx, out.input)
    plans(ctx, out)
    sources(ctx, out)
    // overhead: recording spans, and waiting for Spark's listener bus after
    // each call to count its jobs, as a share of the traced operations' time
    val wall = ctx.tracer.spans.filter(_.parent == 0).map(_.durNs).sum
    val overhead = ctx.tracer.overheadNs + ctx.counters.overheadNs
    ctx.perLayer("trace.overhead_share") = (overhead.toDouble / math.max(1L, wall), "ratio")
    // the traced round, to hold against the untraced run's round_s
    ctx.perLayer("trace.round_s") = (ctx.endToEnd("round_s")._1, "s")
  }

  /** raw bytes and the (encode, decode) kernels of one column block */
  private def kernels(col: String, rows: Array[Doc]): (Long, () => Array[Byte], Array[Byte] => Any) =
    if (col == "warc_ts") {
      val vs = rows.map(d => d.warc_ts.getTime * 1000L + (d.warc_ts.getNanos / 1000) % 1000)
      (8L * vs.length, () => Codecs.encodeLongsN(vs, null), b => Codecs.decodeLongsN(b))
    } else {
      val vs: Array[Array[Byte]] = rows.map { d =>
        col match {
          case "url" => d.url.getBytes(UTF_8)
          case "html" => d.html
          case "text" => d.text.getBytes(UTF_8)
          case "lang" => d.lang.getBytes(UTF_8)
        }
      }
      (vs.map(_.length.toLong).sum, () => Codecs.encodeStrsN(vs)._1, b => Codecs.decodeStrsN(b))
    }

  private def repeatFor[T](body: => T): (Long, Int) = {
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || System.nanoTime() - t0 < MinProbeNs) { body; n += 1 }
    (System.nanoTime() - t0, n)
  }

  def core(ctx: Ctx, input: DataFrame): Unit = {
    val rows = input.limit(BlockRows * Blocks).collect().map(Checks.rowToDoc)
    val blocks = rows.grouped(BlockRows).toSeq
    Checks.Columns.foreach { c =>
      var raw, enc = 0L
      var encNs, decNs = 0.0
      blocks.foreach { b =>
        val (rawB, encode, decode) = kernels(c, b)
        val blob = encode()
        val (en, ek) = ctx.tracer.span("core", s"encode.$c")(repeatFor(encode()))
        val (dn, dk) = ctx.tracer.span("core", s"decode.$c")(repeatFor(decode(blob)))
        raw += rawB
        enc += blob.length
        encNs += en.toDouble / ek
        decNs += dn.toDouble / dk
      }
      ctx.perLayer(s"core.encode_mbps.$c") = (raw / 1e6 / (encNs / 1e9), "MB/s")
      ctx.perLayer(s"core.decode_mbps.$c") = (raw / 1e6 / (decNs / 1e9), "MB/s")
      ctx.perLayer(s"core.encoded_bytes_per_raw.$c") = (enc.toDouble / raw, "ratio")
    }
  }

  def plans(ctx: Ctx, out: Workload.Outcome): Unit = {
    val spark = ctx.spark
    val schema = out.input.schema
    val (_, encodeS) = ctx.seconds(ctx.tracer.op("probe.encode")(ctx.plans("EncodePipeline.encode") {
      EncodePipeline.encode(out.input, "url", out.partitions).write.format("noop").mode("overwrite").save()
    }))
    ctx.perLayer("plans.encode_s") = (encodeS, "s")
    // the last set-up build is the measured EncodePipeline.run
    val (runS, work) = ctx.lastRun.getOrElse(sys.error("no EncodePipeline.run was traced"))
    ctx.perLayer("plans.run_s") = (runS, "s")
    ctx.perLayer("plans.write_commit_s") = (runS - encodeS, "s")
    ctx.perLayer("plans.jobs.run") = (work.jobs.toDouble, "count")
    ctx.perLayer("plans.shuffle_bytes.run") = (work.shuffleBytes.toDouble, "bytes")

    val (_, decodeS) = ctx.seconds(ctx.tracer.op("probe.decode")(ctx.plans("decodeShared") {
      Checks.fingerprint(EncodePipeline.decodeShared(spark, out.table, schema)).collect()
    }))
    ctx.perLayer("plans.decode_s") = (decodeS, "s")
    val (hit, prunedS) = ctx.seconds(ctx.tracer.op("probe.pruned_read")(ctx.plans("readDataPruned") {
      EncodePipeline.decode(EncodePipeline.readDataPruned(spark, out.table, "url", out.probeUrl), schema)
        .filter(col("url") === out.probeUrl).collect()
    }))
    ctx.check(if (hit.length == 1) Nil else Seq(s"pruned read of ${out.probeUrl} found ${hit.length} rows"))
    ctx.perLayer("plans.pruned_read_s") = (prunedS, "s")
  }

  def sources(ctx: Ctx, out: Workload.Outcome): Unit = {
    val (lo, hi) = out.probeRange
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "full" -> (() => Checks.fingerprint(ctx.graft(out.table))),
      "lookup" -> (() => ctx.graft(out.table).filter(col("url") === out.probeUrl)),
      "range" -> (() => Scan.rangeAgg(ctx.graft(out.table), lo, hi)))
    queries.foreach { case (q, make) =>
      ctx.tracer.op(s"probe.$q") {
        val df = make()
        val ((_, planWork), planS) = ctx.seconds(ctx.counters.measure(
          ctx.sources(s"plan.$q")(df.queryExecution.executedPlan)))
        val ((_, execWork), execS) = ctx.seconds(ctx.counters.measure(
          ctx.sources(s"exec.$q")(df.collect())))
        ctx.perLayer(s"sources.plan_s.$q") = (planS, "s")
        ctx.perLayer(s"sources.exec_s.$q") = (execS, "s")
        ctx.perLayer(s"sources.jobs.$q") = ((planWork.jobs + execWork.jobs).toDouble, "count")
        ctx.perLayer(s"sources.tasks.$q") = ((planWork.tasks + execWork.tasks).toDouble, "count")
        ctx.perLayer(s"sources.bytes_read.$q") = ((planWork.bytesRead + execWork.bytesRead).toDouble, "bytes")
      }
    }
  }
}
