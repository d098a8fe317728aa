package webdocbench

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.EncodePipeline

/** `ingest`: repeated bulk writes of a fresh table from cached generated
  * rows, keyed on url, salted-host placement, Bloom filters on url. Encode,
  * shuffle/sort, the parquet write and the manifest commit do the work; the
  * timed loop reads nothing. */
object Ingest {
  val Rows = 24000L
  val Partitions = 8
  val Salts = 4

  def write(ctx: Ctx, input: org.apache.spark.sql.DataFrame, dir: String): Double =
    ctx.build(EncodePipeline.run(input, "url", dir, Partitions, blockSize = 4096, salts = Salts,
      useHostPartitioner = true, bloomCols = Seq("url")))

  def run(ctx: Ctx, seconds: Int): Workload.Outcome = {
    val spark = ctx.spark
    val input = Gen.frame(spark, ctx.seed, 0, Rows, ctx.cpus).persist(StorageLevel.MEMORY_ONLY)
    val raw = input.agg(sum(Gen.rawBytesCol)).head().getLong(0)

    val setup = ctx.setup(3) { k =>
      val d = ctx.dir(s"setup$k")
      val s = write(ctx, input, d)
      ctx.delete(d)
      s
    }

    var last = ""
    val ratios = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.loop(seconds) { r =>
      val d = ctx.dir(s"t$r")
      ctx.op("ingest", "run")(write(ctx, input, d)).foreach { _ =>
        ratios += raw.toDouble / ctx.tableBytes(d)
        if (last.nonEmpty) ctx.delete(last)
        last = d
      }
    }

    if (last.isEmpty) { // no timed write succeeded: write one more table to check
      last = ctx.dir("setup-check")
      write(ctx, input, last)
    }
    ctx.check(Checks.tableDiff(input, ctx.graft(last)))
    val writes = ctx.samples.get("ingest").map(_.toSeq).getOrElse(Nil)
    Workload.Outcome(setup, raw, input, Partitions, last, Gen.url(ctx.seed, Rows / 2),
      Workload.idRange(Rows / 4, Rows / 20),
      ratio = if (ratios.isEmpty) Double.NaN else Stats.median(ratios.toSeq),
      details = if (writes.isEmpty) Nil else Seq("ingest_mbps" -> (raw / 1e6 / Stats.median(writes), "MB/s")))
  }
}
