package webdocbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.EncodePipeline

/** `scan`: one table built during set-up, placed by warc_ts time bucket as
  * crawl archives are, with Bloom filters on url. The loop runs full-table
  * aggregates, url point lookups and warc_ts range aggregates through
  * format("graft"). Nothing commits, so the program's manifest cache stays
  * warm. */
object Scan {
  val Rows = 16000L
  val Partitions = 8
  val Lookups = 4      // present urls per round
  val Absent = 2       // absent urls per round
  val Ranges = 3       // warc_ts ranges per round
  val RangeRows = 2000L

  /** time bucket of the crawl: rows are placed by when they were fetched */
  def bucket(rows: Long, parts: Int): Column = {
    val width = rows * Gen.StepMicros / parts
    least(lit(parts - 1),
      ((unix_micros(col("warc_ts")) - lit(Gen.BaseMicros)) / lit(width)).cast("int")).cast("int")
  }

  def rangeFilter(lo: Long, hi: Long): Column =
    col("warc_ts") >= timestamp_micros(lit(lo)) && col("warc_ts") < timestamp_micros(lit(hi))

  def rangeAgg(df: DataFrame, lo: Long, hi: Long): DataFrame =
    df.filter(rangeFilter(lo, hi)).agg(count(lit(1)), sum(octet_length(col("text"))))

  def build(ctx: Ctx, input: DataFrame, dir: String): Double =
    ctx.build(EncodePipeline.run(input, "url", dir, Partitions, blockSize = 4096,
      customPart = Some(bucket(Rows, Partitions)), bloomCols = Seq("url")))

  def run(ctx: Ctx, seconds: Int): Workload.Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    val input = Gen.frame(spark, seed, 0, Rows, ctx.cpus).persist(StorageLevel.MEMORY_ONLY)
    val raw = input.agg(sum(Gen.rawBytesCol)).head().getLong(0)

    val dir = ctx.dir("scan")
    val setup = ctx.setup(3) { k =>
      if (k > 0) ctx.delete(dir)
      build(ctx, input, dir)
    }

    // probe keys and ranges come from the seed; expected answers from plain
    // Spark over the generated rows, or from the generator itself
    val rnd = new scala.util.Random(Gen.mix(seed ^ 0x5ca9L))
    val ranges = (0 until Ranges).map { _ =>
      val lo = Gen.BaseMicros + (rnd.nextDouble() * (Rows - RangeRows)).toLong * Gen.StepMicros
      (lo, lo + RangeRows * Gen.StepMicros)
    }
    val expectedRange = ranges.map { case (lo, hi) => rangeAgg(input, lo, hi).head() }
    val expectedFull = Checks.fingerprint(input).head()

    def round(r: Int): Unit = {
      val rr = new scala.util.Random(Gen.mix(seed ^ (0x100L + r)))
      ctx.op("full", "aggregate")(ctx.sources("full")(Checks.fingerprint(ctx.graft(dir)).head()))
        .foreach(got => ctx.check(if (got == expectedFull) Nil else Seq(s"full aggregate $got != $expectedFull")))
      (0 until Lookups + Absent).foreach { k =>
        // absent keys: urls of rows the generator would make but the table never got
        val id = if (k < Lookups) (rr.nextDouble() * Rows).toLong else Rows + rr.nextInt(1 << 20)
        val url = Gen.url(seed, id)
        ctx.op("lookup", if (k < Lookups) "present" else "absent")(
          ctx.sources("lookup")(ctx.graft(dir).filter(col("url") === url).collect()))
          .foreach { rows =>
            val expected = if (k < Lookups) Seq(Gen.doc(seed, id)) else Nil
            ctx.check(Checks.docsDiff(s"lookup $url", expected, rows.toSeq.map(Checks.rowToDoc)))
          }
      }
      ranges.zip(expectedRange).foreach { case ((lo, hi), exp) =>
        ctx.op("range", "aggregate")(ctx.sources("range")(rangeAgg(ctx.graft(dir), lo, hi).head()))
          .foreach(got => ctx.check(if (got == exp) Nil else Seq(s"range [$lo, $hi) $got != $exp")))
      }
    }

    round(-1) // warm-up: the read path's first calls compile and fill caches
    ctx.loop(seconds)(round)

    val full = ctx.samples.get("full").map(_.toSeq).getOrElse(Nil)
    Workload.Outcome(setup, raw, input, Partitions, dir, Gen.url(seed, Rows / 2),
      Workload.idRange(Rows / 4, Rows / 20), raw.toDouble / ctx.tableBytes(dir),
      details = if (full.isEmpty) Nil else Seq("scan_mbps" -> (raw / 1e6 / Stats.median(full), "MB/s")))
  }
}
