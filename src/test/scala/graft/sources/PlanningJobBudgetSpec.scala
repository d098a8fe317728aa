package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkTestBase}
import graft.plans.EncodePipeline

/** Planning a `format("graft")` read consults only the driver-held
  * manifest: once the table's metadata is cached, building the physical
  * plan of a lookup, a range aggregate or a full aggregate starts no Spark
  * job — the data scan is the first job a query runs. */
class PlanningJobBudgetSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_jobs").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("a warm manifest cache plans lookups, ranges and full aggregates with 0 jobs") {
    val docs = WebDocGen.dataset(spark, 2000, 4).toDF()
    val out = tmpDir()
    // placed by time bucket (as the crawl benchmark places its table), so
    // a warc_ts range prunes whole parts; Bloom filters on url
    val bucket = least(lit(3), ((unix_micros(col("warc_ts")) - lit(WebDocGen.BaseMicros)) /
      lit(500L * WebDocGen.StepMicros)).cast("int")).cast("int")
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      customPart = Some(bucket), bloomCols = Seq("url"))
    val url = docs.select("url").head().getString(0)
    val lo = new java.sql.Timestamp((WebDocGen.BaseMicros + 600L * WebDocGen.StepMicros) / 1000)
    val hi = new java.sql.Timestamp((WebDocGen.BaseMicros + 900L * WebDocGen.StepMicros) / 1000)
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "lookup" -> (() => spark.read.format("graft").load(out).filter(col("url") === url)),
      "range" -> (() => spark.read.format("graft").load(out)
        .filter(col("warc_ts") >= lit(lo) && col("warc_ts") < lit(hi))
        .agg(count(lit(1)), sum(octet_length(col("text"))))),
      "full" -> (() => spark.read.format("graft").load(out)
        .agg(count(lit(1)), sum(hash(col("url"), col("text"), col("html")).cast("long")))))
    queries.foreach { case (_, q) => q().collect() } // warm the caches
    queries.foreach { case (name, q) =>
      val (_, jobs) = Jobs.counted(spark)(q().queryExecution.executedPlan)
      assert(jobs === 0, s"$name planning started $jobs Spark jobs")
    }
    // the answers stay right
    assert(queries.head._2().count() === 1L)
    assert(queries(2)._2().head().getLong(0) === 2000L)

    val (gen, j1) = Jobs.counted(spark)(EncodePipeline.currentGen(spark, out))
    val (bid, j2) = Jobs.counted(spark)(EncodePipeline.nextBatchId(spark, out))
    val b = url.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (parts, j3) = Jobs.counted(spark)(EncodePipeline.survivingPartsStr(spark, out, "url", b, b))
    assert((j1, j2, j3) === ((0, 0, 0)))
    assert(gen === 0 && bid === 0L && parts.nonEmpty)
  }
}
