package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkTestBase}
import graft.plans.EncodePipeline

/** Planning a `format("graft")` read consults only the driver-held
  * manifest: once the table's metadata is cached, building the physical
  * plan of a lookup, a range aggregate or a full aggregate starts no Spark
  * job — the data scan is the first job a query runs. The pruned encoded
  * readers and the maintenance planners decide from the same manifest. */
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

  test("a warm manifest cache decides compact, vacuum, createTag and pruned readers with 0 jobs") {
    val docs = WebDocGen.dataset(spark, 2000, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128, bloomCols = Seq("url"))
    def zeroJobs[T](name: String)(body: => T): T = {
      val (r, jobs) = Jobs.counted(spark)(body)
      assert(jobs === 0, s"$name started $jobs Spark jobs")
      r
    }
    // warm the caches: a first compact or vacuum may still rewrite or reclaim
    EncodePipeline.compact(spark, out, docs.schema, blockSize = 128)
    EncodePipeline.vacuum(spark, out)
    assert(EncodePipeline.readData(spark, out).count() > 0L)
    assert(zeroJobs("compact")(EncodePipeline.compact(spark, out, docs.schema, blockSize = 128))
      .isEmpty)
    assert(zeroJobs("vacuum")(EncodePipeline.vacuum(spark, out)) === 0)
    assert(zeroJobs("vacuum(retainLast = 3)")(EncodePipeline.vacuum(spark, out, retainLast = 3)) === 0)
    val gen = EncodePipeline.currentGen(spark, out)
    assert(zeroJobs("createTag")(EncodePipeline.createTag(spark, out, "t1")) === gen)

    val url = docs.select("url").head().getString(0)
    val ts = WebDocGen.BaseMicros + 100L * WebDocGen.StepMicros
    val readers: Seq[(String, () => DataFrame)] = Seq(
      "readDataPruned(long)" -> (() => EncodePipeline.readDataPruned(spark, out, "warc_ts", ts)),
      "readDataPruned(string)" -> (() => EncodePipeline.readDataPruned(spark, out, "url", url)),
      "readDataPrunedRange(long)" -> (() =>
        EncodePipeline.readDataPrunedRange(spark, out, "warc_ts", ts, ts + 1000000L)),
      "readDataPrunedRange(string)" -> (() =>
        EncodePipeline.readDataPrunedRange(spark, out, "url", "a", "z")),
      "readDataPrunedIsNull" -> (() => EncodePipeline.readDataPrunedIsNull(spark, out, "lang")))
    readers.foreach { case (name, r) => zeroJobs(name)(r()) }
    assert(EncodePipeline.decode(readers(1)._2(), docs.schema)
      .filter(col("url") === url).count() === 1L)

    // a vacuum over committed delete vectors classifies them from the
    // cached deletes/ rows
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, col("url") === url) === 1L)
    EncodePipeline.vacuum(spark, out)
    assert(zeroJobs("vacuum with delete vectors")(EncodePipeline.vacuum(spark, out)) === 0)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 1999L)
  }

  test("appendCommit of 200 rows runs at most 4 Spark jobs: its statistics need none") {
    val docs = WebDocGen.dataset(spark, 2000, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128, bloomCols = Seq("url"))
    def batch(from: Long) = {
      import spark.implicits._
      spark.range(from, from + 200).map(i => WebDocGen.make(i)).toDF()
    }
    // a first append, then a manifest read, warm the metadata caches
    assert(EncodePipeline.appendCommit(batch(10000), "url", out, partitions = 4,
      blockSize = 128, batchId = 1L))
    assert(EncodePipeline.currentGen(spark, out) === 1)
    val (added, jobs) = Jobs.counted(spark)(EncodePipeline.appendCommit(batch(20000), "url", out,
      partitions = 4, blockSize = 128, batchId = 2L))
    assert(added && jobs <= 4, s"appendCommit started $jobs Spark jobs")
    assert(spark.read.format("graft").load(out).count() === 2400L)
  }
}
