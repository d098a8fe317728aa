package graft.sources

import org.apache.spark.graft.TestBroadcasts
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge

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

  /** a 2,000-row table placed by time bucket (as the crawl benchmark places
    * its table), so a warc_ts range prunes whole parts, with Bloom filters
    * on url; and its rows */
  private def crawl(out: String): DataFrame = {
    val docs = WebDocGen.dataset(spark, 2000, 4).toDF()
    val bucket = least(lit(3), ((unix_micros(col("warc_ts")) - lit(WebDocGen.BaseMicros)) /
      lit(500L * WebDocGen.StepMicros)).cast("int")).cast("int")
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      customPart = Some(bucket), bloomCols = Seq("url"))
    docs
  }

  /** a url lookup, a two-sided warc_ts range aggregate and a full
    * aggregate of `out` */
  private def queries(out: String, url: String): Seq[(String, () => DataFrame)] = {
    val lo = new java.sql.Timestamp((WebDocGen.BaseMicros + 600L * WebDocGen.StepMicros) / 1000)
    val hi = new java.sql.Timestamp((WebDocGen.BaseMicros + 900L * WebDocGen.StepMicros) / 1000)
    Seq(
      "lookup" -> (() => spark.read.format("graft").load(out).filter(col("url") === url)),
      "range" -> (() => spark.read.format("graft").load(out)
        .filter(col("warc_ts") >= lit(lo) && col("warc_ts") < lit(hi))
        .agg(count(lit(1)), sum(octet_length(col("text"))))),
      "full" -> (() => spark.read.format("graft").load(out)
        .agg(count(lit(1)), sum(hash(col("url"), col("text"), col("html")).cast("long")))))
  }

  test("a warm manifest cache plans lookups, ranges and full aggregates with 0 jobs") {
    val out = tmpDir()
    val docs = crawl(out)
    val url = docs.select("url").head().getString(0)
    val queries = this.queries(out, url)
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

  test("a warm absent-url lookup runs no Spark job; a present one still returns its row") {
    val out = tmpDir()
    val docs = crawl(out)
    val files = EncodePipeline.currentFiles(spark, out).map(_._2)
    val conf = spark.sparkContext.hadoopConfiguration
    // a url no data file's Bloom filters admit
    val absent = Iterator.from(0).map(i => s"https://www.host1.example.com/p/absent$i").find { u =>
      val probe = GraftPruning.BloomProbe("url",
        Array(graft.core.Bloom.hashBytes(u.getBytes(java.nio.charset.StandardCharsets.UTF_8))))
      !files.exists(f => GraftPruning.fileAdmits(f, Array(probe), conf))
    }.get
    val doc = docs.head()
    def lookup(u: String) = spark.read.format("graft").load(out).filter(col("url") === u)
    assert(lookup(absent).collect().isEmpty && lookup(doc.getString(0)).collect().length === 1)
    val (none, jobs, _) = Jobs.work(spark)(lookup(absent).collect())
    assert(none.isEmpty && jobs === 0, s"an absent lookup started $jobs Spark jobs")
    val (rows, _, tasks) = Jobs.work(spark)(lookup(doc.getString(0)).collect())
    assert(rows.toSeq === Seq(doc) && tasks >= 1)
  }

  test("a warm lookup, range aggregate or full aggregate broadcasts no Hadoop conf") {
    val out = tmpDir()
    val queries = this.queries(out, crawl(out).select("url").head().getString(0))
    queries.foreach { case (_, q) => q().collect() } // warm the caches
    queries.foreach { case (name, q) =>
      val before = TestBroadcasts.ids()
      q().collect()
      val fresh = TestBroadcasts.ids() -- before
      // the table has no shared dictionaries, so the read ships nothing but
      // its stages' task binaries
      assert(fresh.isEmpty, s"a warm $name made ${fresh.size} broadcasts")
    }
  }

  test("the Hadoop conf ships once per session, and again once it changes") {
    val first = Bridge.hadoopConfBroadcast(spark)
    assert(Bridge.hadoopConfBroadcast(spark) eq first)
    val conf = spark.sparkContext.hadoopConfiguration
    val key = "graft.test.shipped"
    conf.set(key, "yes")
    try {
      val changed = Bridge.hadoopConfBroadcast(spark)
      assert(!(changed eq first))
      assert(changed.value.get(key) === "yes" && first.value.get(key) === null)
      assert(Bridge.hadoopConfBroadcast(spark) eq changed)
    } finally conf.unset(key)
    assert(Bridge.hadoopConfBroadcast(spark).value.get(key) === null)
  }

  test("a conf change made between two reads reaches the second read's executors") {
    val out = tmpDir()
    val url = crawl(out).select("url").head().getString(0)
    def lookup() = spark.read.format("graft").load(out).filter(col("url") === url).collect()
    assert(lookup().length === 1)
    val opened = TaskOpenCountingFs.opens.get
    assert(lookup().length === 1)
    assert(TaskOpenCountingFs.opens.get === opened)
    // the local file system, now through a class that counts task-side opens
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[TaskOpenCountingFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    try assert(lookup().length === 1)
    finally {
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
    assert(TaskOpenCountingFs.opens.get > opened)
  }
}

/** the local file system, counting the files Spark tasks open through it */
class TaskOpenCountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (org.apache.spark.TaskContext.get() != null) TaskOpenCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object TaskOpenCountingFs {
  val opens = new java.util.concurrent.atomic.AtomicLong
}
