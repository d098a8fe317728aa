package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkTestBase}
import graft.core.Bloom
import graft.plans.EncodePipeline

/** Plan-time Bloom file elimination: a `format("graft")` read with pushed
  * equality or In conjuncts plans only the data files whose block Bloom
  * filters admit the probed values. The expected file sets come from each
  * file's stored `bm_url` column read back with Spark's own parquet reader. */
class BloomPlanSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_bloomplan").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs(n: Int): DataFrame = WebDocGen.dataset(spark, n, 4).toDF()

  /** 4 parts placed by warc_ts bucket (so a url lookup cannot prune by zone
    * map), 128-row blocks, Bloom filters on url unless `bloom` is false */
  private def build(d: DataFrame, out: String, bloom: Boolean = true): Unit = {
    val bucket = least(lit(3), ((unix_micros(col("warc_ts")) - lit(WebDocGen.BaseMicros)) /
      lit(300L * WebDocGen.StepMicros)).cast("int")).cast("int")
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 128,
      customPart = Some(bucket), bloomCols = if (bloom) Seq("url") else Nil)
  }

  private def files(out: String, gen: Option[Int] = None): Set[String] =
    EncodePipeline.currentFiles(spark, out, gen).map(_._2).toSet

  /** the files of `out` (at `gen`) whose stored filters may hold one of
    * `urls`: a null filter, or a file without `bm_url`, makes no claim */
  private def admitting(out: String, urls: Seq[String], gen: Option[Int] = None): Set[String] =
    files(out, gen).filter { f =>
      val stored = spark.read.parquet(f)
      !stored.columns.contains("bm_url") || stored.select("bm_url").collect().exists(r =>
        r.isNullAt(0) || urls.exists(u =>
          Bloom.maybe(r.getAs[Array[Byte]](0), Bloom.hashBytes(u.getBytes(UTF_8)))))
    }

  private def scanOf(df: DataFrame): Scan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan
    }.get

  /** the data files a read plans as input partitions: none when its
    * filters leave no file and the scan is an empty constant */
  private def planned(df: DataFrame): Set[String] = scanOf(df) match {
    case s: GraftScan => s.planInputPartitions().map(_.asInstanceOf[GraftInputPartition].path).toSet
    case _: GraftEmptyScan => Set.empty
  }

  private def lookup(out: String, url: String): DataFrame =
    spark.read.format("graft").load(out).filter(col("url") === url)

  /** a url no row holds and no stored filter of `out` admits; it sorts
    * inside every part's url range, so the zone maps keep every file */
  private def absentUrl(out: String): String =
    Iterator.from(0).map(i => s"https://www.host1.example.com/p/absent$i")
      .find(u => admitting(out, Seq(u)).isEmpty).get

  private def sameDoc(a: Row, b: Row): Boolean =
    a.getString(0) == b.getString(0) && a.get(1) == b.get(1) &&
      java.util.Arrays.equals(a.getAs[Array[Byte]](2), b.getAs[Array[Byte]](2)) &&
      a.getString(3) == b.getString(3) && a.getString(4) == b.getString(4)

  test("a present key plans exactly the files whose filters admit it") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val all = files(out)
    val doc = d.orderBy(col("warc_ts")).head()
    val url = doc.getString(0)
    val expected = admitting(out, Seq(url))
    assert(expected.nonEmpty && expected.size < all.size, s"${expected.size} of ${all.size}")
    val q = lookup(out, url)
    assert(planned(q) === expected)
    assert(scanOf(q).description().contains(s" BloomFiles: ${expected.size}/${all.size}"),
      scanOf(q).description())
    val (rows, _, tasks) = Jobs.work(spark)(q.collect())
    assert(tasks === expected.size)
    assert(rows.length === 1 && sameDoc(rows.head, doc))
  }

  test("an absent key plans no input partition and runs no task") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val q = lookup(out, absentUrl(out))
    // no file to plan: the scan is an empty constant, which runs no job
    assert(scanOf(q).isInstanceOf[GraftEmptyScan])
    assert(scanOf(q).description().contains(s" BloomFiles: 0/${files(out).size}"))
    val (rows, jobs, tasks) = Jobs.work(spark)(q.collect())
    assert(rows.isEmpty && jobs === 0 && tasks === 0)
  }

  test("an In list plans the union of the files that admit any of its keys") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    // the first and the last crawled rows sit in different time buckets
    val urls = Seq(d.orderBy(col("warc_ts")).head().getString(0),
      d.orderBy(col("warc_ts").desc).head().getString(0))
    val expected = admitting(out, urls)
    assert(expected === urls.map(u => admitting(out, Seq(u))).reduce(_ union _))
    assert(expected.size >= 2 && expected.size < files(out).size)
    val q = spark.read.format("graft").load(out).filter(col("url").isin(urls: _*))
    assert(planned(q) === expected)
    assert(q.collect().map(_.getString(0)).toSet === urls.toSet)
  }

  test("a gen time-travel read plans from that generation's files") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val g0 = EncodePipeline.currentGen(spark, out)
    val url0 = d.orderBy(col("warc_ts")).head().getString(0)
    val extra = docs(60).withColumn("url", concat(col("url"), lit("#later")))
    assert(EncodePipeline.appendCommit(extra, "url", out, partitions = 4,
      blockSize = 128, batchId = 1L))
    val later = extra.head().getString(0)
    val past = spark.read.format("graft").option("gen", g0.toString).load(out)
    val old = past.filter(col("url") === url0)
    assert(planned(old) === admitting(out, Seq(url0), Some(g0)))
    assert(old.collect().map(_.getString(0)).toSeq === Seq(url0))
    val notYet = past.filter(col("url") === later)
    assert(planned(notYet) === admitting(out, Seq(later), Some(g0)))
    assert(planned(notYet).subsetOf(files(out, Some(g0))))
    assert(notYet.collect().isEmpty)
    assert(lookup(out, later).collect().map(_.getString(0)).toSeq === Seq(later))
  }

  test("a file appended after the filters were cached is planned for its own key") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val url0 = d.head().getString(0)
    assert(lookup(out, url0).collect().length === 1) // caches every file's filters
    val before = files(out)
    before.foreach(f => assert(EncodePipeline.dirCached(f), f))
    val extra = docs(60).withColumn("url", concat(col("url"), lit("#new")))
    assert(EncodePipeline.appendCommit(extra, "url", out, partitions = 4,
      blockSize = 128, batchId = 1L))
    val added = files(out) -- before
    assert(added.nonEmpty)
    val url1 = extra.head().getString(0)
    val q = lookup(out, url1)
    assert(planned(q) === admitting(out, Seq(url1)))
    assert(planned(q).intersect(added).nonEmpty)
    assert(q.collect().map(_.getString(0)).toSeq === Seq(url1))
  }

  test("compacted files keep the table's filters: a lookup still plans only admitting files") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    import spark.implicits._
    (1 to 3).foreach { b =>
      val small = spark.range(5000 + 20 * b, 5020 + 20 * b).map(i => WebDocGen.make(i)).toDF()
      assert(EncodePipeline.appendCommit(small, "url", out, partitions = 4, blockSize = 128,
        batchId = b.toLong))
    }
    assert(EncodePipeline.compact(spark, out, d.schema, blockSize = 128).nonEmpty)
    val all = files(out)
    all.foreach(f => assert(spark.read.parquet(f).columns.contains("bm_url"), f))
    val doc = d.orderBy(col("warc_ts")).head()
    val url = doc.getString(0)
    val expected = admitting(out, Seq(url))
    assert(expected.nonEmpty && expected.size < all.size, s"${expected.size} of ${all.size}")
    val q = lookup(out, url)
    assert(planned(q) === expected)
    val rows = q.collect()
    assert(rows.length === 1 && sameDoc(rows.head, doc))
  }

  test("a table deleted and rebuilt at the same path never gets a stale filter") {
    val d = docs(1200)
    val out = tmpDir() + "/t"
    build(d, out)
    val url = d.head().getString(0)
    assert(lookup(out, url).collect().length === 1) // caches the first build's filters
    val first = files(out)
    val p = new org.apache.hadoop.fs.Path(out)
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true))
    build(d.withColumn("url", concat(col("url"), lit("#rebuilt"))), out)
    // data files are write-once under job-unique names
    assert(files(out).intersect(first).isEmpty)
    val q = lookup(out, url + "#rebuilt")
    assert(planned(q) === admitting(out, Seq(url + "#rebuilt")))
    assert(q.collect().length === 1)
    assert(lookup(out, url).collect().isEmpty)
  }

  test("a table without bm_ columns plans every file") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out, bloom = false)
    val all = files(out)
    val url = d.head().getString(0)
    val q = lookup(out, url)
    assert(planned(q) === all)
    assert(scanOf(q).description().contains(s" BloomFiles: ${all.size}/${all.size}"))
    assert(q.collect().map(_.getString(0)).toSeq === Seq(url))
  }

  test("filters over the cache budget leave every file planned, with the same answers") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val all = files(out)
    val url = d.head().getString(0)
    val absent = absentUrl(out)
    val saved = EncodePipeline.metaCacheBudget
    EncodePipeline.metaCacheBudget = 1L
    try {
      val q = lookup(out, url)
      assert(planned(q) === all)
      assert(q.collect().map(_.getString(0)).toSeq === Seq(url))
      val none = lookup(out, absent)
      assert(planned(none) === all)
      assert(none.collect().isEmpty)
      all.foreach(f => assert(!EncodePipeline.dirCached(f), f))
    } finally EncodePipeline.metaCacheBudget = saved
  }

  test("loading the filters cold runs no Spark job") {
    val d = docs(1200)
    val out = tmpDir()
    build(d, out)
    val url = d.head().getString(0)
    // a range read warms the manifest and runs no Bloom probe
    assert(spark.read.format("graft").load(out).filter(col("url") > "").collect().length === 1200)
    val all = files(out)
    all.foreach(f => assert(!EncodePipeline.dirCached(f), f))
    val q = lookup(out, url)
    val (_, jobs) = Jobs.counted(spark)(q.queryExecution.executedPlan)
    assert(jobs === 0, s"planning started $jobs Spark jobs")
    all.foreach(f => assert(EncodePipeline.dirCached(f), f))
    assert(q.collect().map(_.getString(0)).toSeq === Seq(url))
  }
}
