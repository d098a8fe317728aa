package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** MERGE INTO by key (upsert): matched rows replace, unmatched insert,
  * only matched parts rewrite, batch-id idempotence, contract guards. */
class MergeSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_merge").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(col("url"), col("warc_ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
      .collect().map(_.mkString("|")).sorted

  private def currentFiles(out: String): Map[Int, Set[String]] = {
    val dir = new java.io.File(s"$out/data")
    dir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("__part="))
      .map(d => d.getName.stripPrefix("__part=").toInt ->
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".")).map(_.getName).toSet).toMap
  }

  test("matched rows replace, unmatched insert; only matched parts rewrite") {
    val docs = WebDocGen.dataset(spark, 500, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val before = currentFiles(out)
    // updates: rewrite 30 existing docs (urls from parts 0/1 only, found
    // empirically) plus 20 brand-new docs
    val dec0 = EncodePipeline.decode(
      EncodePipeline.readData(spark, out), docs.schema, None, keepPart = true)
    val matchedUrls = dec0.filter(col("__part") < 2).limit(30)
      .select("url").collect().map(_.getString(0)).toSet
    assert(matchedUrls.size === 30)
    import spark.implicits._
    val replace = docs.filter(col("url").isin(matchedUrls.toSeq: _*))
      .withColumn("lang", lit("xx"))
      .withColumn("text", concat(col("text"), lit(" v2")))
    val fresh = spark.range(9000, 9020).map(i => WebDocGen.make(i)).toDF()
    val updates = replace.unionByName(fresh)
    val (nRep, nIns) = EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      updates, partitions = 4, blockSize = 64)
    assert(nRep === 30L)
    assert(nIns === 20L)
    val expect = sortedRows(
      docs.filter(!col("url").isin(matchedUrls.toSeq: _*)).unionByName(updates))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // parts 2 and 3 keep their original files (appends add, never replace)
    val after = currentFiles(out)
    (2 to 3).foreach(p => assert(before(p).subsetOf(after(p))))
    // vacuum reclaims parts 0/1's superseded generation; reads unchanged
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("merge-on-read merge: zero rewrite, atomic snapshot, counts exact") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 3, blockSize = 64)
    def dataFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$out/data"))
        .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => f.getAbsolutePath -> f.length()).toMap
    }
    def metaFiles(): Set[String] = new java.io.File(s"$out/meta").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getName).toSet
    val before = dataFiles()
    val metaBefore = metaFiles()
    // 25 replacements + 15 fresh inserts
    val matchedUrls = docs.limit(25).select("url").collect().map(_.getString(0)).toSet
    import spark.implicits._
    val replace = docs.filter(col("url").isin(matchedUrls.toSeq: _*))
      .withColumn("lang", lit("zz"))
    val fresh = spark.range(7000, 7015).map(i => WebDocGen.make(i)).toDF()
    val updates = replace.unionByName(fresh)
    val (nRep, nIns) = EncodePipeline.mergeByKeyLazy(spark, out, docs.schema, "url",
      updates, partitions = 3, blockSize = 64)
    assert(nRep === 25L && nIns === 15L)
    // every pre-existing data file byte-identical — merge-on-read
    val after = dataFiles()
    assert(before.forall { case (f, len) => after.get(f).contains(len) })
    // ONE new manifest file = insert rows + delete marker (atomic snapshot)
    assert((metaFiles() -- metaBefore).size === 1)
    // end state matches the COW merge semantics exactly
    val expect = sortedRows(
      docs.filter(!col("url").isin(matchedUrls.toSeq: _*)).unionByName(updates))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // replayed batchId: no-op, (0, 0)
    val bid = {
      val m = EncodePipeline.manifestView(spark, out, None).toDF(spark)
      m.agg(max(coalesce(col("batch_id"), lit(-1L)))).head().getLong(0)
    }
    assert(EncodePipeline.mergeByKeyLazy(spark, out, docs.schema, "url",
      updates, partitions = 3, blockSize = 64, batchId = bid) === ((0L, 0L)))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // duplicate keys rejected (same contract as the COW merge)
    val dup = updates.unionByName(updates.limit(1))
    val ex = intercept[IllegalArgumentException] {
      EncodePipeline.mergeByKeyLazy(spark, out, docs.schema, "url", dup, 3, 64)
    }
    assert(ex.getMessage.contains("unique"))
  }

  test("pure insert (no matches) and pure replace both work") {
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64)
    import spark.implicits._
    val fresh = spark.range(5000, 5010).map(i => WebDocGen.make(i)).toDF()
    val (r1, i1) = EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      fresh, partitions = 2, blockSize = 64)
    assert((r1, i1) === ((0L, 10L)))
    val replace = docs.limit(5).withColumn("lang", lit("zz"))
    val (r2, i2) = EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      replace, partitions = 2, blockSize = 64)
    assert((r2, i2) === ((5L, 0L)))
    val keys = replace.select("url").collect().map(_.getString(0)).toSet
    val expect = sortedRows(docs.filter(!col("url").isin(keys.toSeq: _*))
      .unionByName(fresh).unionByName(replace))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("replayed batchId is a no-op; duplicate update keys are rejected") {
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64)
    val upd = docs.limit(4).withColumn("lang", lit("qq"))
    val (r1, _) = EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      upd, partitions = 2, blockSize = 64, batchId = 42L)
    assert(r1 === 4L)
    val snapshot = sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema))
    // replay with the SAME batchId: nothing changes
    assert(EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      upd, partitions = 2, blockSize = 64, batchId = 42L) === ((0L, 0L)))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === snapshot)
    intercept[IllegalArgumentException] {
      EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
        upd.unionByName(upd), partitions = 2, blockSize = 64)
    }
  }

  test("merge composes with the other DML and maintenance") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 32)
    import spark.implicits._
    val upd = docs.limit(10).withColumn("lang", lit("mm"))
      .unionByName(spark.range(7000, 7008).map(i => WebDocGen.make(i)).toDF())
    assert(EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      upd, partitions = 4, blockSize = 32) === ((10L, 8L)))
    val keys = docs.limit(10).select("url").collect().map(_.getString(0)).toSet
    val merged = docs.filter(!col("url").isin(keys.toSeq: _*)).unionByName(upd)
    // now delete the merged-in language and compact
    val nDel = EncodePipeline.deleteWhere(spark, out, docs.schema, "url",
      col("lang") === "mm", blockSize = 32)
    assert(nDel === 10L)
    val expect = sortedRows(merged.filter(col("lang") =!= "mm"))
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 256).nonEmpty)
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("default batch ids stay fresh after copy-on-write rewrites") {
    import spark.implicits._
    val docs = WebDocGen.dataset(spark, 3000, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 256)
    val urls = docs.select("url").orderBy("url").collect().map(_.getString(0))
    def fresh(from: Long, n: Int) = spark.range(from, from + n).map(i => WebDocGen.make(i)).toDF()
    def count() = EncodePipeline.decodeShared(spark, out, docs.schema).count()
    assert(EncodePipeline.appendCommit(fresh(100000, 100), "url", out, 4, 256))
    assert(EncodePipeline.deleteWhere(spark, out, docs.schema, "url",
      col("url").isin(urls.slice(0, 50).toSeq: _*), blockSize = 256) === 50L)
    assert(EncodePipeline.updateWhere(spark, out, docs.schema, "url",
      col("url").isin(urls.slice(50, 100).toSeq: _*), Map("lang" -> lit("xx")),
      blockSize = 256) === 50L)
    // each default batch id is one the raw manifest has never held, so
    // none of these calls is mistaken for a replay
    val updates = docs.filter(col("url").isin(urls.slice(100, 130).toSeq: _*))
      .withColumn("lang", lit("yy")).unionByName(fresh(200000, 30))
    assert(EncodePipeline.mergeByKey(spark, out, docs.schema, "url", updates,
      partitions = 4, blockSize = 256) === ((30L, 30L)))
    assert(count() === 3080L)
    assert(EncodePipeline.updateWhereLazy(spark, out, docs.schema, "url",
      col("url").isin(urls.slice(130, 150).toSeq: _*), Map("lang" -> lit("zz")),
      partitions = 4, blockSize = 256) === 20L)
    val lazyUpdates = docs.filter(col("url").isin(urls.slice(150, 160).toSeq: _*))
      .unionByName(fresh(300000, 10))
    assert(EncodePipeline.mergeByKeyLazy(spark, out, docs.schema, "url", lazyUpdates,
      partitions = 4, blockSize = 256) === ((10L, 10L)))
    assert(count() === 3090L)
  }

  test("a merge replayed after compaction is a no-op") {
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64)
    val upd = docs.limit(4).withColumn("lang", lit("qq"))
    def merge() = EncodePipeline.mergeByKey(spark, out, docs.schema, "url",
      upd, partitions = 2, blockSize = 64, batchId = 42L)
    assert(merge() === ((4L, 0L)))
    // compaction hides the batch's rows from the resolved manifest view;
    // the replay must still see them
    assert(EncodePipeline.compact(spark, out, docs.schema).nonEmpty)
    assert(merge() === ((0L, 0L)))
    val table = EncodePipeline.decodeShared(spark, out, docs.schema)
    assert(table.count() === 200L)
    assert(table.filter(col("lang") === "qq").count() === 4L)
  }
}
