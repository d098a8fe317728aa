package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** Merge-on-read positional delete vectors: zero data rewrite on delete,
  * scan-time application, idempotence, accumulation across calls, 3VL,
  * maintenance guards, and materialization back to copy-on-write. */
class MergeOnReadDeleteSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_mor").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(col("url"), col("warc_ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
      .collect().map(_.mkString("|")).sorted

  private def dataFiles(out: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$out/data"))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("materializeDeletes decodes only the blocks of the part its vectors sit in") {
    val docs = WebDocGen.dataset(spark, 800, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val enc = EncodePipeline.readData(spark, out)
    val part = enc.select("__part").head().getInt(0)
    val partUrls = EncodePipeline.decode(enc.filter(col("__part") === part), docs.schema)
      .select("url").limit(3).collect().map(_.getString(0)).toSeq
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      col("url").isin(partUrls: _*)) === 3L)
    val partBlocks = enc.filter(col("__part") === part).count()
    assert(partBlocks < enc.count())
    graft.sources.ReaderDiag.blocksDecoded.set(0)
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") === 3L)
    assert(graft.sources.ReaderDiag.blocksDecoded.get() === partBlocks)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(docs.filter(!col("url").isin(partUrls: _*))))
  }

  test("lazy delete rewrites ZERO data bytes; scans apply the vectors") {
    val docs = WebDocGen.dataset(spark, 500, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val before = dataFiles(out)
    val n = EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      length(col("text")) % 4 === 1)
    assert(n === docs.filter(length(col("text")) % 4 === 1).count())
    assert(n > 0)
    // every data file byte-identical — the whole point of merge-on-read
    assert(dataFiles(out) === before)
    assert(new java.io.File(s"$out/deletes").exists())
    val expect = sortedRows(docs.filter(length(col("text")) % 4 =!= 1))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("repeat delete is idempotent; further deletes accumulate; NULL pred keeps") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
      .withColumn("lang", when(length(col("text")) % 5 === 0, lit(null)).otherwise(col("lang")))
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val p1 = length(col("text")) % 4 === 1
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, p1) > 0)
    // same predicate again: every matching row is already vector-deleted
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, p1) === 0L)
    // a second predicate with a NULL region (null lang ⇒ NULL pred ⇒ keep)
    val p2 = col("lang") =!= "en"
    val n2 = EncodePipeline.deleteWhereLazy(spark, out, docs.schema, p2)
    val d1 = docs.filter(length(col("text")) % 4 =!= 1)
    assert(n2 === d1.filter(col("lang").isNotNull && col("lang") =!= "en").count())
    val expect = sortedRows(d1.filter(col("lang").isNull || col("lang") === "en"))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("block-level maintenance refuses live vectors; materialize folds and unblocks") {
    val docs = WebDocGen.dataset(spark, 500, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 32)
    val nLazy = EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      length(col("text")) % 3 === 0)
    assert(nLazy > 0)
    intercept[IllegalArgumentException] {
      EncodePipeline.compact(spark, out, docs.schema, blockSize = 256)
    }
    intercept[IllegalArgumentException] {
      EncodePipeline.deleteWhere(spark, out, docs.schema, "url", lit(true))
    }
    intercept[IllegalArgumentException] {
      EncodePipeline.updateWhere(spark, out, docs.schema, "url", lit(true),
        Map("lang" -> lit("xx")))
    }
    val folded = EncodePipeline.materializeDeletes(spark, out, docs.schema, "url",
      blockSize = 32)
    assert(folded === nLazy)
    assert(!new java.io.File(s"$out/deletes").exists())
    val expect = sortedRows(docs.filter(length(col("text")) % 3 =!= 0))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // maintenance works again, and the folded state survives it
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 256).nonEmpty)
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // repeat materialization is a clean no-op
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") === 0L)
  }

  test("materializing a fully-vector-deleted part tombstones it") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val dec0 = EncodePipeline.decode(
      EncodePipeline.readData(spark, out), docs.schema, None, keepPart = true)
    val part0Urls = dec0.filter(col("__part") === 0)
      .select("url").collect().map(_.getString(0)).toSet
    assert(part0Urls.nonEmpty)
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      col("url").isin(part0Urls.toSeq: _*)) === part0Urls.size.toLong)
    val expect = sortedRows(docs.filter(!col("url").isin(part0Urls.toSeq: _*)))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") ===
      part0Urls.size.toLong)
    assert(EncodePipeline.readData(spark, out)
      .filter(col("__part") === 0).count() === 0L)
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("merge-on-read deletes are snapshots: decodeSharedAt travels through them") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val p1 = length(col("text")) % 4 === 1
    val p2 = col("lang") === "de"
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, p1) > 0) // → gen 1
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, p2) > 0) // → gen 2
    val after1 = docs.filter(length(col("text")) % 4 =!= 1)
    val after2 = after1.filter(col("lang") =!= "de")
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0)) ===
      sortedRows(docs))
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 1)) ===
      sortedRows(after1))
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 2)) ===
      sortedRows(after2))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(after2))
    // materialization expires vector history but keeps the current state
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(after2))
  }

  test("merge-on-read update: updated rows append, originals vector-delete, zero rewrite") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
      .withColumn("lang", when(length(col("text")) % 5 === 0, lit(null)).otherwise(col("lang")))
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val before = dataFiles(out)
    // pred NULL on null-lang rows (3VL: unchanged); assignment sees old row
    val pred = col("lang") =!= "en"
    val n = EncodePipeline.updateWhereLazy(spark, out, docs.schema, "url", pred,
      Map("lang" -> lit("uu"), "text" -> concat(col("text"), lit(" upd"))),
      partitions = 4, blockSize = 64, batchId = 11L)
    assert(n === docs.filter(col("lang").isNotNull && col("lang") =!= "en").count())
    // every pre-existing data file is byte-identical; only new files appended
    val after = dataFiles(out)
    before.foreach { case (f, len) => assert(after.get(f).contains(len), f) }
    assert(after.size > before.size)
    val expect = sortedRows(docs.select(
      col("url"), col("warc_ts"), col("html"),
      when(pred, concat(col("text"), lit(" upd"))).otherwise(col("text")).as("text"),
      when(pred, lit("uu")).otherwise(col("lang")).as("lang")))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // replay with the SAME batchId: append no-ops, originals already gone
    assert(EncodePipeline.updateWhereLazy(spark, out, docs.schema, "url", pred,
      Map("lang" -> lit("uu"), "text" -> concat(col("text"), lit(" upd"))),
      partitions = 4, blockSize = 64, batchId = 11L) === 0L)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // materialization folds the vectors; state unchanged
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") === n)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("vectors go inert when their file is superseded; appends are untouched") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      length(col("text")) % 4 === 2) > 0)
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") > 0)
    val survivors = docs.filter(length(col("text")) % 4 =!= 2)
    // append AFTER materialization, then lazily delete from the new batch too
    import spark.implicits._
    val extra = spark.range(400, 450).map(i => WebDocGen.make(i)).toDF()
    assert(EncodePipeline.appendCommit(extra, "url", out, 4, 64, batchId = 3L))
    val n = EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      length(col("text")) % 4 === 2)
    assert(n === extra.filter(length(col("text")) % 4 === 2).count())
    val expect = sortedRows(
      survivors.unionByName(extra.filter(length(col("text")) % 4 =!= 2)))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("the fold marker of an empty materializeDeletes takes a generation above an unpublished branch") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64) // gen 0
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      length(col("text")) % 4 === 1) > 0)
    // rolling back below the delete abandons its vectors: the deletes
    // directory keeps files, but none of them is live
    EncodePipeline.rollbackTo(spark, out, 0)
    val base = EncodePipeline.createBranch(spark, out, "audit")
    import spark.implicits._
    val staged = spark.range(9000, 9020).map(i => WebDocGen.make(i)).toDF()
    assert(EncodePipeline.appendToBranch(staged, "url", out, 4, "audit",
      blockSize = 64, batchId = 1L))
    val raw = EncodePipeline.rawManifest(spark, out)
    val branchGen = raw.filter(col("ref") === "audit").agg(max(col("gen"))).head().getInt(0)
    assert(branchGen > base)
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url") === 0L)
    val foldGens = EncodePipeline.rawManifest(spark, out)
      .filter(col("dv_folded") === true).select("gen").collect().map(_.getInt(0))
    assert(foldGens.length === 1 && foldGens.head > branchGen)
    // main still hides the branch, at every generation, until it is
    // published; then it shows it
    val n = docs.count()
    for (g <- 0 to EncodePipeline.currentGen(spark, out))
      assert(spark.read.format("graft").option("gen", g.toString).load(out).count() === n)
    val pub = EncodePipeline.fastForward(spark, out, "audit", allowDivergence = true)
    assert(pub > foldGens.head)
    assert(spark.read.format("graft").load(out).count() === n + 20)
    assert(spark.read.format("graft").option("gen", (pub - 1).toString).load(out)
      .count() === n)
  }
}
