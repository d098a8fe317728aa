package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** Snapshot semantics across the commit family: additive appends get their
  * own generation (time travel cuts exactly between commits, including
  * atomic MOR update/merge snapshots), [[EncodePipeline.rollbackTo]]
  * restores a past generation append-only, and
  * [[EncodePipeline.readChangesBetween]] captures net row-level changes —
  * through the file-delta fast path on append/MOR windows and the snapshot
  * diff on rewrite windows. */
class SnapshotSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_snap").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(col("url"), col("warc_ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
      .collect().map(_.mkString("|")).sorted

  private def dataFileNames(out: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$out/data"))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).toSet
  }

  test("appends are snapshots: time travel cuts between batches") {
    val all = WebDocGen.dataset(spark, 600, 4).toDF()
    val b0 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 0)
    val b1 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 1)
    val b2 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 2)
    val out = tmpDir()
    EncodePipeline.run(b0, "url", out, partitions = 4, blockSize = 64) // gen 0
    assert(EncodePipeline.appendCommit(b1, "url", out, 4, 64, batchId = 1L)) // gen 1
    assert(EncodePipeline.appendCommit(b2, "url", out, 4, 64, batchId = 2L)) // gen 2
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, all.schema, 0)) ===
      sortedRows(b0))
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, all.schema, 1)) ===
      sortedRows(b0.unionByName(b1)))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) ===
      sortedRows(all))
    // a compaction replaces the floor; the table stays identical
    assert(EncodePipeline.compact(spark, out, all.schema, blockSize = 256).nonEmpty)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) ===
      sortedRows(all))
    // and an append AFTER the compaction is visible above the new floor
    val extra = b0.withColumn("url", concat(col("url"), lit("#x")))
    assert(EncodePipeline.appendCommit(extra, "url", out, 4, 64, batchId = 3L))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) ===
      sortedRows(all.unionByName(extra)))
  }

  test("MOR update is one snapshot: pre-update time travel shows neither side") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64) // gen 0
    val pred = length(col("text")) % 3 === 1
    val n = EncodePipeline.updateWhereLazy(spark, out, docs.schema, "url", pred,
      Map("lang" -> lit("zz")), partitions = 4, blockSize = 64) // gen 1 (atomic)
    assert(n > 0)
    // as of gen 0: the original table — no inserted versions, no deletions
    assert(sortedRows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0)) ===
      sortedRows(docs))
    // current: the updated table
    val expect = docs.withColumn("lang", when(pred, lit("zz")).otherwise(col("lang")))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(expect))
  }

  test("rollbackTo undoes COW and MOR commits append-only; vacuum reclaims") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64) // gen 0
    val files0 = dataFileNames(out)
    // gen 1: COW update rewrites affected parts
    val upd = EncodePipeline.updateWhere(spark, out, docs.schema, "url",
      length(col("text")) % 4 === 2, Map("lang" -> lit("xx")), blockSize = 64)
    assert(upd > 0)
    val afterUpd = sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema))
    // gen 2: MOR delete vectors
    val del = EncodePipeline.deleteWhereLazy(spark, out, docs.schema,
      col("lang") === "de")
    assert(del > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) !==
      afterUpd)
    // rollback the delete only: back to the post-update state
    val g1 = EncodePipeline.rollbackTo(spark, out, 1)
    assert(g1 > 2)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      afterUpd)
    // rollback everything: the original table, zero data bytes moved
    val before = dataFileNames(out)
    val g0 = EncodePipeline.rollbackTo(spark, out, 0)
    assert(g0 > g1)
    assert(dataFileNames(out) === before) // metadata-only
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(docs))
    // vacuum reclaims the abandoned COW rewrite files and the abandoned
    // delete-vector files; the restored table is untouched
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(dataFileNames(out) === files0)
    assert(!new java.io.File(s"$out/deletes").exists())
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(docs))
    // rolling back to an expired generation fails loudly
    intercept[IllegalArgumentException] {
      EncodePipeline.rollbackTo(spark, out, 1)
    }
  }

  test("rollbackTo refuses targets whose vector history was expired by a fold") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64) // gen 0
    val pred = length(col("text")) % 3 === 1
    assert(EncodePipeline.deleteWhereLazy(spark, out, docs.schema, pred) > 0) // gen 1
    // the fold expires gen-1's vector history (and records it)
    assert(EncodePipeline.materializeDeletes(spark, out, docs.schema, "url",
      blockSize = 64) > 0) // gen 2 + fold marker
    // a faithful restore of gen 1 would need the folded vectors — refuse
    intercept[IllegalArgumentException] {
      EncodePipeline.rollbackTo(spark, out, 1)
    }
    // gen 0 needs no vectors and its files still exist — allowed
    EncodePipeline.rollbackTo(spark, out, 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(docs))
  }

  test("readChangesBetween: append + MOR window takes the file-delta fast path") {
    val all = WebDocGen.dataset(spark, 500, 4).toDF()
    val base = all.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val added = all.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val out = tmpDir()
    EncodePipeline.run(base, "url", out, partitions = 4, blockSize = 64) // gen 0
    assert(EncodePipeline.appendCommit(added, "url", out, 4, 64, batchId = 1L)) // gen 1
    val delPred = col("lang") === "fr"
    val nDel = EncodePipeline.deleteWhereLazy(spark, out, all.schema, delPred) // gen 2
    assert(nDel > 0)
    val ch = EncodePipeline.readChangesBetween(spark, out, all.schema, 0, 2)
    val ins = ch.filter(col("_change_type") === "insert").drop("_change_type")
    val del = ch.filter(col("_change_type") === "delete").drop("_change_type")
    // net inserts: the appended batch minus its own in-window deletions
    assert(sortedRows(ins) === sortedRows(added.filter(!delPred)))
    // net deletes: base rows the window's vectors masked
    assert(sortedRows(del) === sortedRows(base.filter(delPred)))
    // sub-window: just the delete
    val ch12 = EncodePipeline.readChangesBetween(spark, out, all.schema, 1, 2)
    assert(ch12.filter(col("_change_type") === "insert").count() === 0L)
    assert(sortedRows(ch12.filter(col("_change_type") === "delete")
      .drop("_change_type")) === sortedRows(all.filter(delPred)))
    // empty window
    assert(EncodePipeline.readChangesBetween(spark, out, all.schema, 2, 2)
      .count() === 0L)
  }

  test("readChangesBetween plans append/MOR windows as a graft scan, rewrite windows as a diff") {
    val all = WebDocGen.dataset(spark, 400, 4).toDF()
    val base = all.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val added = all.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val out = tmpDir()
    EncodePipeline.run(base, "url", out, partitions = 4, blockSize = 64) // gen 0
    assert(EncodePipeline.appendCommit(added, "url", out, 4, 64, batchId = 1L)) // gen 1
    assert(EncodePipeline.deleteWhereLazy(spark, out, all.schema, col("lang") === "fr") > 0)
    def graftScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }.flatMap(_.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.description().startsWith("GraftChangesScan") => b
      })
    def hasExcept(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst {
        case e: org.apache.spark.sql.catalyst.plans.logical.Except => e
      }.nonEmpty
    val fast = EncodePipeline.readChangesBetween(spark, out, all.schema, 0, 2) // gen 2: MOR
    assert(graftScans(fast).nonEmpty && !hasExcept(fast))
    EncodePipeline.materializeDeletes(spark, out, all.schema, "url") // gen 3
    val nDel = EncodePipeline.deleteWhere(spark, out, all.schema, "url",
      col("lang") === "de") // gen 4: copy-on-write
    assert(nDel > 0)
    val slow = EncodePipeline.readChangesBetween(spark, out, all.schema, 3, 4)
    assert(graftScans(slow).isEmpty && hasExcept(slow))
    assert(slow.filter(col("_change_type") === "delete").count() === nDel)
  }

  test("readChangesBetween: rewrite windows fall back to the snapshot diff") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64) // gen 0
    val pred = length(col("text")) % 4 === 2
    assert(EncodePipeline.updateWhere(spark, out, docs.schema, "url", pred,
      Map("lang" -> lit("xx")), blockSize = 64) > 0) // gen 1: COW rewrite
    val ch = EncodePipeline.readChangesBetween(spark, out, docs.schema, 0, 1)
    val expDel = docs.filter(pred && col("lang") =!= "xx")
    val expIns = expDel.withColumn("lang", lit("xx"))
    assert(sortedRows(ch.filter(col("_change_type") === "delete")
      .drop("_change_type")) === sortedRows(expDel))
    assert(sortedRows(ch.filter(col("_change_type") === "insert")
      .drop("_change_type")) === sortedRows(expIns))
  }

  test("snapshots() under ANSI mode: a generation without a commit instant reads NULL") {
    val all = WebDocGen.dataset(spark, 300, 4).toDF()
    val b0 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 0)
    val b1 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 1)
    val b2 = all.filter(pmod(xxhash64(col("url")), lit(3)) === 2)
    val out = tmpDir()
    EncodePipeline.run(b0, "url", out, partitions = 4, blockSize = 64) // gen 0
    assert(EncodePipeline.appendCommit(b1, "url", out, 4, 64, batchId = 1L)) // gen 1
    assert(EncodePipeline.appendCommit(b2, "url", out, 4, 64, batchId = 2L)) // gen 2
    // one manifest file now holds every generation, and without the
    // instants the rewrite persisted, only its newest generation has one
    assert(EncodePipeline.rewriteManifests(spark, out) > 0)
    assert(new java.io.File(s"$out/commit_times.json").delete())
    val prior = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val at = EncodePipeline.snapshots(spark, out).select("gen", "committed_at")
        .collect().map(r => r.getInt(0) -> Option(r.getTimestamp(1))).toMap
      assert(at.keySet === Set(0, 1, 2))
      assert(at(0).isEmpty && at(1).isEmpty && at(2).nonEmpty)
    } finally prior match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }
}
