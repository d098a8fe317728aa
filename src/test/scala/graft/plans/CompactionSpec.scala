package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** Compaction + vacuum: the table-format maintenance operations. Covers
  * under-filled-block and append-fragmentation candidates, generation
  * supersede semantics across every reader, idempotent re-runs, orphan
  * invisibility, shared-dict tables, and file reclamation. */
class CompactionSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_compact").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(col("url"), col("warc_ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
      .collect().map(_.mkString("|")).sorted

  private def filesPerPart(out: String): Map[Int, Int] = {
    val dir = new java.io.File(s"$out/data")
    dir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("__part="))
      .map { d =>
        // java.io.File sees Hadoop's hidden .crc siblings; data files only
        d.getName.stripPrefix("__part=").toInt ->
          d.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet") &&
            !f.getName.startsWith("."))
      }.toMap
  }

  test("under-filled blocks re-block to full size; every reader sees one table") {
    val docs = WebDocGen.dataset(spark, 600, 4).toDF()
    val expect = sortedRows(docs)
    val out = tmpDir()
    // blockSize 32 → ~5x more blocks than a 160-value target needs
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 32)
    val blocksBefore = EncodePipeline.readData(spark, out).count()

    val compacted = EncodePipeline.compact(spark, out, docs.schema, blockSize = 160)
    assert(compacted.nonEmpty)
    val blocksAfter = EncodePipeline.readData(spark, out).count()
    assert(blocksAfter < blocksBefore)
    // bit-identical content through the generation-resolved readers
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // second compaction finds nothing left to do
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 160).isEmpty)
  }

  test("append fragmentation compacts; pruned readers agree before and after") {
    val all = WebDocGen.dataset(spark, 800, 4).toDF()
    // split on a column INDEPENDENT of the url-hash partitioner, so every
    // part receives rows from both halves (append fragmentation everywhere)
    val docs1 = all.filter(pmod(unix_micros(col("warc_ts")), lit(2L)) === 0)
    val docs2 = all.filter(pmod(unix_micros(col("warc_ts")), lit(2L)) =!= 0)
    val out = tmpDir()
    EncodePipeline.run(docs1, "url", out, partitions = 4, blockSize = 128)
    // second append commit for the SAME parts, replicating the wave-commit
    // protocol (run() itself skips committed parts — this is the streaming
    // batch-append shape, with file tracking)
    val enc2 = EncodePipeline.encode(docs2, "url", 4, 128)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    enc2.count()
    enc2.write.mode("append").partitionBy("__part").parquet(s"$out/data")
    val after = filesPerPart(out)
    val newFiles = after.keys.map { p =>
      val d = new java.io.File(s"$out/data/__part=$p")
      p -> d.listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        .map(f => "file://" + f.getAbsolutePath).toSeq.sorted
    }.toMap
    // record only the delta files for this commit
    import spark.implicits._
    val prevMeta = spark.read.option("mergeSchema", "true").parquet(s"$out/meta")
    val prevFiles = prevMeta.select(explode(col("data_files")).as("f"))
      .as[String].collect().toSet
    val partFiles = newFiles.toSeq.flatMap { case (p, fsq) => fsq.map(f => (p, f)) }
      .toDF("__part", "__file")
      .filter(!col("__file").isin(prevFiles.toSeq: _*))
      .groupBy(col("__part"))
      .agg(sort_array(collect_set(col("__file"))).as("data_files"))
    EncodePipeline.metadata(enc2, all.schema)
      .join(partFiles, Seq("__part"))
      .withColumn("wave", lit(1)).withColumn("wall_millis", lit(0L))
      .withColumn("attempt", lit(1))
      .write.mode("append").parquet(s"$out/meta")
    enc2.unpersist()

    val expect = sortedRows(all)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    assert(filesPerPart(out).values.forall(_ >= 2)) // fragmented

    // a point-probe baseline before compaction
    val lang = "en"
    val prunedBefore = EncodePipeline.readDataPruned(spark, out, "lang", lang).count()

    val compacted = EncodePipeline.compact(spark, out, all.schema, blockSize = 512)
    assert(compacted.sorted === filesPerPart(out).keys.toSeq.sorted)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    val prunedAfter = EncodePipeline.readDataPruned(spark, out, "lang", lang).count()
    assert(prunedAfter <= prunedBefore) // fewer (fuller) blocks, same data

    // vacuum reclaims the superseded generation; content unchanged
    val deleted = EncodePipeline.vacuum(spark, out)
    assert(deleted > 0)
    assert(filesPerPart(out).values.forall(_ === 1))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    assert(EncodePipeline.vacuum(spark, out) === 0)
  }

  test("shared-dict tables compact to self-contained blobs, content preserved") {
    val docs = WebDocGen.dataset(spark, 3000, 4).toDF()
    val expect = sortedRows(docs)
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 256,
      sharedDictCols = Seq("lang"))
    import graft.functions._
    val sharedBefore = EncodePipeline.readData(spark, out)
      .filter(blob_codec(col("e_lang")).startsWith("shared")).count()
    assert(sharedBefore > 0)
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 1024).nonEmpty)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    // compacted blobs are self-contained (no shared references remain
    // current); the dicts side-structure stays for any uncompacted part
    val sharedAfter = EncodePipeline.readData(spark, out)
      .filter(blob_codec(col("e_lang")).startsWith("shared")).count()
    assert(sharedAfter === 0)
  }

  test("appendCommit batch 0 lands on a run()-written table (no wave-0 collision)") {
    val all = WebDocGen.dataset(spark, 400, 4).toDF()
    val docs1 = all.filter(pmod(unix_micros(col("warc_ts")), lit(2L)) === 0)
    val docs2 = all.filter(pmod(unix_micros(col("warc_ts")), lit(2L)) =!= 0)
    val out = tmpDir()
    EncodePipeline.run(docs1, "url", out, partitions = 4, blockSize = 128)
    // run() committed wave 0 — a streaming batch 0 must still land
    assert(EncodePipeline.appendCommit(docs2, "url", out, 4, 128, batchId = 0L))
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === sortedRows(all))
    // and its replay is detected
    assert(!EncodePipeline.appendCommit(docs2, "url", out, 4, 128, batchId = 0L))
  }

  test("time travel: generation 0 still reads the pre-compaction table") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val expect = sortedRows(docs)
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 32)
    val blocks0 = EncodePipeline.readData(spark, out).count()
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 256).nonEmpty)
    // current read: compacted generation; gen-0 read: the original blocks
    assert(EncodePipeline.readData(spark, out).count() < blocks0)
    val at0 = EncodePipeline.readDataAt(spark, out, 0)
    assert(at0.count() === blocks0)
    assert(sortedRows(EncodePipeline.decode(at0, docs.schema)) === expect)
    // vacuum expires history: generation 0 is no longer materializable,
    // the current generation unaffected (Iceberg expire-snapshots parity)
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("bin-packing: small appends pack; the big base files stay byte-identical") {
    import spark.implicits._
    val base = WebDocGen.dataset(spark, 600, 4).toDF()
    val out = tmpDir()
    // ~150 rows/part: well above the 64-row small threshold
    EncodePipeline.run(base, "url", out, partitions = 4, blockSize = 64)
    def currentFiles(): Map[Int, Set[String]] = {
      val dir = new java.io.File(s"$out/data")
      dir.listFiles().filter(d => d.isDirectory && d.getName.startsWith("__part="))
        .map(d => d.getName.stripPrefix("__part=").toInt ->
          d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet") &&
            !f.getName.startsWith(".")).map(_.getName).toSet).toMap
    }
    val baseFiles = currentFiles()
    // three streaming-shaped tiny appends (~10 rows/part each)
    (0 until 3).foreach { b =>
      val batch = spark.range(600 + b * 40, 600 + (b + 1) * 40)
        .map(i => WebDocGen.make(i)).toDF()
      assert(EncodePipeline.appendCommit(batch, "url", out, 4, 64, batchId = b.toLong))
    }
    val all = WebDocGen.dataset(spark, 720, 4).toDF()
    val expect = sortedRows(all)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)

    val packed = EncodePipeline.compactSmallFiles(spark, out, all.schema, blockSize = 64)
    assert(packed.nonEmpty)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    val removed = EncodePipeline.vacuum(spark, out)
    assert(removed > 0)
    // the base generation's files survive untouched — only the small
    // appends were rewritten (plus one fresh pack file per packed part)
    val after = currentFiles()
    packed.foreach { p =>
      assert(baseFiles(p).subsetOf(after(p)), s"part $p base file rewritten")
      assert(after(p).size === baseFiles(p).size + 1)
    }
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    // idempotent: one pack file per part is below minSmall=2, nothing to do
    assert(EncodePipeline.compactSmallFiles(spark, out, all.schema, blockSize = 64).isEmpty)
    // streaming replay detection survives the carried-forward rows
    val replay = spark.range(600, 640).map(i => WebDocGen.make(i)).toDF()
    assert(!EncodePipeline.appendCommit(replay, "url", out, 4, 64, batchId = 0L))
  }

  test("bin-packing byte budget: sub-budget commits pack above the row threshold") {
    import spark.implicits._
    val base = WebDocGen.dataset(spark, 600, 4).toDF()
    val out = tmpDir()
    // blockSize 16: even the append commits (~50 rows/part) clear a block,
    // so the row-count criterion sees nothing small anywhere
    EncodePipeline.run(base, "url", out, partitions = 4, blockSize = 16)
    (0 until 2).foreach { b =>
      val batch = spark.range(600 + b * 200, 600 + (b + 1) * 200)
        .map(i => WebDocGen.make(i)).toDF()
      assert(EncodePipeline.appendCommit(batch, "url", out, 4, 16, batchId = b.toLong))
    }
    val all = WebDocGen.dataset(spark, 1000, 4).toDF()
    val expect = sortedRows(all)
    assert(EncodePipeline.compactSmallFiles(spark, out, all.schema, blockSize = 16).isEmpty)
    // byte budget between the append commits' totals and the base commit's,
    // derived from the manifest so the pin is insensitive to codec drift
    val commits = spark.read.parquet(s"$out/meta")
      .where(col("data_files").isNotNull)
      .groupBy(col("__part"), col("data_files"))
      .agg(max(col("rows")).as("rows"), sum(col("encoded_bytes")).as("bytes"))
      .collect()
    val baseMin = commits.filter(_.getAs[Long]("rows") >= 100).map(_.getAs[Long]("bytes")).min
    val appMax = commits.filter(_.getAs[Long]("rows") < 100).map(_.getAs[Long]("bytes")).max
    assert(appMax < baseMin, "test assumption: append commits smaller than base")
    val packed = EncodePipeline.compactSmallFiles(spark, out, all.schema,
      blockSize = 16, maxSmallBytes = appMax)
    assert(packed.nonEmpty)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
    // over-budget base commits carried forward verbatim; only the packed
    // appends' files are reclaimable
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, all.schema)) === expect)
  }

  test("a row-keeping rewrite whose candidate part lands no file fails, naming it, and commits nothing") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    // a committed part 9 whose one recorded file holds no block
    EncodePipeline.encode(docs.limit(0), "url", 4, 64).drop("__part")
      .coalesce(1).write.parquet(s"$out/data/__part=9")
    val empty = new java.io.File(s"$out/data/__part=9").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    spark.read.parquet(s"$out/meta").filter(col("__part") === 0)
      .withColumn("__part", lit(9))
      .withColumn("data_files", array(lit("file://" + empty.getAbsolutePath)))
      .write.mode("append").parquet(s"$out/meta")
    val expect = sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema))
    val gen = EncodePipeline.currentGen(spark, out)
    val e = intercept[IllegalArgumentException] {
      EncodePipeline.rewriteSorted(spark, out, docs.schema, "url", Seq(col("warc_ts")))
    }
    assert(e.getMessage.contains("wrote no files for parts 9"), e.getMessage)
    assert(EncodePipeline.currentGen(spark, out) === gen)
    assert(EncodePipeline.currentFiles(spark, out).count(_._1 == 9) === 1)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }

  test("crash-orphan files are invisible and vacuumed") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val expect = sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema))
    // plant an orphan (a crashed compaction attempt's file): a copy of a
    // real data file under a new name inside a tracked part directory
    val partDir = new java.io.File(s"$out/data").listFiles()
      .filter(_.getName.startsWith("__part=")).head
    val src = partDir.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith(".")).head
    val orphan = new java.io.File(partDir, "part-orphan-from-crashed-attempt.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    // readers never see it (the manifest file list is the table)
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
    assert(EncodePipeline.vacuum(spark, out) === 1)
    assert(!orphan.exists())
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) === expect)
  }
}
