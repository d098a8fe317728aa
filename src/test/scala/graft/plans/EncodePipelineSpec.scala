package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.double_bits
import graft.sources.WebDocGen

/** End-to-end invariant test (SURVEY.md §5 item 3): synthetic WebDoc table →
  * encode → decode → join on url → byte-identical text/html; plus
  * compression, metadata, and crash-resume behavior. */
class EncodePipelineSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_pipe").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("webdoc generator is deterministic across parallelism") {
    val a = WebDocGen.dataset(spark, 500, 2).collect().sortBy(_.url)
    val b = WebDocGen.dataset(spark, 500, 7).collect().sortBy(_.url)
    assert(a.length === 500)
    a.zip(b).foreach { case (x, y) =>
      assert(x.url === y.url); assert(x.text === y.text)
      assert(x.warc_ts === y.warc_ts); assert(x.lang === y.lang)
      assert(java.util.Arrays.equals(x.html, y.html))
    }
    // host skew exists (Zipf): top host should hold well over 1/997 of rows
    val hosts = a.groupBy(d => d.url.split('/')(2)).map(_._2.length).toSeq.sorted.reverse
    assert(hosts.head > 25)
  }

  test("encode→decode round-trips the WebDoc table bit-identically") {
    val docs = WebDocGen.dataset(spark, 2000, 4).toDF()
    val enc = EncodePipeline.encode(docs, "url", partitions = 8, blockSize = 256)
    val decoded = EncodePipeline.decode(enc, docs.schema)
    val summary = EncodePipeline.verifyRoundTrip(docs, decoded, "url").head()
    assert(summary.getLong(0) === 2000L)
    assert(summary.getLong(1) === 0L)
  }

  test("encoded size beats the plain baseline and metadata reports per-column codecs") {
    val docs = WebDocGen.dataset(spark, 3000, 4).toDF()
    val enc = EncodePipeline.encode(docs, "url", partitions = 4, blockSize = 1024).cache()
    val meta = EncodePipeline.metadata(enc, docs.schema)
    val rows = meta.collect()
    assert(rows.map(_.getAs[Long]("rows")).sum === 3000L * docs.schema.length)
    val byCol = rows.groupBy(_.getAs[String]("column")).view.mapValues { rs =>
      (rs.map(_.getAs[Long]("raw_bytes")).sum, rs.map(_.getAs[Long]("encoded_bytes")).sum)
    }.toMap
    // every column compresses; text/html via fsst must beat raw clearly
    byCol.foreach { case (c, (raw, encB)) =>
      assert(encB < raw, s"column $c: encoded $encB !< raw $raw")
    }
    assert(byCol("text")._1 > byCol("text")._2 * 2, s"text ratio too low: ${byCol("text")}")
    assert(byCol("warc_ts")._1 > byCol("warc_ts")._2 * 2)
    val langCodecs = rows.filter(_.getAs[String]("column") == "lang")
      .flatMap(_.getSeq[String](rows.head.fieldIndex("codecs")))
    assert(langCodecs.forall(c => Set("dict", "rle_dict", "const").contains(c)), langCodecs.toSeq)
    // zone-map parity: the metadata's value bounds contain the actual
    // min/max of the timestamp column (micros), and are non-trivial
    val tsBounds = rows.filter(_.getAs[String]("column") == "warc_ts")
    val actual = docs.agg(min(unix_micros(col("warc_ts"))), max(unix_micros(col("warc_ts")))).head()
    val lo = tsBounds.map(_.getAs[Long]("value_lo")).min
    val hi = tsBounds.map(_.getAs[Long]("value_hi")).max
    assert(lo <= actual.getLong(0) && hi >= actual.getLong(1), s"bounds [$lo,$hi] vs $actual")
    assert(hi - lo < (actual.getLong(1) - actual.getLong(0)) * 2 + 1000000L,
      "bounds uselessly loose") // header-derived, still tight enough to prune
    enc.unpersist()
  }

  test("run() commits waves idempotently and resumes after injected failure") {
    val docs = WebDocGen.dataset(spark, 1200, 4).toDF()
    val out = tmpDir()
    // first attempt dies before wave 1's metadata commit
    intercept[RuntimeException] {
      EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128,
        waves = 3, failAtWave = 1)
    }
    val metaAfterCrash = spark.read.parquet(s"$out/meta")
    val committedParts = metaAfterCrash.select("__part").distinct().count()
    assert(committedParts > 0 && committedParts < 8)
    // resume: completes remaining waves; already-committed parts are skipped
    EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128, waves = 3)
    val data = EncodePipeline.readData(spark, out)
    val decoded = EncodePipeline.decode(data, docs.schema)
    // no duplicates despite the crashed wave's orphan data, and full recovery
    assert(decoded.count() === 1200L)
    val summary = EncodePipeline.verifyRoundTrip(docs, decoded, "url").head()
    assert(summary.getLong(1) === 0L)
  }

  test("a resumed run() lands the crashed wave beside its orphans; vacuum reclaims them") {
    val docs = WebDocGen.dataset(spark, 1200, 4).toDF()
    val out = tmpDir()
    def onDisk(): Set[String] = new java.io.File(s"$out/data").listFiles()
      .filter(_.getName.startsWith("__part=")).toSet.flatMap { (d: java.io.File) =>
        d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet") &&
          !f.getName.startsWith(".")).map(f => s"${d.getName}/${f.getName}")
      }
    def recorded(): Set[String] =
      EncodePipeline.currentFiles(spark, out).map(f => EncodePipeline.fileSuffix(f._2)).toSet
    intercept[RuntimeException] {
      EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128,
        waves = 3, failAtWave = 1)
    }
    // wave 1's files landed but were never committed
    val orphans = onDisk() -- recorded()
    assert(orphans.nonEmpty)
    EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128, waves = 3)
    // the resumed wave landed new files; the orphans stay on disk, unrecorded
    assert(orphans.subsetOf(onDisk()) && (orphans & recorded()).isEmpty)
    def urls(): Seq[String] = EncodePipeline.decode(EncodePipeline.readData(spark, out), docs.schema)
      .select("url").collect().map(_.getString(0)).toSeq.sorted
    val read = urls()
    assert(read.length === 1200 && read.distinct.length === 1200)
    assert(EncodePipeline.vacuum(spark, out) === orphans.size)
    assert(onDisk() === recorded())
    assert(urls() === read)
  }

  test("a file put in a part directory during an append is never recorded; vacuum reclaims it") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    val before = EncodePipeline.currentFiles(spark, out)
    val src = new java.io.File(new java.net.URI(before.head._2))
    val copy = new java.io.File(s"$out/data/__part=0/part-copied-during-append.parquet")
    // the filter drops a copy of a current data file into part 0 on its
    // first call, i.e. while the append's write runs (without adaptive
    // execution the filter runs inside the write job)
    val copyOnce = udf { (_: String) =>
      if (!copy.exists())
        scala.util.Try(java.nio.file.Files.copy(src.toPath, copy.toPath))
      true
    }
    val extra = docs.withColumn("url", concat(col("url"), lit("#b")))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try assert(EncodePipeline.appendCommit(extra.filter(copyOnce(col("url"))), "url", out,
      partitions = 4, blockSize = 64, batchId = 1L))
    finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert(copy.exists())
    val after = EncodePipeline.currentFiles(spark, out).map(f => EncodePipeline.fileSuffix(f._2))
    assert(!after.contains("__part=0/" + copy.getName))
    assert(after.size > before.size)
    val urls = EncodePipeline.decodeShared(spark, out, docs.schema)
      .select("url").collect().map(_.getString(0)).toSeq.sorted
    assert(urls === docs.union(extra).select("url").collect().map(_.getString(0)).toSeq.sorted)
    assert(EncodePipeline.vacuum(spark, out) === 1)
    assert(!copy.exists())
  }

  test("a data file written and then read holds one footer entry in the metadata cache") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    assert(EncodePipeline.appendCommit(docs.withColumn("url", concat(col("url"), lit("#b"))),
      "url", out, partitions = 4, blockSize = 64, batchId = 1L))
    EncodePipeline.readData(spark, out).count()
    val footers = EncodePipeline.cachedKeys.filter(_.endsWith("#footer"))
    val files = EncodePipeline.currentFiles(spark, out)
    assert(files.map(_._1).distinct.size === 4 && files.size === 8)
    files.foreach { case (_, f) =>
      val spelled = s"$out/data/${EncodePipeline.fileSuffix(f)}#footer"
      assert(footers.count(_.endsWith(spelled)) === 1, f)
    }
  }

  test("manifest zone maps prune parts without opening data files") {
    // range-partitioned on event_id (zone maps only prune when the partition
    // key correlates with the column — a hash partitioner would give every
    // part full-range bounds)
    val events = sf("events").select(col("event_id"), col("user_id"), col("event_type"))
    val maxId = events.agg(max(col("event_id"))).head().getLong(0)
    val rangePart = least(floor(col("event_id") / lit(maxId / 8 + 1)), lit(7)).cast("int")
    val out = tmpDir()
    EncodePipeline.run(events, "event_id", out, partitions = 8, blockSize = 128,
      customPart = Some(rangePart))
    val target = 17L // present in exactly one row
    val pruned = EncodePipeline.readDataPruned(spark, out, "event_id", target)
    val all = EncodePipeline.readData(spark, out)
    val prunedParts = pruned.select("__part").distinct().count()
    val allParts = all.select("__part").distinct().count()
    assert(prunedParts < allParts, s"no pruning: $prunedParts of $allParts parts")
    // soundness: decoding the pruned subset still finds the row
    val found = EncodePipeline.decode(pruned, events.schema)
      .filter(col("event_id") === target).count()
    assert(found === 1L)
  }

  test("string zone maps prune parts by lang without opening data files") {
    // partition by lang hash so the per-part [str_lo, str_hi] byte-string
    // bounds are selective (host/hash partitioning would give every part
    // the full lang range)
    val docs = sf("documents").select(col("doc_id"), col("lang"), col("source"))
    val out = tmpDir()
    EncodePipeline.run(docs, "doc_id", out, partitions = 8, blockSize = 128,
      customPart = Some(pmod(xxhash64(col("lang")), lit(8)).cast("int")))
    // absent probe: 'zz' sorts above every real lang → ZERO parts opened
    assert(EncodePipeline.readDataPruned(spark, out, "lang", "zz").count() === 0L)
    // present probe: a strict subset of parts survives, and decoding only
    // the surviving parts still finds every matching row (soundness)
    val pruned = EncodePipeline.readDataPruned(spark, out, "lang", "de")
    val all = EncodePipeline.readData(spark, out)
    assert(pruned.select("__part").distinct().count() < all.select("__part").distinct().count())
    val nDe = EncodePipeline.decode(pruned, docs.schema).filter(col("lang") === "de").count()
    assert(nDe === docs.filter(col("lang") === "de").count())
    assert(nDe > 0)
  }

  test("range-probe manifest pruning for long and string columns") {
    val events = sf("events").select(col("event_id"), col("user_id"))
    val maxId = events.agg(max(col("event_id"))).head().getLong(0)
    val rangePart = least(floor(col("event_id") / lit(maxId / 8 + 1)), lit(7)).cast("int")
    val out = tmpDir()
    EncodePipeline.run(events, "event_id", out, partitions = 8, blockSize = 128,
      customPart = Some(rangePart))
    val lo = 10L; val hi = maxId / 8 // inside the first range partition
    val pruned = EncodePipeline.readDataPrunedRange(spark, out, "event_id", lo, hi)
    val all = EncodePipeline.readData(spark, out)
    assert(pruned.select("__part").distinct().count() < all.select("__part").distinct().count())
    val n = EncodePipeline.decode(pruned, events.schema)
      .filter(col("event_id").between(lo, hi)).count()
    assert(n === events.filter(col("event_id").between(lo, hi)).count())
    assert(n > 0)
    // string range over lang-partitioned documents
    val docs = sf("documents").select(col("doc_id"), col("lang"))
    val out2 = tmpDir()
    EncodePipeline.run(docs, "doc_id", out2, partitions = 8, blockSize = 128,
      customPart = Some(pmod(xxhash64(col("lang")), lit(8)).cast("int")))
    val prunedS = EncodePipeline.readDataPrunedRange(spark, out2, "lang", "d", "e")
    val allS = EncodePipeline.readData(spark, out2)
    assert(prunedS.select("__part").distinct().count() < allS.select("__part").distinct().count())
    val nS = EncodePipeline.decode(prunedS, docs.schema)
      .filter(col("lang") >= "d" && col("lang") <= "e").count()
    assert(nS === docs.filter(col("lang") >= "d" && col("lang") <= "e").count())
    assert(nS > 0)
    // absent range: zero parts opened
    assert(EncodePipeline.readDataPrunedRange(spark, out2, "lang", "zx", "zz").count() === 0L)
  }

  test("null_value_counts manifest prunes IS NULL probes (Iceberg parity)") {
    // nulls planted ONLY in partition 3; lang never null
    val docs = sf("documents").select(col("doc_id"), col("lang"))
      .withColumn("opt", when(pmod(col("doc_id"), lit(8)) === 3 && col("doc_id") % 5 === 0,
        lit(null).cast("long")).otherwise(col("doc_id")))
    val out = tmpDir()
    EncodePipeline.run(docs, "doc_id", out, partitions = 8, blockSize = 128,
      customPart = Some(pmod(col("doc_id"), lit(8)).cast("int")))
    // an all-non-null column's parts are never opened for IS NULL
    assert(EncodePipeline.readDataPrunedIsNull(spark, out, "lang").count() === 0L)
    // only the null-bearing part survives, and it holds every null row
    val pruned = EncodePipeline.readDataPrunedIsNull(spark, out, "opt")
    assert(pruned.select("__part").distinct().collect().map(_.getInt(0)).toSet === Set(3))
    val nNull = EncodePipeline.decode(pruned, docs.schema).filter(col("opt").isNull).count()
    assert(nNull === docs.filter(col("opt").isNull).count())
    assert(nNull > 0)
    // the recorded counts are exact (bitmap popcount, not a sample)
    val meta = spark.read.parquet(s"$out/meta")
    val recorded = meta.filter(col("column") === "opt")
      .agg(sum("null_value_count")).head().getLong(0)
    assert(recorded === nNull)
  }

  test("manifest file list makes orphan data files invisible to readData") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128)
    val before = EncodePipeline.readData(spark, out).count()
    assert(before > 0)
    // plant an orphan inside a committed part directory: a copy of a real
    // data file under a new name (as a crashed second attempt would leave)
    val partDir = new java.io.File(s"$out/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__part=")).head
    val dataFile = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(dataFile.toPath,
      partDir.toPath.resolve("part-99999-orphan.snappy.parquet"))
    // a directory listing would double-count; the manifest file list must not
    assert(EncodePipeline.readData(spark, out).count() === before)
  }

  test("pruned readers read the manifest file list: an orphan data file changes no result") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128)
    // the orphan of the test above: a copy of a committed data file under
    // a new name inside its part directory
    val partDir = new java.io.File(s"$out/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__part=")).head
    val dataFile = partDir.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(dataFile.toPath,
      partDir.toPath.resolve("part-99999-orphan.snappy.parquet"))
    val part = partDir.getName.stripPrefix("__part=").toInt
    def blocks(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Int)] =
      df.select("__part", "__block", "__cnt").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    def readDataOf(parts: Array[Int]) =
      blocks(EncodePipeline.readData(spark, out).filter(col("__part").isin(parts.toSeq: _*)))
    val url = EncodePipeline.decode(EncodePipeline.readData(spark, out)
        .filter(col("__part") === part), docs.schema)
      .select("url").head().getString(0)
    val u = url.getBytes("UTF-8")
    val (lo, hi) = ("", "\u00ff")
    val ts = WebDocGen.BaseMicros + 100L * WebDocGen.StepMicros
    val pruned = Seq(
      "point" -> (EncodePipeline.readDataPruned(spark, out, "url", url),
        EncodePipeline.survivingPartsStr(spark, out, "url", u, u)),
      "range" -> (EncodePipeline.readDataPrunedRange(spark, out, "url", lo, hi),
        EncodePipeline.survivingPartsStr(spark, out, "url", lo.getBytes("UTF-8"), hi.getBytes("UTF-8"))),
      "long" -> (EncodePipeline.readDataPruned(spark, out, "warc_ts", ts),
        EncodePipeline.survivingPartsLong(spark, out, "warc_ts", ts, ts)),
      "long range" -> (EncodePipeline.readDataPrunedRange(spark, out, "warc_ts", Long.MinValue, Long.MaxValue),
        EncodePipeline.survivingPartsLong(spark, out, "warc_ts", Long.MinValue, Long.MaxValue)),
      "is null" -> (EncodePipeline.readDataPrunedIsNull(spark, out, "lang"),
        EncodePipeline.survivingPartsIsNull(spark, out, "lang")))
    pruned.foreach { case (name, (df, parts)) =>
      assert(blocks(df) === readDataOf(parts), name)
    }
    assert(blocks(pruned(1)._2._1) === blocks(EncodePipeline.readData(spark, out)))
    // a lookup decodes its url exactly once
    val hits = EncodePipeline.decode(EncodePipeline.readDataPruned(spark, out, "url", url),
      docs.schema).filter(col("url") === url)
    assert(hits.count() === 1L)
  }

  test("crash debris in a committed part directory never fails a read, and vacuum reclaims it") {
    val docs = WebDocGen.dataset(spark, 800, 4).toDF()
    val extra = WebDocGen.dataset(spark, 40, 2).toDF().withColumn("url", concat(col("url"), lit("#b")))
    // two identical tables, fragmented by a small append so compact rewrites
    def build(out: String): Unit = {
      EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64, bloomCols = Seq("url"))
      assert(EncodePipeline.appendCommit(extra, "url", out, partitions = 4, blockSize = 64,
        batchId = 1L))
    }
    val (clean, dirty) = (tmpDir(), tmpDir())
    build(clean)
    build(dirty)
    // the half-written file a crashed writer leaves: not parquet at all
    val debris = new java.io.File(s"$dirty/data/__part=0/part-00000-crash.snappy.parquet")
    java.nio.file.Files.write(debris.toPath, "not a parquet file".getBytes("UTF-8"))
    def blocks(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Int)] =
      df.select("__part", "__block", "__cnt").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    val url = docs.select("url").head().getString(0)
    val ts = WebDocGen.BaseMicros + 100L * WebDocGen.StepMicros
    def reads(out: String): Seq[Seq[(Int, Int, Int)]] = Seq(
      blocks(EncodePipeline.readData(spark, out)),
      blocks(EncodePipeline.readDataPruned(spark, out, "url", url)),
      blocks(EncodePipeline.readDataPruned(spark, out, "warc_ts", ts)),
      blocks(EncodePipeline.readDataAt(spark, out, 0)))
    assert(reads(dirty) === reads(clean))
    val compacted = EncodePipeline.compact(spark, clean, docs.schema, blockSize = 64)
    assert(compacted.contains(0))
    assert(EncodePipeline.compact(spark, dirty, docs.schema, blockSize = 64) === compacted)
    assert(reads(dirty) === reads(clean))
    assert(debris.exists())
    EncodePipeline.vacuum(spark, dirty)
    assert(!debris.exists())
    assert(blocks(EncodePipeline.readData(spark, dirty)) === blocks(EncodePipeline.readData(spark, clean)))
  }

  test("readDataAt a generation whose files vacuum reclaimed fails naming a missing file") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    assert(EncodePipeline.appendCommit(WebDocGen.dataset(spark, 40, 2).toDF()
      .withColumn("url", concat(col("url"), lit("#b"))), "url", out, partitions = 4,
      blockSize = 64, batchId = 1L))
    assert(EncodePipeline.compact(spark, out, docs.schema, blockSize = 64).nonEmpty)
    assert(EncodePipeline.vacuum(spark, out) > 0)
    // the scan opens exactly the recorded files, so it cannot skip one
    val e = intercept[Exception](EncodePipeline.readDataAt(spark, out, 0).count())
    val missing = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.isInstanceOf[java.io.FileNotFoundException] && t.getMessage.contains("data/__part="))
    assert(missing, e.toString)
    // the current generation still reads every row
    assert(EncodePipeline.decode(EncodePipeline.readData(spark, out), docs.schema).count() === 440L)
  }

  test("analyzeTable upgrades part-level rows; until then every read refuses") {
    // a directory whose first wave was committed by a pre-data_files /
    // pre-string-bounds version and whose second wave by the current one:
    // the old rows carry NO data_files / str bounds. Every read and
    // operation refuses it with one error naming the upgrade; analyzeTable
    // lists those parts' directories once and recomputes their rows.
    val docs = sf("documents").select(col("doc_id"), col("lang"), col("source"))
    val out = tmpDir()
    EncodePipeline.run(docs, "doc_id", out, partitions = 8, blockSize = 128, waves = 2,
      customPart = Some(pmod(xxhash64(col("lang")), lit(8)).cast("int")))
    val total = docs.count()
    val metaPath = java.nio.file.Paths.get(s"$out/meta")
    val metaAll = spark.read.parquet(metaPath.toString).cache()
    metaAll.count()
    val wave0Parts = metaAll.filter(col("wave") === 0)
      .select("__part").distinct().collect().map(_.getInt(0)).toSet
    assert(wave0Parts.nonEmpty && wave0Parts.size < 8)
    // rewrite the meta dir as mixed-era: wave-0 rows stripped of the newer
    // columns (what a pre-upgrade commit looks like), wave-1 rows untouched
    val mixed = tmpDir() + "/meta"
    metaAll.filter(col("wave") === 0).drop("data_files", "str_lo", "str_hi")
      .write.parquet(mixed)
    metaAll.filter(col("wave") === 1).write.mode("append").parquet(mixed)
    metaAll.unpersist()
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(metaPath)
    java.nio.file.Files.move(java.nio.file.Paths.get(mixed), metaPath)
    def refused(what: String)(body: => Any): Unit = withClue(s"$what: ") {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(m => m.contains("analyzeTable") && m.contains(out)), msgs)
    }
    refused("readData")(EncodePipeline.readData(spark, out))
    refused("format(graft)")(spark.read.format("graft").load(out).collect())
    refused("compact")(EncodePipeline.compact(spark, out, docs.schema))
    val g = EncodePipeline.analyzeTable(spark, out)
    assert(g === 1)
    // every committed row is back, bit-identical
    val decoded = EncodePipeline.decodeShared(spark, out, docs.schema)
    assert(decoded.count() === total)
    assert(EncodePipeline.verifyRoundTrip(docs, decoded, "doc_id").head().getLong(1) === 0L)
    // the recomputed string bounds prune: an absent probe opens no part
    val zz = "zz".getBytes("UTF-8")
    assert(EncodePipeline.survivingPartsStr(spark, out, "lang", zz, zz).isEmpty)
    assert(EncodePipeline.readDataPruned(spark, out, "lang", "zz").count() === 0L)
    // the wave-0 parts list their files, which hold their blocks, spelled
    // exactly as the writer spelled the wave-1 parts' files
    val files = EncodePipeline.manifestView(spark, out, None).files
    assert(wave0Parts.subsetOf(files.map(_._1).toSet))
    assert(files.forall { case (p, f) => f.contains(s"/data/__part=$p/") })
    val (listed, written) = files.partition(f => wave0Parts(f._1))
    def root(f: String) = f.substring(0, f.indexOf("/data/__part="))
    assert(written.nonEmpty && (listed ++ written).map(f => root(f._2)).toSet ===
      Set(root(written.head._2)))
    // the spelling input_file_name() gives a file Spark reads
    Seq(listed.head._2, written.head._2).foreach(f => assert(EncodePipeline
      .dataFiles(spark, out, Seq(f)).select(input_file_name()).head().getString(0) === f))
    // time travel below the upgrade lands on the part-level view
    refused("time travel")(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0).collect())
  }

  test("salted host partitioner splits hot hosts across partitions") {
    val docs = WebDocGen.dataset(spark, 4000, 4).toDF()
    val parts = docs.select(EncodePipeline.saltedHostPart("url", 16, 4).as("p"))
      .groupBy("p").count().collect().map(_.getLong(1))
    assert(parts.length > 8) // spread over most partitions
    assert(parts.max.toDouble / parts.sum < 0.5, s"one partition dominates: ${parts.toSeq}")
  }

  test("nulls round-trip bit-identically in every column kind (SURVEY §5 adversarial)") {
    // inject nulls: mixed-null long/double/string/binary/timestamp columns,
    // one all-null column, one null-free column
    val docs = WebDocGen.dataset(spark, 1500, 4).toDF()
      .withColumn("warc_ts", when(pmod(xxhash64(col("url")), lit(5)) === 0, lit(null)).otherwise(col("warc_ts")))
      .withColumn("text", when(pmod(xxhash64(col("url")), lit(7)) === 0, lit(null)).otherwise(col("text")))
      .withColumn("html", when(pmod(xxhash64(col("url")), lit(3)) === 0, lit(null)).otherwise(col("html")))
      .withColumn("score", when(pmod(xxhash64(col("url")), lit(2)) === 0, lit(null))
        .otherwise(pmod(xxhash64(col("url")), lit(1000)).cast("double") / 10.0))
      .withColumn("all_null", lit(null).cast("long"))
    val enc = EncodePipeline.encode(docs, "url", partitions = 4, blockSize = 256)
    val decoded = EncodePipeline.decode(enc, docs.schema)
    val summary = EncodePipeline.verifyRoundTrip(docs, decoded, "url").head()
    assert(summary.getLong(0) === 1500L)
    assert(summary.getLong(1) === 0L, "null round-trip mismatch")
    // nulls actually exist in the decoded output (the test isn't vacuous)
    val d = decoded.agg(
      sum(when(col("text").isNull, 1L).otherwise(0L)),
      sum(when(col("all_null").isNull, 1L).otherwise(0L))).head()
    assert(d.getLong(0) > 0)
    assert(d.getLong(1) === 1500L)
  }

  test("tableStats answers count/min/max/sum from the manifest alone, exactly") {
    val docs = WebDocGen.dataset(spark, 1200, 4).toDF()
      .withColumn("score", when(pmod(xxhash64(col("url")), lit(3)) === 0, lit(null))
        .otherwise(pmod(xxhash64(col("url")), lit(1000)).cast("long") - 200L))
      .withColumn("all_null", lit(null).cast("long"))
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 256)
    val st = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    val exp = docs.agg(
      count(lit(1)), count(col("score")), min(col("score")), max(col("score")),
      sum(col("score")), min(unix_micros(col("warc_ts"))), max(unix_micros(col("warc_ts")))).head()
    val n = exp.getLong(0)
    // long column with nulls: exact attained stats, null rows excluded
    val sc = st("score")
    assert(sc.getLong(1) === n && sc.getLong(2) === exp.getLong(1))
    assert(sc.getLong(3) === n - exp.getLong(1))
    assert(sc.getLong(4) === exp.getLong(2) && sc.getLong(5) === exp.getLong(3))
    assert(sc.getLong(6) === exp.getLong(4))
    // timestamp column: canonical micros domain
    val ts = st("warc_ts")
    assert(ts.getLong(4) === exp.getLong(5) && ts.getLong(5) === exp.getLong(6))
    assert(ts.getLong(3) === 0L)
    // all-null long column: counts only, no attained values
    val an = st("all_null")
    assert(an.getLong(2) === 0L && an.getLong(3) === n && an.isNullAt(4) && an.isNullAt(6))
    // string column: counts, no min/max (manifest bounds are truncated)
    val tx = st("text")
    assert(tx.getLong(2) === n && tx.isNullAt(4))
    // live merge-on-read delete vectors must refuse rather than serve stale stats
    EncodePipeline.deleteWhereLazy(spark, out, docs.schema, col("score") === 0L)
    val ex = intercept[IllegalStateException] {
      EncodePipeline.tableStats(spark, out, docs.schema)
    }
    assert(ex.getMessage.contains("delete vectors"))
    // materializing the deletes restores scan-free stats, now reflecting them
    EncodePipeline.materializeDeletes(spark, out, docs.schema, "url")
    val st2 = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    val zeroes = docs.filter(col("score") === 0L).count()
    assert(st2("score").getLong(2) === exp.getLong(1) - zeroes)
  }

  test("manifest NDV sketches: exact for enumerable columns, ~3% above K, poisoned for text") {
    val docs = WebDocGen.dataset(spark, 3000, 4).toDF()
      .withColumn("score", pmod(xxhash64(col("url")), lit(37)).cast("long")) // 37 distinct
      .withColumn("id", xxhash64(col("url"))) // ~3000 distinct, saturates K=1024
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 256)
    val st = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    def ndv(c: String): (Long, Boolean) = (st(c).getLong(7), st(c).getBoolean(8))
    // low-cardinality long and dict-coded string: EXACT
    val expScore = docs.select(countDistinct(col("score"))).head().getLong(0)
    assert(ndv("score") === ((expScore, true)))
    val expLang = docs.select(countDistinct(col("lang"))).head().getLong(0)
    assert(ndv("lang") === ((expLang, true)))
    // saturated long column: KMV estimate within 10% of truth, flagged inexact
    val expId = docs.select(countDistinct(col("id"))).head().getLong(0)
    val (estId, exactId) = ndv("id")
    assert(!exactId)
    assert(math.abs(estId - expId).toDouble / expId < 0.10, s"id ndv est $estId vs $expId")
    // FSST/raw text blocks are unenumerable → NDV unknown (null), never a guess
    assert(st("text").isNullAt(7) && st("text").isNullAt(8))
    // appends keep sketches mergeable: NDV reflects the union after a commit
    val more = WebDocGen.dataset(spark, 3000, 4).toDF()
      .withColumn("score", pmod(xxhash64(col("url")), lit(37)).cast("long") + 100L)
      .withColumn("id", xxhash64(col("url")) + 1L)
    EncodePipeline.appendCommit(more, "url", out, 4, 256)
    val st2 = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(st2("score").getLong(7) === 2 * expScore && st2("score").getBoolean(8))
  }

  test("analyzeTable upgrades pre-stats-era manifests metadata-only") {
    val docs = WebDocGen.dataset(spark, 1500, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 256)
    EncodePipeline.appendCommit(docs.limit(300), "url", out, 4, 256, batchId = 7L)
    // simulate a table committed before the stats/NDV era: strip the newer
    // manifest columns, as the mixed-era tests do
    val metaPath = java.nio.file.Paths.get(s"$out/meta")
    val stripped = spark.read.option("mergeSchema", "true").parquet(metaPath.toString)
      .drop("null_value_count", "value_min", "value_max", "value_sum",
        "value_count", "ndv_sketch")
      .cache()
    stripped.count()
    val tmp = tmpDir() + "/meta"
    stripped.write.parquet(tmp)
    stripped.unpersist()
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(metaPath)
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), metaPath)
    // pre-era refusal: stats would have to guess
    intercept[IllegalStateException] {
      EncodePipeline.tableStats(spark, out, docs.schema).collect()
    }
    // ANALYZE: one metadata-only replacing generation; data bytes untouched
    val filesBefore = EncodePipeline.currentFiles(spark, out).toSet
    val gen = EncodePipeline.analyzeTable(spark, out)
    assert(EncodePipeline.currentFiles(spark, out).toSet === filesBefore)
    val snaps = EncodePipeline.snapshots(spark, out).collect()
    assert(snaps.last.getInt(0) === gen && snaps.last.getString(1) === "analyze")
    // stats now serve, exactly — incl. the 300-row append fold-in and NDV
    val st = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(st("url").getLong(1) === 1800L)
    val expTs = docs.unionAll(docs.limit(300)).agg(
      min(unix_micros(col("warc_ts"))), max(unix_micros(col("warc_ts")))).head()
    assert(st("warc_ts").getLong(4) === expTs.getLong(0))
    assert(st("warc_ts").getLong(5) === expTs.getLong(1))
    val expLang = docs.select(countDistinct(col("lang"))).head().getLong(0)
    assert(st("lang").getLong(7) === expLang && st("lang").getBoolean(8))
    assert(st("text").isNullAt(7)) // FSST text: still honestly unknown
    // reads unbroken, round-trip bit-identical; travel below the analyze
    // generation still resolves (the old rows remain beneath it)
    val decoded = EncodePipeline.decode(EncodePipeline.readData(spark, out), docs.schema)
    assert(decoded.count() === 1800L)
    assert(EncodePipeline.readDataAt(spark, out, gen - 1).count() > 0)
  }

  test("rewriteManifests: one-file manifest, identical history, instants kept") {
    val docs = WebDocGen.dataset(spark, 1200, 4).toDF()
    val h = pmod(xxhash64(col("url")), lit(4))
    val out = tmpDir()
    EncodePipeline.run(docs.filter(h < 2), "url", out, partitions = 4, blockSize = 256)
    assert(EncodePipeline.appendCommit(docs.filter(h === 2), "url", out, 4, 256, batchId = 1L))
    assert(EncodePipeline.appendCommit(docs.filter(h === 3), "url", out, 4, 256, batchId = 2L))
    val nDel = EncodePipeline.deleteWhereLazy(spark, out, docs.schema, col("lang") === "de")
    assert(nDel > 0)
    EncodePipeline.createTag(spark, out, "pre_rw")
    def state() = {
      val cur = EncodePipeline.decodeShared(spark, out, docs.schema)
        .agg(count(lit(1)), sum(length(col("text")))).head()
      val snaps = EncodePipeline.snapshots(spark, out).collect().map(_.toString).toSeq
      val times = EncodePipeline.commitTimes(spark, out)
      val tt = EncodePipeline.readDataAt(spark, out, 1).count()
      val cdc = EncodePipeline.readChangesBetween(spark, out, docs.schema, 0, 3)
        .groupBy(col("_change_type")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (cur, snaps, times, tt, cdc)
    }
    val before = state()
    val metaDir = new java.io.File(s"$out/meta")
    def nManifests = metaDir.listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = nManifests
    assert(filesBefore > 1)
    val removed = EncodePipeline.rewriteManifests(spark, out)
    assert(removed === filesBefore - 1)
    assert(nManifests === 1)
    assert(state() === before) // rows, history, instants, travel, CDC: identical
    // replay detection survives: the batch-tagged rows are verbatim
    assert(!EncodePipeline.appendCommit(docs.filter(h === 2), "url", out, 4, 256, batchId = 1L))
    // idempotent: already compact
    assert(EncodePipeline.rewriteManifests(spark, out) === 0)
    // a post-rewrite commit appends its own file and derives its instant
    // from that file's mtime, while pre-rewrite instants stay persisted
    val n2 = EncodePipeline.deleteWhereLazy(spark, out, docs.schema, col("lang") === "fr")
    assert(n2 > 0)
    val times2 = EncodePipeline.commitTimes(spark, out)
    assert(before._3.forall { case (g, t) => times2(g) == t })
    assert(times2.keys.max > before._3.keys.max)
    // and a second rewrite folds the new commit in without losing anything
    assert(EncodePipeline.rewriteManifests(spark, out) === 1)
    assert(EncodePipeline.commitTimes(spark, out) === times2)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count()
      === before._1.getLong(0) - n2)
    // tagged reads still resolve post-rewrite
    assert(EncodePipeline.readTags(spark, out).contains("pre_rw"))
  }

  test("part-level value_sum overflow: stats decline, min/max/count stay exact") {
    // ~5000 rows/part of ~2e15 values: each 4096-block sum fits a long
    // (8.2e18) but the per-part total (1e19) overflows — the exact case a
    // 10^12-row table of timestamp micros hits on every part
    val docs = WebDocGen.dataset(spark, 10000, 4).toDF()
      .withColumn("big", lit(2000000000000000L) + pmod(xxhash64(col("url")), lit(1000L)))
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 4096)
    val exp = docs.agg(min(col("big")), max(col("big"))).head()
    val st = EncodePipeline.tableStats(spark, out, docs.schema)
      .collect().map(r => r.getString(0) -> r).toMap
    val bg = st("big")
    assert(bg.isNullAt(6), "overflowed sum must read unknown (null), not wrapped")
    assert(bg.getLong(1) === 10000L && bg.getLong(2) === 10000L)
    assert(bg.getLong(4) === exp.getLong(0) && bg.getLong(5) === exp.getLong(1))
    // V2 aggregate pushdown: min/max/count still answer from the manifest...
    import org.apache.spark.sql.execution.LocalTableScanExec
    val ok = spark.read.format("graft").load(out)
      .agg(min(col("big")).as("mn"), max(col("big")).as("mx"), count(lit(1)).as("n"))
    assert(ok.queryExecution.executedPlan.collectFirst {
      case l: LocalTableScanExec => l }.nonEmpty)
    assert(ok.head().getLong(0) === exp.getLong(0))
    // ...but SUM declines to a real scan (which reproduces Spark's own ANSI
    // overflow semantics) instead of serving a wrapped manifest number
    val sq = spark.read.format("graft").load(out).agg(sum(col("big")))
    assert(sq.queryExecution.executedPlan.collectFirst {
      case l: LocalTableScanExec => l }.isEmpty, "overflowed SUM must not serve from the manifest")
  }

  test("generic encode handles the TPC-H events table (ts, doubles, strings)") {
    val events = sf("events")
    val enc = EncodePipeline.encode(events, "event_id", partitions = 4, blockSize = 512)
    val decoded = EncodePipeline.decode(enc, events.schema)
    val summary = EncodePipeline.verifyRoundTrip(events, decoded, "event_id").head()
    assert(summary.getLong(1) === 0L)
  }

  test("bloom columns: point lookups skip blocks; appends inherit the convention") {
    // fp is hash-scattered relative to the url placement AND the url block
    // sort: every part's [value_lo, value_hi] spans the whole long domain, so
    // zone maps prune NOTHING for it — the needle-in-haystack shape blooms fix
    val docs = WebDocGen.dataset(spark, 1500, 4).toDF()
      .select(col("url"), col("lang"), xxhash64(col("url")).as("fp"))
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      bloomCols = Seq("fp", "url"))
    // a bloom column that names no column is rejected before anything lands
    val rejected = tmpDir()
    intercept[IllegalArgumentException] {
      EncodePipeline.run(docs, "url", rejected, partitions = 4, bloomCols = Seq("nope"))
    }
    assert(new java.io.File(rejected).list().isEmpty)
    val target = docs.select("fp").head().getLong(0)
    val totalBlocks = EncodePipeline.readData(spark, out).count()
    val pruned = EncodePipeline.readDataPruned(spark, out, "fp", target)
    val kept = pruned.count()
    assert(kept < totalBlocks / 4, s"bloom kept $kept of $totalBlocks blocks")
    // soundness: the surviving blocks still hold the matching row
    assert(EncodePipeline.decode(pruned, docs.schema)
      .filter(col("fp") === target).count() === 1L)
    // an absent value keeps only false-positive blocks (≈none); zone maps
    // cannot have done it — the xxhash64 domain makes every part admit it
    assert(EncodePipeline.readDataPruned(spark, out, "fp", 12345L)
      .count() <= totalBlocks / 4)
    // string blooms through the byte-hash path: url probe skips blocks too
    val u = docs.select("url").head().getString(0)
    val prunedS = EncodePipeline.readDataPruned(spark, out, "url", u)
    assert(prunedS.count() < totalBlocks / 4)
    assert(EncodePipeline.decode(prunedS, docs.schema)
      .filter(col("url") === u).count() === docs.filter(col("url") === u).count())
    // appends inherit: new files carry filters, lookups stay exact across eras
    import spark.implicits._
    val extra = spark.range(1500, 1550).map(i => WebDocGen.make(i)).toDF()
      .select(col("url"), col("lang"), xxhash64(col("url")).as("fp"))
    assert(EncodePipeline.appendCommit(extra, "url", out, 4, 128, batchId = 7L))
    val t2 = extra.select("fp").head().getLong(0)
    val afterAppend = EncodePipeline.readDataPruned(spark, out, "fp", t2)
    assert(EncodePipeline.decode(afterAppend, docs.schema)
      .filter(col("fp") === t2).count() === 1L)
    assert(afterAppend.count() < EncodePipeline.readData(spark, out).count() / 4)
  }

  test("readDataPruned drops the parts whose files' Bloom filters reject the probe") {
    val docs = WebDocGen.dataset(spark, 1600, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128, bloomCols = Seq("url"))
    assert(EncodePipeline.allParts(spark, out).length === 8)
    // an absent url: the url zone maps keep parts, the files' filters keep none
    val u = docs.select("url").head().getString(0)
    val absent = u + "/absent"
    assert(docs.filter(col("url") === absent).isEmpty)
    val ab = absent.getBytes("UTF-8")
    assert(EncodePipeline.survivingPartsStr(spark, out, "url", ab, ab).nonEmpty)
    val (rows, _, tasks) = graft.Jobs.work(spark)(
      EncodePipeline.readDataPruned(spark, out, "url", absent).collect())
    assert(rows.isEmpty && tasks === 0, s"$tasks tasks")
    // a present url decodes the rows it names, from fewer parts
    val hit = EncodePipeline.readDataPruned(spark, out, "url", u)
    assert(hit.select("__part").distinct().count() < 8L)
    def ofUrl(df: org.apache.spark.sql.DataFrame) = df.filter(col("url") === u)
      .select(col("url"), col("warc_ts"), col("text"), col("lang"), md5(col("html")))
      .collect().map(_.toString).toSeq
    assert(ofUrl(EncodePipeline.decode(hit, docs.schema)) === ofUrl(docs))
  }

  test("with a 1-byte metadata cache budget readData and readDataPruned return the same blocks") {
    val docs = WebDocGen.dataset(spark, 600, 4).toDF()
    val out = tmpDir()
    val u = docs.select("url").head().getString(0)
    def blocks(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Int)] =
      df.select("__part", "__block", "__cnt").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq.sorted
    def reads() = (blocks(EncodePipeline.readData(spark, out)),
      blocks(EncodePipeline.readDataPruned(spark, out, "url", u)))
    def entries() = EncodePipeline.currentFiles(spark, out).map(f => EncodePipeline.footerKey(f._2))
    val saved = EncodePipeline.metaCacheBudget
    EncodePipeline.metaCacheBudget = 1L
    val uncached = try {
      EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64, bloomCols = Seq("url"))
      val r = reads()
      entries().foreach(k => assert(!EncodePipeline.dirCached(k), k))
      r
    } finally EncodePipeline.metaCacheBudget = saved
    assert(uncached._2.nonEmpty && uncached._2.size < uncached._1.size)
    assert(reads() === uncached)
    entries().foreach(k => assert(EncodePipeline.dirCached(k), k))
  }

  test("double columns: alp picked for decimal scores, tzfor for float upcasts, bit-exact") {
    // decimal quality scores (3 places) and float-upcast similarity values —
    // the two shapes the float-in-long codecs target; id stays delta/for
    val df = spark.range(0, 5000)
      .select(col("id"),
        (floor(rand(7) * 1000) / 1000.0).as("score"),
        rand(11).cast("float").cast("double").as("sim"))
      .cache()
    val out = tmpDir()
    EncodePipeline.run(df.toDF(), "id", out, partitions = 4, blockSize = 1024)
    val back = EncodePipeline.decodeShared(spark, out, df.schema)
    assert(back.count() === 5000L)
    val joined = df.join(back.withColumnsRenamed(Map("score" -> "s2", "sim" -> "m2")), "id")
    assert(joined.filter(double_bits(col("score")) =!= double_bits(col("s2")) ||
      double_bits(col("sim")) =!= double_bits(col("m2"))).count() === 0L)
    val codecs = spark.read.parquet(s"$out/meta")
      .select(col("column"), explode(col("codecs")).as("c"))
      .groupBy(col("column")).agg(collect_set(col("c")).as("cs"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    assert(codecs("score").contains("alp"), s"score codecs: ${codecs("score")}")
    assert(codecs("sim").contains("tzfor"), s"sim codecs: ${codecs("sim")}")
    // the V2 connector's vectorized batches decode the new codecs too
    val v2 = spark.read.format("graft").load(out)
    val j2 = df.join(v2.withColumnsRenamed(Map("score" -> "s2", "sim" -> "m2")), "id")
    assert(j2.filter(double_bits(col("score")) =!= double_bits(col("s2")) ||
      double_bits(col("sim")) =!= double_bits(col("m2"))).count() === 0L)
  }
}
