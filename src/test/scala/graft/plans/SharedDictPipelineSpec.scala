package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** Per-partition shared dictionaries through the full table pipeline:
  * pre-pass dictionary build → manifest side-structure (`dicts/`) → shared
  * blobs in the data files → broadcast-resolved decode → bit-identical
  * round trip; plus ratio improvement, cap fallback, and mixed-era reads.
  * The exercised column is host-shaped (hundreds of ~20-byte values) — the
  * case the codec exists for; tiny dictionaries (lang) correctly keep the
  * smaller inline form via the per-block size competition. */
class SharedDictPipelineSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_sdict").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  // WebDoc table + a derived host column (the url's authority)
  private def docsWithHost(n: Int) =
    WebDocGen.dataset(spark, n, 4).toDF()
      .withColumn("host", regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1))

  test("shared-dict run round-trips bit-identically and shrinks the host column") {
    val docs = docsWithHost(3000)
    val plain = tmpDir(); val shared = tmpDir()
    EncodePipeline.run(docs, "url", plain, partitions = 8, blockSize = 128,
      useHostPartitioner = true)
    EncodePipeline.run(docs, "url", shared, partitions = 8, blockSize = 128,
      useHostPartitioner = true, sharedDictCols = Seq("host", "lang"))

    // the side-structure exists and is content-deduped
    val dicts = spark.read.parquet(s"$shared/dicts")
    assert(dicts.count() >= 1)
    assert(dicts.select("dict_id").distinct().count() === dicts.count())

    // shared blobs actually appear in the host column's data
    val codecs = EncodePipeline.readData(spark, shared)
      .select(graft.functions.blob_codec(col("e_host")).as("c"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(codecs.exists(_.startsWith("shared")), codecs.toString)

    // decode resolves via the broadcast dictionaries — bit-identical
    val decoded = EncodePipeline.decodeShared(spark, shared, docs.schema)
    val summary = EncodePipeline.verifyRoundTrip(docs, decoded, "url").head()
    assert(summary.getLong(0) === 3000L)
    assert(summary.getLong(1) === 0L)

    // the host column got smaller than the inline encoding of the same
    // data (the dictionary no longer repeats per block)
    def colBytes(dir: String, c: String): Long =
      spark.read.option("mergeSchema", "true").parquet(s"$dir/meta")
        .filter(col("column") === c)
        .agg(sum(col("encoded_bytes"))).head().getLong(0)
    val sharedB = colBytes(shared, "host"); val plainB = colBytes(plain, "host")
    assert(sharedB < plainB, s"shared=$sharedB plain=$plainB")
    // and lang (tiny dictionary) never got bigger: competition keeps inline
    assert(colBytes(shared, "lang") <= colBytes(plain, "lang"))
  }

  test("manifest string zone maps and encoded-domain kernels work on shared blobs") {
    val docs = docsWithHost(2000)
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 8, blockSize = 128,
      useHostPartitioner = true, sharedDictCols = Seq("host"))
    // metadata bounds on the shared column came from shared-blob headers
    // (header-only — no resolution in the metadata job) and admit pruning
    val meta = spark.read.parquet(s"$out/meta").filter(col("column") === "host")
    assert(meta.filter(col("str_lo").isNull).count() === 0L)
    // kernels straight off the encoded blobs (registry warmed by run())
    val probe = docs.groupBy("host").count().orderBy(desc("count")).head()
    val topHost = probe.getString(0); val topCnt = probe.getLong(1)
    val enc = EncodePipeline.readData(spark, out)
    val nEq = enc.agg(sum(graft.functions.blob_count_eq(col("e_host"), lit(topHost))))
      .head().getLong(0)
    assert(nEq === topCnt)
    // range kernel over the host domain
    val lo = "www.host1"; val hi = "www.host3"
    val nRange = enc.agg(sum(graft.functions.blob_count_between_str(
      col("e_host"), lit(lo), lit(hi)))).head().getLong(0)
    val expectRange = docs.filter(col("host") >= lo && col("host") <= hi).count()
    assert(nRange === expectRange)
  }

  test("over-cap columns fall back inline; tables without dicts/ decode via decodeShared") {
    val docs = docsWithHost(1000)
    val out = tmpDir()
    // cap of 2 < the hosts per partition → every (part, host) pair is
    // ineligible → no dicts side-structure at all
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      sharedDictCols = Seq("host"), sharedMaxNdv = 2)
    assert(!new java.io.File(s"$out/dicts").exists())
    val codecs = EncodePipeline.readData(spark, out)
      .select(graft.functions.blob_codec(col("e_host")).as("c"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(!codecs.exists(_.startsWith("shared")), codecs.toString)
    // decodeShared degrades gracefully to plain decode
    val decoded = EncodePipeline.decodeShared(spark, out, docs.schema)
    val summary = EncodePipeline.verifyRoundTrip(docs, decoded, "url").head()
    assert(summary.getLong(1) === 0L)
  }

  test("an unreadable dicts/ fails decode, time travel, a stream and DML; no dicts/ still reads") {
    val docs = docsWithHost(600)
    val plain = tmpDir()
    EncodePipeline.run(docs, "url", plain, partitions = 4, blockSize = 128)
    assert(!new java.io.File(s"$plain/dicts").exists())
    assert(EncodePipeline.decodeShared(spark, plain, docs.schema).count() === 600L)

    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      useHostPartitioner = true, sharedDictCols = Seq("host"))
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 600L)
    java.nio.file.Files.write(new java.io.File(s"$out/dicts", "part-99999-garbage.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    def failsOnGarbage(name: String)(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("garbage")), s"$name: $e")
    }
    failsOnGarbage("decodeShared")(EncodePipeline.decodeShared(spark, out, docs.schema).count())
    failsOnGarbage("decodeSharedAt")(
      EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0).count())
    failsOnGarbage("deleteWhere")(
      EncodePipeline.deleteWhere(spark, out, docs.schema, "url", col("url") === "absent"))
    val q = spark.readStream.format("graft").load(out).select("url")
      .writeStream.format("memory").queryName("graft_garbage_dicts").outputMode("append").start()
    try failsOnGarbage("readStream")(q.processAllAvailable())
    finally q.stop()
  }

  test("with a 1-byte metadata cache budget a shared-dictionary table decodes bit-identically") {
    val docs = docsWithHost(1500)
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 128,
      useHostPartitioner = true, sharedDictCols = Seq("host"))
    val codecs = EncodePipeline.readData(spark, out)
      .select(graft.functions.blob_codec(col("e_host"))).distinct().collect().map(_.getString(0))
    assert(codecs.exists(_.startsWith("shared")), codecs.toSeq)
    val saved = EncodePipeline.metaCacheBudget
    EncodePipeline.metaCacheBudget = 1L
    try {
      val s = EncodePipeline.verifyRoundTrip(docs,
        EncodePipeline.decodeShared(spark, out, docs.schema), "url").head()
      assert(s.getLong(0) === 1500L && s.getLong(1) === 0L)
      assert(!EncodePipeline.dirCached(s"$out/dicts"))
    } finally EncodePipeline.metaCacheBudget = saved
  }
}
