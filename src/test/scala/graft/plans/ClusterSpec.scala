package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.{zorder_key, ZOrderKey}
import graft.sources.{ReaderDiag, WebDocGen}

/** Sort-order maintenance ([[EncodePipeline.rewriteSorted]]) and the
  * z-order clustering key: re-clustering a table gives scattered columns
  * zone-map locality — the same pushed range probe decodes a fraction of
  * the blocks it needed before — while the content stays bit-identical. */
class ClusterSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_cluster").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Array[String] =
    df.select(col("url"), col("warc_ts"), col("text"), col("lang"),
        md5(col("html")).as("h"))
      .collect().map(_.mkString("|")).sorted

  test("zorder_key: monotone per axis within bounds, null sorts first") {
    val los = Array(-100L, -100L)
    val his = Array(100L, 100L)
    def z(a: Long, b: Long) = ZOrderKey.interleave(Array(a, b), los, his)
    val fixed = 37L
    val axis = Seq(-100L, -5L, -1L, 0L, 1L, 5L, 100L)
    axis.sliding(2).foreach { pair =>
      val (a, b) = (pair.head, pair.last)
      assert(z(a, fixed) < z(b, fixed), s"x-axis order broken at ($a,$b)")
      assert(z(fixed, a) < z(fixed, b), s"y-axis order broken at ($a,$b)")
    }
    // out-of-bounds values clamp to the edges
    assert(z(-100000L, fixed) === z(-100L, fixed))
    assert(z(100000L, fixed) === z(100L, fixed))
    // full-domain bounds survive (no (v - lo) overflow)
    val full = ZOrderKey.interleave(Array(0L, 0L),
      Array(Long.MinValue, Long.MinValue), Array(Long.MaxValue, Long.MaxValue))
    val fullHi = ZOrderKey.interleave(Array(Long.MaxValue, 0L),
      Array(Long.MinValue, Long.MinValue), Array(Long.MaxValue, Long.MaxValue))
    assert(full < fullHi)
    // expression: null child clusters below every in-range value
    import spark.implicits._
    val r = Seq((Some(5L), 9L), (None, 9L)).toDF("a", "b")
      .select(zorder_key(Seq(col("a"), col("b")), Seq(-100L, -100L),
        Seq(100L, 100L)).as("z"))
      .collect().map(_.getLong(0))
    assert(r(1) < r(0))
  }

  test("rewriteSorted re-clusters: scattered-column range probes skip blocks") {
    val n = 2048
    // keyed and key-sorted by id; sid is a pseudorandom permutation, so
    // pre-rewrite every block spans the whole sid domain
    val d = spark.range(n).select(
      col("id"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("sid"),
      concat(lit("t"), col("id")).as("tag"))
    val out = tmpDir() + "/t"
    EncodePipeline.run(d.toDF(), "id", out, partitions = 4, blockSize = 64)
    val probe = col("sid") >= 900000L
    val expectN = d.filter(probe).count()
    val expectSum = d.filter(probe).agg(sum(col("id"))).head().getLong(0)
    def probeBlocks(): (Long, Long, Long) = {
      ReaderDiag.blocksDecoded.set(0)
      val r = spark.read.format("graft").load(out).filter(probe)
        .agg(count(lit(1)), sum(col("id"))).head()
      (r.getLong(0), r.getLong(1), ReaderDiag.blocksDecoded.get())
    }
    val (n0, s0, pre) = probeBlocks()
    assert(n0 === expectN); assert(s0 === expectSum)
    val parts = EncodePipeline.rewriteSorted(spark, out, d.schema, "id",
      Seq(col("sid")), blockSize = 64)
    assert(parts.nonEmpty)
    val (n1, s1, post) = probeBlocks()
    assert(n1 === expectN); assert(s1 === expectSum)
    assert(post * 2 < pre, s"clustering did not prune: $post vs $pre")
    // full content identical after the rewrite
    val dec = EncodePipeline.decodeShared(spark, out, d.schema)
    assert(dec.count() === n.toLong)
    assert(dec.agg(sum(col("sid"))).head().getLong(0) ===
      d.agg(sum(col("sid"))).head().getLong(0))
    // vacuum reclaims the superseded unsorted files
    assert(EncodePipeline.vacuum(spark, out) > 0)
    assert(probeBlocks()._1 === expectN)
  }

  test("rewriteSorted keeps Bloom filters and skips tombstoned/empty tables") {
    val n = 1024
    val d = spark.range(n).select(col("id"),
      pmod(col("id") * 2654435761L, lit(1000003L)).as("sid")).toDF()
    val out = tmpDir() + "/t"
    EncodePipeline.run(d, "id", out, partitions = 4, blockSize = 64,
      bloomCols = Seq("sid"))
    assert(spark.read.parquet(s"$out/data").columns.contains("bm_sid"))
    assert(EncodePipeline.rewriteSorted(spark, out, d.schema, "id",
      Seq(col("sid")), blockSize = 64).nonEmpty)
    // the clustering rewrite INHERITS the bloom convention (appendCommit's
    // rule) — every current file carries a non-null rebuilt filter
    val cur = EncodePipeline.readData(spark, out)
    assert(cur.columns.contains("bm_sid"))
    assert(cur.filter(col("bm_sid").isNull).count() === 0L)
    assert(EncodePipeline.decodeShared(spark, out, d.schema).count() === n.toLong)
    // a fully-tombstoned table re-clusters to a no-op, not a crash
    val out2 = tmpDir() + "/t2"
    EncodePipeline.run(d, "id", out2, partitions = 4, blockSize = 64)
    assert(EncodePipeline.deleteWhere(spark, out2, d.schema, "id",
      lit(true), blockSize = 64) === n.toLong)
    assert(EncodePipeline.rewriteSorted(spark, out2, d.schema, "id",
      Seq(col("sid")), blockSize = 64) === Nil)
  }

  test("z-order rewrite: BOTH interleaved columns prune; webdoc content survives") {
    // top-quarter probes cut the z-space at prefix depth 2, so the second
    // dimension fragments into only 2^2 curve intervals per part — blocks
    // must be fine enough that the skippable space forms whole blocks
    val docs = WebDocGen.dataset(spark, 3200, 4).toDF()
      .withColumn("a", pmod(xxhash64(col("url")), lit(100000L)))
      .withColumn("b", pmod(xxhash64(col("text")), lit(100000L)))
    val out = tmpDir() + "/t"
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 16)
    def blocksFor(p: org.apache.spark.sql.Column): Long = {
      ReaderDiag.blocksDecoded.set(0)
      spark.read.format("graft").load(out).filter(p).count()
      ReaderDiag.blocksDecoded.get()
    }
    val pa = col("a") >= 75000L
    val pb = col("b") >= 75000L
    val preA = blocksFor(pa); val preB = blocksFor(pb)
    assert(EncodePipeline.rewriteZOrdered(spark, out, docs.schema, "url",
      Seq("a", "b"), blockSize = 16).nonEmpty)
    val postA = blocksFor(pa); val postB = blocksFor(pb)
    assert(postA * 2 < preA, s"z-order did not prune on a: $postA vs $preA")
    assert(postB * 2 < preB, s"z-order did not prune on b: $postB vs $preB")
    assert(sortedRows(EncodePipeline.decodeShared(spark, out, docs.schema)) ===
      sortedRows(docs))
  }
}
