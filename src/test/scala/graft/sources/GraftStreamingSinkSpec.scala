package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkTestBase
import graft.plans.EncodePipeline

/** `writeStream.format("graft")` — the native V2 streaming sink: fresh-table
  * creation with law placement, per-epoch atomic commits, exactly-once
  * replay, Append-only output mode. */
class GraftStreamingSinkSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_ssink").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("streaming sink creates a law-placed table and appends epochs exactly-once") {
    val in = tmpDir()
    val out = tmpDir() + "/t"
    val ckpt = tmpDir()
    val batch1 = WebDocGen.dataset(spark, 300, 2).toDF()
    batch1.write.mode("append").parquet(in)
    val schema = batch1.schema

    val q = spark.readStream.schema(schema).parquet(in)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append())
      .start(out)
    q.processAllAvailable()

    // land a second batch while the query is live
    import spark.implicits._
    val batch2 = spark.range(300, 500).map(i => WebDocGen.make(i)).toDF()
    batch2.write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()

    // the stream CREATED the table: schema.json + placement spec persisted
    // before the first data file, so even batch 0's rows are law-placed
    val spec = EncodePipeline.readPartSpec(spark, out)
    assert(spec.exists(s => s.kind == "hash" && s.key == "url"))
    val parts = new java.io.File(s"$out/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("__part=")).map(_.getName)
    assert(parts.length > 1, s"law placement spread parts, got ${parts.toSeq}")

    // the streamed table reads back bit-identically through the connector
    val all = WebDocGen.dataset(spark, 500, 2).toDF()
    val back = spark.read.format("graft").load(out)
    assert(back.count() === 500L)
    assert(EncodePipeline.verifyRoundTrip(all, back, "url").head().getLong(1) === 0L)

    // every non-empty epoch is one tracked batch (the file source may split
    // the available files across micro-batches), every row file-tracked
    val meta = spark.read.option("mergeSchema", "true").parquet(s"$out/meta")
    assert(meta.select("batch_id").distinct().count() >= 2L)
    assert(meta.filter(col("data_files").isNull).count() === 0L)

    // REPLAY: re-committing an already-committed epoch must drop the
    // duplicate files and leave the table unchanged (the contract the
    // restarted-micro-batch path relies on)
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def queryId(): String = "replay-test"
      override def schema(): StructType = batch1.schema
      override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    }
    val dup = new java.io.File(s"$out/data/${parts.head}/delta-replay-dup.parquet")
    java.nio.file.Files.write(dup.toPath, Array[Byte](1, 2, 3))
    new GraftStreamingWrite(out, batch1.schema, info)
      .commit(1L, Array(GraftDeltaMessage(
        Seq(graft.plans.Manifest.FileStats(dup.getAbsolutePath, 0, Nil)), Nil)))
    assert(!dup.exists(), "replayed epoch must delete its duplicate files")
    assert(spark.read.format("graft").load(out).count() === 500L)

    // streamed epochs are small commits: maintenance folds them and the
    // content survives
    EncodePipeline.compactSmallFiles(spark, out, schema, blockSize = 512)
    val after = spark.read.format("graft").load(out)
    assert(EncodePipeline.verifyRoundTrip(all, after, "url").head().getLong(1) === 0L)
  }

  test("streaming sink appends to an existing batch table under its placement law") {
    val out = tmpDir() + "/t"
    val d = WebDocGen.dataset(spark, 400, 2).toDF()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 64)

    val in = tmpDir()
    import spark.implicits._
    val more = spark.range(400, 520).map(i => WebDocGen.make(i)).toDF()
    more.write.mode("append").parquet(in)
    val q = spark.readStream.schema(d.schema).parquet(in)
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir())
      .start(out)
    q.processAllAvailable()
    q.stop()

    val all = WebDocGen.dataset(spark, 520, 2).toDF()
    val back = spark.read.format("graft").load(out)
    assert(back.count() === 520L)
    assert(EncodePipeline.verifyRoundTrip(all, back, "url").head().getLong(1) === 0L)
    // the batch table's pre-existing law governed placement (partitions = 4
    // from run(), not the session shuffle partitions)
    assert(EncodePipeline.readPartSpec(spark, out).exists(_.partitions == 4))
  }

  test("streaming sink refuses Complete output mode") {
    val in = tmpDir()
    val d = WebDocGen.dataset(spark, 50, 2).toDF()
    d.write.mode("append").parquet(in)
    val q = spark.readStream.schema(d.schema).parquet(in)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir())
      .outputMode(OutputMode.Complete())
      .start(tmpDir() + "/t")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("Append output mode only") ||
      Option(e.getCause).exists(_.getMessage.contains("Append output mode only")))
  }
}
