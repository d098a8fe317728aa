package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.plans.EncodePipeline

/** Streaming ingestion for the encode pipeline: new files landing in a
  * directory are encoded micro-batch by micro-batch into the same
  * data + metadata layout as the batch pipeline.
  *
  * The reference is batch-only (no runtime at all); this is the engine's
  * continuous-ingestion surface. Exactly-once story (r5): each micro-batch
  * lands through [[EncodePipeline.appendCommit]] — new data files appended
  * into the SAME tracked layout batch writes use, one manifest append
  * recording exactly this batch's files under `wave = batchId`, and a
  * replayed micro-batch (same id, the foreachBatch at-least-once contract)
  * is detected in the manifest and skipped. A crash between the data write
  * and the manifest commit leaves only invisible orphans (vacuum reclaims
  * them). Streamed tables are thus first-class: readable by readData /
  * decodeShared, manifest-prunable, and compactable by
  * EncodePipeline.compact once batches fragment the parts.
  */
object StreamingEncode {

  /** start encoding `inDir` (parquet files with `schema`) into `outDir`.
    * `compactEvery` > 0 runs the maintenance pair (compact to
    * `compactBlockSize`, then vacuum) after every N committed batches —
    * safe here because foreachBatch serializes with the appends, honoring
    * the single-maintenance-writer contract. Maintenance is best-effort:
    * a failure logs and leaves the (always-consistent) table to the next
    * cycle rather than failing the query. */
  def start(spark: SparkSession, inDir: String, outDir: String,
            schema: org.apache.spark.sql.types.StructType, key: String,
            partitions: Int, blockSize: Int = EncodePipeline.DefaultBlockSize,
            checkpoint: Option[String] = None,
            compactEvery: Int = 0, compactBlockSize: Int = EncodePipeline.DefaultBlockSize): StreamingQuery = {
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .queryName("graft-streaming-encode")
      .option("checkpointLocation", checkpoint.getOrElse(s"$outDir/_checkpoint"))
      .trigger(Trigger.ProcessingTime("1 second"))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val committed = EncodePipeline.appendCommit(
            batch, key, outDir, partitions, blockSize, batchId)
          if (committed && compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
            try {
              if (EncodePipeline.compact(spark, outDir, schema, compactBlockSize).nonEmpty)
                EncodePipeline.vacuum(spark, outDir)
            } catch {
              case e: Exception =>
                System.err.println(s"[graft] streaming compaction skipped: ${e.getMessage}")
            }
          }
        }
        ()
      }
      .start()
  }
}
