package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.StructType

import graft.plans.EncodePipeline

/** `df.writeStream.format("graft").start(<table dir>)` — a NATIVE V2
  * streaming sink, so a stream lands in a graft table without the
  * foreachBatch wrapper ([[graft.streaming.StreamingEncode]] remains as the
  * driver-orchestrated alternative; both speak the same commit protocol).
  *
  * Architecture = the delta-write insert path re-aimed at micro-batches:
  *
  *   - executors buffer each task's rows, place them by the table's
  *     PERSISTED placement law (so streamed appends keep the co-partitioning
  *     invariant storage-partitioned joins rely on), sort each part's buffer
  *     by the key, and encode blocks with the shared block kernels into
  *     law-placed `delta-*` parquet block files carrying the table's Bloom
  *     filters
  *     ([[GraftDeltaWriter]] — the exact writers SQL UPDATE/MERGE use);
  *   - the driver commit is ONE single-file manifest append recording the
  *     epoch's files as a tracked batch ([[EncodePipeline.commitDelta]] with
  *     no deletes) — crash before it leaves only invisible orphans
  *     ([[EncodePipeline.vacuum]] reclaims), so each epoch is atomic;
  *   - EXACTLY-ONCE by epochId: the manifest's `batch_id` column records
  *     each committed epoch; a replayed epoch (Structured Streaming re-runs
  *     a failed micro-batch with the same id) sees its id already committed,
  *     deletes the duplicate files its writers just produced, and no-ops —
  *     the same replay contract as [[EncodePipeline.appendCommit]]. Like
  *     StreamingEncode, a streamed-into table's batch-id space belongs to
  *     the stream: interleaving other batch appends with a live stream is
  *     outside the single-writer contract (Iceberg parity).
  *
  * A FRESH directory works: the provider supports external metadata, so
  * Spark hands the query's schema to getTable without inferSchema; the
  * first epoch persists the placement spec (before any data file, so even
  * batch 0's rows are law-placed) and schema.json. Streamed tables are
  * readable, prunable, compactable, DML-able like batch ones — and
  * `readStream.format("graft")` on the other side makes graft-to-graft
  * streaming pipelines closed under the format.
  *
  * Scope: Append output mode only (Complete/Update need truncate-per-epoch
  * or upsert semantics — refused loudly). Delta block files carry no
  * shared-dict references (self-contained blobs), and compactSmallFiles()
  * folds small epochs into full blocks later.
  */
class GraftStreamingWrite(outDir: String, tableSchema: StructType,
                          info: LogicalWriteInfo) extends StreamingWrite {
  // the effective table schema: a fresh-directory stream CREATES the table
  // with the query's schema (getTable already received it, but belt and
  // braces for empty-schema callers)
  private val schema: StructType =
    if (tableSchema.nonEmpty) tableSchema else info.schema()

  override def createStreamingWriterFactory(pInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    // first epoch on a fresh table: persist the placement law BEFORE any
    // data file exists, so every row ever written is law-placed (appends,
    // DML, and SPJ then all agree on the same partitioner)
    val spec = EncodePipeline.readPartSpec(spark, outDir).orElse {
      if (!EncodePipeline.hasManifest(spark, outDir)) {
        val s = EncodePipeline.PartSpec("hash", schema.fieldNames.head,
          spark.sessionState.conf.numShufflePartitions, salts = 4)
        EncodePipeline.writePartSpec(spark, outDir, s)
        Some(s)
      } else None // pre-spec-era table: placement unknown, part 0 (exact zone maps)
    }
    GraftStreamingWriterFactory(GraftDeltaWriterFactory(outDir, schema,
      info.schema(), rowIdSchema = null, spec, EncodePipeline.bloomConvention(spark, outDir),
      Bridge.hadoopConfBroadcast(spark)))
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val files = messages.collect { case m: GraftDeltaMessage => m }
      .flatMap(_.insertedFiles).toSeq
    if (EncodePipeline.batchCommitted(spark, outDir, epochId))
      dropFiles(spark, files.map(_.path)) // duplicates of an epoch already in
    else EncodePipeline.commitDelta(spark, outDir, schema, files,
      deletes = Nil, batchId = epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropFiles(SparkSession.active,
      messages.collect { case m: GraftDeltaMessage => m }.flatMap(_.insertedFiles.map(_.path)).toSeq)

  private def dropFiles(spark: SparkSession, files: Seq[String]): Unit = {
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.foreach(f => try fs.delete(new Path(f), false) catch { case _: Exception => () })
  }
}

/** bridges the shared delta writers into the streaming writer API: write()
  * is insert() (streaming appends have no rowIds), task commit hands the
  * written file list to the driver */
case class GraftStreamingWriterFactory(delta: GraftDeltaWriterFactory)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val inner = delta.createWriter(partitionId, taskId)
      override def write(record: InternalRow): Unit = inner.insert(record)
      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}
