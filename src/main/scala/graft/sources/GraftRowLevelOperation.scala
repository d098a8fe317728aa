package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.{EncodePipeline, Manifest}

/** SQL UPDATE / MERGE INTO / complex DELETE over graft tables — the Iceberg
  * merge-on-read delta-write architecture on Spark's row-level-operation
  * API:
  *
  *   - the operation's SCAN is the ordinary connector scan plus the
  *     metadata columns `_file`/`_block`/`_pos` (the exact coordinates the
  *     positional delete vectors key on); Spark's group-filtering runtime
  *     filter rides the scan's SupportsRuntimeFiltering, so only affected
  *     parts are even read;
  *   - updates are REPRESENTED AS DELETE + INSERT (representUpdateAsDelete
  *     AndInsert): executor [[GraftDeltaWriter]]s turn delete actions into
  *     per-(file, block) position bitmaps and insert actions into freshly
  *     ENCODED block files ([[EncodePipeline.writeBlocks]], with the
  *     table's Bloom filters), placed by the table's persisted placement
  *     law (so DML keeps co-partitioning and storage-partitioned joins
  *     intact);
  *   - the driver commit ([[EncodePipeline.commitDelta]]) records the
  *     inserted files as a tracked batch and the bitmaps as delete vectors
  *     in ONE transaction: a crash before it lands leaves only invisible
  *     orphans. ZERO existing data bytes are rewritten; maintenance
  *     (materializeDeletes/compact) folds later.
  *
  * Scale shape: delete state is one bitmap fragment per touched block per
  * writer (≤ blockSize/8 bytes), merged driver-side exactly like
  * loadDeletes; inserts buffer per writer task then encode into per-part
  * block files (small commits — compactSmallFiles packs them later).
  */
class GraftRowLevelOperation(outDir: String, tableSchema: StructType,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft-delta-$cmd $outDir"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, outDir, tableSchema, gen = None)

  /** the positional coordinates merge-on-read vectors key on */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_block"),
      Expressions.column("_pos"))

  override def requiredMetadataAttributes(): Array[NamedReference] = Array.empty
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = new GraftDeltaWrite(outDir, tableSchema, info)
    }
}

class GraftDeltaWrite(outDir: String, tableSchema: StructType,
                      info: LogicalWriteInfo) extends DeltaWrite {
  override def description(): String = s"graft-delta-write $outDir"
  override def toBatch: DeltaBatchWrite =
    new GraftDeltaBatchWrite(outDir, tableSchema, info)
}

/** one writer task's outcome: data files it wrote, with their statistics,
  * and bitmap fragments it built */
case class GraftDeltaMessage(insertedFiles: Seq[Manifest.FileStats],
                             deletes: Seq[(String, Int, Array[Byte])])
    extends WriterCommitMessage

class GraftDeltaBatchWrite(outDir: String, tableSchema: StructType,
                           info: LogicalWriteInfo) extends DeltaBatchWrite {

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DeltaWriterFactory = {
    val spark = SparkSession.active
    GraftDeltaWriterFactory(outDir, tableSchema, info.schema(),
      info.rowIdSchema().orElse(null),
      EncodePipeline.readPartSpec(spark, outDir),
      EncodePipeline.bloomConvention(spark, outDir),
      Bridge.hadoopConfBroadcast(spark))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.collect { case m: GraftDeltaMessage => m }.toSeq
    EncodePipeline.commitDelta(spark, outDir, tableSchema, msgs.flatMap(_.insertedFiles),
      msgs.flatMap(_.deletes), EncodePipeline.nextBatchId(spark, outDir))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    messages.collect { case m: GraftDeltaMessage => m }.flatMap(_.insertedFiles)
      .foreach(f => try fs.delete(new Path(f.path), false) catch { case _: Exception => () })
  }
}

case class GraftDeltaWriterFactory(outDir: String, tableSchema: StructType,
                                   dataSchema: StructType, rowIdSchema: StructType,
                                   spec: Option[EncodePipeline.PartSpec],
                                   bloomCols: Seq[String],
                                   conf: Bridge.HadoopConfBroadcast)
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new GraftDeltaWriter(this, taskId)
}

class GraftDeltaWriter(f: GraftDeltaWriterFactory, taskId: Long)
    extends DeltaWriter[InternalRow] {

  private val plans = EncodePipeline.plan(f.tableSchema).toArray
  // insert rows arrive in the operation's own attribute order — map by name.
  // A pure DELETE ships an EMPTY data schema (rowId only); the mapping is
  // then absent and only insert() enforces it.
  private val dataIdx: Array[Int] =
    plans.map(p => f.dataSchema.fieldNames.indexOf(p.name))
  private def requireDataSchema(): Unit =
    require(dataIdx.forall(_ >= 0),
      s"delta write schema ${f.dataSchema.fieldNames.mkString(",")} is missing " +
        s"table columns of ${f.tableSchema.fieldNames.mkString(",")}")
  private val (fileIdx, blockIdx, posIdx) = {
    val n = if (f.rowIdSchema == null) f.dataSchema else f.rowIdSchema
    (n.fieldNames.indexOf("_file"), n.fieldNames.indexOf("_block"),
      n.fieldNames.indexOf("_pos"))
  }
  /** the placement law bound to the key column's type; None when the table
    * has no spec or the key type is outside the scalar law's domain — those
    * inserts land in part 0 (zone maps recompute per part, so reads stay
    * exact; only co-partitioning tightness degrades) */
  private val keyPartFn: Option[(GraftPartFunction, Int)] = f.spec.flatMap { s =>
    val ki = plans.indexWhere(_.name == s.key)
    if (ki < 0) None
    else scala.util.Try(
      (GraftPartFunction(s.kind, s.partitions, s.salts)
        .bind(StructType(Seq(f.tableSchema(s.key)))).asInstanceOf[GraftPartFunction],
        ki)).toOption
  }
  private val keyProbe = new GenericInternalRow(1)

  // ---- delete state: (file, block) -> growable position bitmap ----
  private val bitmaps = mutable.HashMap.empty[(String, Int), Array[Byte]]

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val file = id.getUTF8String(fileIdx).toString
    val block = id.getInt(blockIdx)
    val pos = id.getInt(posIdx)
    val key = (file, block)
    val need = (pos >> 3) + 1
    val bm0 = bitmaps.getOrElse(key, Array.emptyByteArray)
    val bm = if (bm0.length >= need) bm0 else java.util.Arrays.copyOf(bm0, need)
    bm(pos >> 3) = (bm(pos >> 3) | (1 << (pos & 7))).toByte
    bitmaps(key) = bm
  }

  // ---- insert state: per part, canonical row buffers ----
  // canonical cell: java.lang.Long for 'l' columns, Array[Byte] for 's'/'b',
  // null for NULL — the exact domain the block encoders consume
  private val inserts = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Array[AnyRef]]]

  private def canonical(row: InternalRow): Array[AnyRef] = {
    val out = new Array[AnyRef](plans.length)
    var c = 0
    while (c < plans.length) {
      val i = dataIdx(c)
      if (!row.isNullAt(i)) out(c) = plans(c).sourceType match {
        case LongType | TimestampType | TimestampNTZType => java.lang.Long.valueOf(row.getLong(i))
        case IntegerType | DateType => java.lang.Long.valueOf(row.getInt(i).toLong)
        case ShortType => java.lang.Long.valueOf(row.getShort(i).toLong)
        case ByteType => java.lang.Long.valueOf(row.getByte(i).toLong)
        case DoubleType => java.lang.Long.valueOf(java.lang.Double.doubleToLongBits(row.getDouble(i)))
        case FloatType => java.lang.Long.valueOf(java.lang.Double.doubleToLongBits(row.getFloat(i).toDouble))
        case StringType => row.getUTF8String(i).getBytes
        case BinaryType => row.getBinary(i)
        case other => throw new IllegalArgumentException(s"unsupported $other")
      }
      c += 1
    }
    out
  }

  private def partOf(cells: Array[AnyRef]): Int = keyPartFn match {
    case Some((fn, ki)) =>
      keyProbe.update(0, cells(ki) match {
        case b: Array[Byte] => UTF8String.fromBytes(b)
        case l: java.lang.Long if fn.boundType == IntegerType => l.intValue()
        case l: java.lang.Long => l.longValue()
        case _ => null
      })
      fn.produceResult(keyProbe).intValue()
    case None => 0 // spec-less table: placement law unknown; zone maps stay exact
  }

  override def insert(row: InternalRow): Unit = {
    requireDataSchema()
    val cells = canonical(row)
    inserts.getOrElseUpdate(partOf(cells), mutable.ArrayBuffer.empty) += cells
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  override def commit(): WriterCommitMessage = {
    val canon = inserts.toSeq.sortBy(_._1).iterator.flatMap { case (part, rows) =>
      sortByKey(rows)
      rows.iterator.map(cells => new GenericInternalRow(Array[Any](part) ++ cells): InternalRow)
    }
    val files = EncodePipeline.writeBlocks(
      new EncodePipeline.BlockIterator(canon, plans, EncodePipeline.DefaultBlockSize, null),
      f.conf.value, f.outDir, s"delta-$taskId", plans.toSeq, f.bloomCols)
    GraftDeltaMessage(files,
      bitmaps.toSeq.map { case ((file, block), bm) => (file, block, bm) })
  }

  override def abort(): Unit = ()
  override def close(): Unit = { inserts.clear(); bitmaps.clear() }

  /** sort a part's buffered rows by the placement key (keeps PREFIX/dict
    * locality, mirroring the batch encoder's sortWithinPartitions) */
  private def sortByKey(rows: mutable.ArrayBuffer[Array[AnyRef]]): Unit =
    keyPartFn.foreach { case (_, ki) =>
      val ord: Ordering[Array[AnyRef]] = (a, b) => (a(ki), b(ki)) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x: Array[Byte], y: Array[Byte]) =>
          java.util.Arrays.compareUnsigned(x, y)
        case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
        case _ => 0
      }
      rows.sortInPlace()(ord)
    }
}
