package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.io.{ColumnIOFactory, MessageColumnIO, ParquetDecodingException, RecordReader}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.Codecs
import graft.plans.EncodePipeline

/** `spark.read.format("graft")` — the encoded table directory as a first-
  * class Spark DataSource V2, so plain SQL over a graft table gets the
  * engine's whole skip stack without any API calls:
  *
  *   - self-describing schema (`schema.json`, written by run()/appendCommit;
  *     an explicit `.schema(...)` overrides),
  *   - generation-resolved file planning ([[EncodePipeline.currentFiles]]:
  *     compaction supersede, orphan invisibility, `option("gen", n)` time
  *     travel),
  *   - merge-on-read delete vectors applied at scan time,
  *   - shared-dictionary resolution via one broadcast,
  *   - COLUMN PRUNING: only the requested columns' blobs are read from
  *     parquet and decoded (SupportsPushDownRequiredColumns),
  *   - FILTER pushdown → manifest zone-map part pruning: equality, ranges,
  *     IN, IsNull, prefix LIKE prune whole part directories at plan time;
  *     filters stay residual (zone maps are supersets), Spark re-applies
  *     them above the scan (SupportsPushDownFilters),
  *   - Bloom FILE elimination: pushed equality/IN conjuncts plan only the
  *     data files some of whose block Bloom filters admit the probed values
  *     (the driver reads and caches each file's `bm_` columns),
  *   - AGGREGATE pushdown: global MIN/MAX/COUNT/COUNT(*)/SUM over long-kind
  *     columns answer ENTIRELY from the manifest's exact stats — the scan
  *     plans ZERO input partitions and opens ZERO data files
  *     (SupportsPushDownAggregates + LocalScan), declining whenever live
  *     delete vectors or pre-stats-era manifest rows would make that wrong,
  *   - LIMIT pushdown: readers stop decoding after `limit` rows per
  *     partition (partial push — Spark keeps the global limit),
  *   - reported statistics: exact row count and raw (decoded) byte size
  *     from the manifest, so joins over graft tables broadcast correctly
  *     (SupportsReportStatistics).
  *
  * Executor-side reading uses parquet-hadoop's Group API directly (the
  * files are ordinary parquet of block rows); each input partition is one
  * data file — the natural split grain, since blocks are self-contained.
  */
object GraftDataSource {
  /** Iceberg's write-audit-publish session gate: while set, every Append —
    * pathed write, SQL INSERT INTO — stages on the named branch instead of
    * committing to main, and row-level DML refuses (it would silently
    * mutate MAIN while the user believes writes are gated). Explicit
    * option("branch") / a branch identifier wins over the conf. */
  private[sources] val WapBranchConf = "spark.wap.branch"

  private[sources] def wapBranch(spark: SparkSession): Option[String] =
    spark.conf.getOption(WapBranchConf).filter(_.nonEmpty)

  /** the one gate every main-mutating write entry point calls: refuse when
    * the target is a branch identifier (branches stage appends only) or
    * the WAP session conf is set (the user believes writes are gated —
    * mutating main silently would bypass the audit flow) */
  private[sources] def refuseMainMutation(spark: SparkSession,
      branchPin: Option[String], op: String): Unit = {
    branchPin.foreach(b => throw new UnsupportedOperationException(
      s"$op on branch $b is not supported — branches stage appends only " +
      "(write-audit-publish); publish first"))
    wapBranch(spark).foreach(b => throw new UnsupportedOperationException(
      s"$op while spark.wap.branch=$b is set would mutate MAIN outside " +
      "the audit gate — unset the conf or publish first"))
  }

  /** parse a TIMESTAMP AS OF operand: epoch millis, an ISO-8601 instant
    * (`2026-08-20T00:00:00Z`), or a session-local SQL timestamp
    * (`2026-08-20 00:00:00`) */
  private[sources] def parseInstantMillis(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch { case _: java.time.format.DateTimeParseException =>
      java.sql.Timestamp.valueOf(s).getTime }
}

class GraftDataSource extends TableProvider with DataSourceRegister
    with sources.CreatableRelationProvider {
  override def shortName(): String = "graft"
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "format(\"graft\") requires .load(<table dir>)")
    p.stripSuffix("/")
  }

  /** `df.write.format("graft")` — the V1 write hook (the provider is not
    * SupportsWrite, so Spark routes writes here) delegating to the encode
    * pipeline's commit protocol. Options: `key` (partitioning key column;
    * default first column), `partitions` (default session
    * spark.sql.shuffle.partitions), `blockSize` (default [[EncodePipeline.DefaultBlockSize]]),
    * `sharedDictCols` (comma-separated). SaveMode semantics are the file-
    * source ones: Append lands an exactly-once tracked commit (batchId =
    * max committed + 1, or the `batchId` option for replay-keyed callers);
    * Overwrite commits a REPLACING snapshot (old generations stay
    * time-travelable until vacuum; see [[EncodePipeline.replaceCommit]]),
    * and replaces the directory physically only when it holds no manifest
    * (a half-created one); ErrorIfExists/Ignore check the manifest. */
  override def createRelation(sqlContext: org.apache.spark.sql.SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): sources.BaseRelation = {
    val outDir = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") write requires .save(<table dir>)"))
      .stripSuffix("/")
    val spark = data.sparkSession
    val key = parameters.getOrElse("key", data.schema.fieldNames.head)
    val partitions = parameters.get("partitions").map(_.toInt)
      .getOrElse(spark.sessionState.conf.numShufflePartitions)
    val blockSize = parameters.get("blockSize").map(_.toInt).getOrElse(EncodePipeline.DefaultBlockSize)
    val sharedDictCols = parameters.get("sharedDictCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // bloomCols only shapes table CREATION — appends inherit the bm_<col>
    // convention from the committed data schema (appendCommit)
    val bloomCols = parameters.get("bloomCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // a manifest a crashed rewriteManifests swap set aside still counts:
    // only an absent manifest means a new table
    val exists = EncodePipeline.hasManifest(spark, outDir)
    import org.apache.spark.sql.SaveMode._
    if (parameters.contains("branch"))
      require(mode == Append && exists, "option(\"branch\") writes require " +
        "SaveMode.Append onto an existing table (write-audit-publish stages appends)")
    if (mode == Overwrite)
      GraftDataSource.refuseMainMutation(spark, None, "overwrite")
    // table CREATION publishes to main too: any mode against a
    // not-yet-existing path must not slip past the WAP gate
    if (!exists)
      GraftDataSource.refuseMainMutation(spark, None, s"creating $outDir")
    mode match {
      case Ignore if exists => ()
      case ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table $outDir already exists (SaveMode.ErrorIfExists)")
      case Append if exists =>
        val batchId = parameters.get("batchId").map(_.toLong)
          .getOrElse(EncodePipeline.nextBatchId(spark, outDir))
        // explicit option("branch") wins over the session-wide WAP conf
        // (spark.wap.branch — Iceberg's write-audit-publish session gate)
        parameters.get("branch")
            .orElse(GraftDataSource.wapBranch(spark)) match {
          case Some(b) => // write-audit-publish: stage on a branch, invisible
            EncodePipeline.appendToBranch(data, key, outDir, partitions, b,
              blockSize, batchId) // loud on unknown branch names
          case None =>
            EncodePipeline.appendCommit(data, key, outDir, partitions, blockSize, batchId)
        }
      case Overwrite if exists =>
        // overwrite as a SNAPSHOT (Iceberg INSERT OVERWRITE parity): the
        // old generations stay readable via option("gen") / rollbackTo;
        // vacuum reclaims them when history is expired deliberately
        EncodePipeline.replaceCommit(data, key, outDir, partitions, blockSize,
          bloomCols = bloomCols)
      case Overwrite => // a half-created dir: no history to keep
        val dir = new org.apache.hadoop.fs.Path(outDir)
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
        EncodePipeline.run(data, key, outDir, partitions, blockSize,
          sharedDictCols = sharedDictCols, bloomCols = bloomCols)
      case _ => // fresh table (any mode when absent)
        EncodePipeline.run(data, key, outDir, partitions, blockSize,
          sharedDictCols = sharedDictCols, bloomCols = bloomCols)
    }
    val ctx = sqlContext // capture: the anon class's own member would shadow it
    new sources.BaseRelation {
      override def sqlContext: org.apache.spark.sql.SQLContext = ctx
      override def schema: StructType = data.schema
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    // metadata tables describe the table, not its rows — their schemas are
    // their own (Iceberg's db.t.history / .files / .manifests surface)
    val metaOpt = Option(options.get("meta"))
    if (metaOpt.isDefined) return GraftMetaTable.schemaOf(metaOpt.get, pathOf(options))
    val base = EncodePipeline.readSchemaFile(SparkSession.active, pathOf(options)).getOrElse(
      throw new IllegalArgumentException(
        s"graft table ${pathOf(options)} has no schema.json (written before schema " +
        "persistence existed?) — pass an explicit .schema(...)"))
    // change-data-capture read: the table's net row-level changes between
    // two generations (batch) or per commit (streaming change feed), with
    // a _change_type discriminator appended
    if (options.containsKey("changesFrom") ||
        Option(options.get("readChangeFeed")).exists(_.toBoolean))
      base.add(StructField("_change_type", StringType, nullable = false))
    else base
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    if (opts.containsKey("meta"))
      new GraftMetaTable(pathOf(opts), opts.get("meta"), schema)
    else if (opts.containsKey("changesFrom"))
      new GraftChangesTable(pathOf(opts), schema,
        opts.get("changesFrom").toInt,
        Option(opts.get("changesTo")).map(_.toInt).getOrElse(Int.MaxValue))
    else if (Option(opts.get("readChangeFeed")).exists(_.toBoolean))
      new GraftChangeFeedTable(pathOf(opts), schema,
        Option(opts.get("startingGen")).map(_.toInt),
        Option(opts.get("maxGensPerTrigger")).map(_.toInt))
    else new GraftTable(pathOf(opts), schema)
  }
}

/** `spark.read.format("graft").option("meta", which)` — the table's own
  * metadata as readable tables (Iceberg's metadata-table surface):
  * `snapshots` = one row per generation with its commit kind and sizes
  * ([[EncodePipeline.snapshots]]), `files` = the generation-current data
  * files per part, `manifest` = the raw manifest rows (every era column,
  * supersede NOT applied — the audit view). V1Scan-bridged like the CDC
  * feed: metadata is small, filters apply above. */
object GraftMetaTable {
  private[sources] def schemaOf(which: String, outDir: String): StructType = which match {
    case "snapshots" => StructType(Seq(
      StructField("gen", IntegerType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("n_parts", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = true),
      StructField("ref", StringType, nullable = true),
      StructField("committed_at", org.apache.spark.sql.types.TimestampType,
        nullable = true)))
    case "files" => StructType(Seq(
      StructField("part", IntegerType, nullable = false),
      StructField("file", StringType, nullable = false)))
    case "refs" => StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("gen", IntegerType, nullable = false)))
    case "manifest" =>
      EncodePipeline.rawManifest(SparkSession.active, outDir).schema
    case "stats" => StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_values", LongType, nullable = false),
      StructField("n_nulls", LongType, nullable = false),
      StructField("v_min", LongType, nullable = true),
      StructField("v_max", LongType, nullable = true),
      StructField("v_sum", LongType, nullable = true),
      StructField("n_distinct", LongType, nullable = true),
      StructField("distinct_exact", org.apache.spark.sql.types.BooleanType,
        nullable = true)))
    case other => throw new IllegalArgumentException(
      s"""unknown metadata table "$other" — one of snapshots, files, manifest, stats, refs""")
  }
}

class GraftMetaTable(outDir: String, which: String, metaSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft.`$outDir`.$which"
  override def schema(): StructType = metaSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = metaSchema
        override def toV1TableScan[T <: sources.BaseRelation with sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          (new sources.BaseRelation with sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = metaSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val spark = context.sparkSession
              val df = which match {
                case "snapshots" => EncodePipeline.snapshots(spark, outDir)
                case "files" =>
                  val fs = EncodePipeline.currentFiles(spark, outDir)
                  import spark.implicits._
                  fs.toDF("part", "file")
                case "manifest" =>
                  EncodePipeline.rawManifest(spark, outDir)
                case "refs" =>
                  // named references (Iceberg `refs` metadata table): tags
                  // pin a generation, branches record their creation base
                  import spark.implicits._
                  (EncodePipeline.readTags(spark, outDir).toSeq
                      .map { case (n, g) => (n, "tag", g) } ++
                    EncodePipeline.readBranches(spark, outDir).toSeq
                      .map { case (n, g) => (n, "branch", g) })
                    .sortBy(r => (r._2, r._1)).toDF("name", "type", "gen")
                case "stats" =>
                  // scan-free per-column aggregates + NDV, straight off the
                  // manifest (throws loudly under live delete vectors or
                  // pre-stats-era rows — stale answers are never served)
                  EncodePipeline.tableStats(spark, outDir,
                    EncodePipeline.readSchemaFile(spark, outDir).getOrElse(
                      throw new IllegalStateException(
                        s"$outDir has no schema.json — stats table needs a " +
                        "self-describing (schema-persisted) graft table")))
              }
              df.select(metaSchema.fieldNames
                .map(org.apache.spark.sql.functions.col).toSeq: _*).rdd
            }
          }).asInstanceOf[T]
      }
    }
}

/** `spark.read.format("graft").option("changesFrom", g)[.option("changesTo",
  * h)]` — net row-level change capture between two snapshots as a readable
  * table: the source rows plus `_change_type` ("insert" / "delete"; an
  * update is its delete + insert pair). An append/merge-on-read window is a
  * V2 batch over the file-grain plan the streaming change feed reads
  * ([[GraftChanges]]): only the window's added files and vector-diff blocks
  * open. A rewrite window is served by [[EncodePipeline.readChangesBetween]]'s
  * snapshot diff through the V1Scan bridge. Either way filters and limits
  * apply above the scan. */
class GraftChangesTable(outDir: String, fullSchema: StructType,
                        fromGen: Int, toGen: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_changes.`$outDir`@[$fromGen,$toGen]"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val scan: Scan = EncodePipeline.planChangeFeedWindow(spark, outDir, fromGen, toGen) match {
      case Right(w) => new Scan with Batch {
        override def readSchema(): StructType = fullSchema
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] = GraftChanges.partitionsOf(w)
        // one factory for every copy of the scan's exec node, as GraftScan
        private lazy val factory = GraftChanges.readerFactory(spark, outDir, fullSchema)
        override def createReaderFactory(): PartitionReaderFactory = factory
        override def description(): String = s"GraftChangesScan $outDir ($fromGen, $toGen]"
      }
      case Left(_) => new V1Scan {
        override def readSchema(): StructType = fullSchema
        override def toV1TableScan[T <: sources.BaseRelation with sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          (new sources.BaseRelation with sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = fullSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val src = StructType(fullSchema.filterNot(_.name == "_change_type"))
              EncodePipeline.readChangesBetween(context.sparkSession, outDir, src, fromGen, toGen)
                .select(fullSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
                .rdd
            }
          }).asInstanceOf[T]
      }
    }
    () => scan
  }
}

/** the file-grain change plan as V2 input partitions and their reader
  * factory: shared by the batch [[GraftChangesTable]] and the streaming
  * [[GraftCdcMicroBatchStream]] */
private[sources] object GraftChanges {
  def partitionsOf(w: EncodePipeline.ChangeFeedWindow): Array[InputPartition] =
    (w.inserts.map(f => GraftInputPartition(f.path, f.part, f.deletes,
        keepOnly = null, changeType = "insert")) ++
     w.deletes.map(f => GraftInputPartition(f.path, f.part, Map.empty,
        keepOnly = f.keepOnly, changeType = "delete")))
      .toArray[InputPartition]

  /** dictionaries load per call, so a stream re-broadcasts those committed
    * by later appends each batch (same contract as the plain streaming
    * source) */
  def readerFactory(spark: SparkSession, outDir: String,
                    fullSchema: StructType): PartitionReaderFactory = {
    val dicts = EncodePipeline.loadDicts(spark, outDir)
    val dictsBc = if (dicts.isEmpty) None else Some(spark.sparkContext.broadcast(dicts))
    GraftReaderFactory(Bridge.hadoopConfBroadcast(spark),
      GraftScan.planWithMeta(StructType(fullSchema.filterNot(_.name == "_change_type")),
        fullSchema), dictsBc, -1)
  }
}

/** `SELECT * FROM cat.db.t.changes` — the table's full CHANGELOG as a SQL
  * identifier (Iceberg changelog-table parity): one row per row-level
  * change PER COMMIT, `_change_type` ("insert"/"delete"; an update is its
  * delete + insert pair) and `_change_gen` (the committing generation —
  * Iceberg's `_change_ordinal`). Unlike the windowed net diff
  * (option("changesFrom")), a row inserted and later deleted appears
  * TWICE — once per commit — because each generation diffs against its
  * immediate predecessor; rewrite-only generations (compaction,
  * clustering) contribute nothing, data being identical. Append and MOR
  * windows plan at file grain; generation 0 streams the base snapshot as
  * inserts. */
class GraftChangelogTable(outDir: String, fullSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_changelog.`$outDir`"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = fullSchema
        override def toV1TableScan[T <: sources.BaseRelation with sources.TableScan](
            context: org.apache.spark.sql.SQLContext): T =
          (new sources.BaseRelation with sources.TableScan {
            override def sqlContext: org.apache.spark.sql.SQLContext = context
            override def schema: StructType = fullSchema
            override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
              val spark = context.sparkSession
              val src = StructType(fullSchema.filterNot(f =>
                f.name == "_change_type" || f.name == "_change_gen"))
              val cur = EncodePipeline.currentGen(spark, outDir)
              (0 to cur).map { g =>
                EncodePipeline.readChangesBetween(spark, outDir, src, g - 1, g)
                  .withColumn("_change_gen", org.apache.spark.sql.functions.lit(g))
              }.reduce(_ unionByName _)
                .select(fullSchema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
                .rdd
            }
          }).asInstanceOf[T]
      }
    }
}

/** `readStream.format("graft").option("readChangeFeed", "true")` — the table
  * as a STREAMING CHANGE FEED (Delta CDF / Iceberg changelog parity): each
  * micro-batch is a generation window emitting the window's NET row-level
  * changes with `_change_type` ("insert" / "delete"; an update is its
  * delete + insert pair). `option("startingGen", g)` replays changes from
  * generation g onward (0 = full history — the base snapshot streams as
  * inserts); the default starts at the CURRENT generation, so only future
  * commits stream. Offsets are generation numbers: a checkpoint restart
  * re-plans identical windows as long as the referenced history has not
  * been vacuumed. Append and merge-on-read windows plan at file grain
  * (only window-added files and vector-diff blocks are ever opened); a
  * rollback or file rewrite inside a window fails the stream loudly —
  * file-grain CDC cannot cross it, use batch `option("changesFrom", …)`
  * for that window and restart. */
class GraftChangeFeedTable(outDir: String, fullSchema: StructType,
                           startingGen: Option[Int],
                           maxGensPerTrigger: Option[Int] = None)
    extends Table with SupportsRead {
  override def name(): String = s"graft_cdf.`$outDir`"
  override def schema(): StructType = fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = fullSchema
        override def toMicroBatchStream(checkpointLocation: String):
            org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
          new GraftCdcMicroBatchStream(SparkSession.active, outDir, fullSchema,
            startingGen, maxGensPerTrigger)
        override def description(): String = s"GraftChangeFeedScan $outDir"
      }
    }
}

/** change-feed offset = the highest generation whose changes have streamed */
case class GraftCdcOffset(gen: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = gen.toString
}

/** ReadLimit for the change feed: at most `maxGens` generation windows per
  * micro-batch (the per-trigger unit the CDC offsets advance in — each
  * window is one commit's worth of changes, already file-grain-planned).
  * Returned by getDefaultReadLimit and interpreted only by
  * [[GraftCdcMicroBatchStream.latestOffset]]; the engine passes it through
  * opaquely, same as Delta's composite file/byte limits. */
case class GraftMaxGens(maxGens: Int)
    extends org.apache.spark.sql.connector.read.streaming.ReadLimit {
  require(maxGens > 0, s"maxGensPerTrigger must be positive, got $maxGens")
}

class GraftCdcMicroBatchStream(spark: SparkSession, outDir: String,
                               fullSchema: StructType, startingGen: Option[Int],
                               maxGensPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** default = stream from NOW (startingGen g streams g's own changes too,
    * hence the -1: windows are exclusive at the start) */
  override def initialOffset(): Offset = GraftCdcOffset(
    startingGen.map(_ - 1).getOrElse(EncodePipeline.currentGen(spark, outDir)))
  override def latestOffset(): Offset =
    GraftCdcOffset(EncodePipeline.currentGen(spark, outDir))
  override def deserializeOffset(json: String): Offset =
    GraftCdcOffset(json.trim.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  // ---- admission control: option("maxGensPerTrigger", n) paces a history
  // replay (startingGen 0 over a long-lived table) as n commits per
  // micro-batch instead of one giant first batch; Trigger.AvailableNow
  // pins the end generation at stream start, so a bounded catch-up
  // terminates even while writers keep committing ----
  @volatile private var availableNowTargetGen: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTargetGen = Some(EncodePipeline.currentGen(spark, outDir))
  override def getDefaultReadLimit: ReadLimit =
    maxGensPerTrigger.map(GraftMaxGens(_)).getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftCdcOffset].gen
    val cur0 = EncodePipeline.currentGen(spark, outDir)
    val cur = availableNowTargetGen.fold(cur0)(math.min(cur0, _))
    val end = limit match {
      case GraftMaxGens(n) => math.min(cur, from + n)
      case _ => cur
    }
    GraftCdcOffset(math.max(from, end))
  }
  override def reportLatestOffset(): Offset =
    GraftCdcOffset(EncodePipeline.currentGen(spark, outDir))

  /** a window that cannot be planned at file grain fails the stream */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    EncodePipeline.planChangeFeedWindow(spark, outDir,
      start.asInstanceOf[GraftCdcOffset].gen, end.asInstanceOf[GraftCdcOffset].gen)
      .fold(reason => throw new IllegalStateException(reason), GraftChanges.partitionsOf)

  /** per micro-batch ([[GraftChanges.readerFactory]]) */
  override def createReaderFactory(): PartitionReaderFactory =
    GraftChanges.readerFactory(spark, outDir, fullSchema)
}

class GraftTable(outDir: String, tableSchema: StructType,
                 genPin: Option[Int] = None /* SQL VERSION/TIMESTAMP AS OF —
                   a catalog-time-travel pin scans default to */,
                 branchPin: Option[String] = None /* catalog branch reads:
                   `db.t.branch_<name>` / VERSION AS OF '<branch>' */) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft.`$outDir`"
  override def schema(): StructType = tableSchema
  /** the persisted placement law as a named transform (DESCRIBE shows it;
    * the scan re-reports it as KeyGroupedPartitioning for join planning) */
  override def partitioning(): Array[Transform] =
    EncodePipeline.readPartSpec(SparkSession.active, outDir)
      .map(s => Array(GraftPartFunction.transformOf(s))).getOrElse(Array.empty)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(SparkSession.active, outDir, tableSchema,
      // time travel by generation, named tag (Iceberg refs), wall-clock
      // instant (Delta TIMESTAMP AS OF — manifest-mtime-resolved), or a
      // catalog pin (SQL VERSION/TIMESTAMP AS OF); an explicit gen wins
      Option(options.get("gen")).map(_.toInt)
        .orElse(Option(options.get("tag")).map(t =>
          EncodePipeline.tagGen(SparkSession.active, outDir, t)))
        .orElse(Option(options.get("timestampAsOf")).map(t =>
          EncodePipeline.genAsOf(SparkSession.active, outDir,
            GraftDataSource.parseInstantMillis(t))))
        .orElse(genPin),
      ignoreChanges = Option(options.get("ignoreChanges")).exists(_.toBoolean),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      // audit read of a branch's unpublished commits (write-audit-publish);
      // unknown names fail loudly with the inventory, like option("tag")
      branch = Option(options.get("branch")).map { b =>
        EncodePipeline.branchBase(SparkSession.active, outDir, b); b
      }.orElse(branchPin))

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` over catalog identifiers,
    * bridged to the pipeline's commit protocol via the V2→V1 write hook
    * (V1Write → InsertableRelation — the driver receives the whole input
    * DataFrame and the encode pipeline keeps its own pinned single-shuffle
    * plan). Append = exactly-once tracked commit at batchId = max
    * committed + 1; Overwrite = a REPLACING snapshot (history stays
    * time-travelable — [[EncodePipeline.replaceCommit]]).
    * The partitioning key is the first column (the same default as
    * df.write.format("graft")). */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: sources.InsertableRelation =
            new sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  legacyOverwrite: Boolean): Unit = {
                val spark = data.sparkSession
                val key = tableSchema.fieldNames.head
                val partitions = spark.sessionState.conf.numShufflePartitions
                if (overwrite || legacyOverwrite) {
                  GraftDataSource.refuseMainMutation(spark, branchPin,
                    "INSERT OVERWRITE")
                  if (EncodePipeline.hasManifest(spark, outDir))
                    // INSERT OVERWRITE as a snapshot — history stays readable
                    EncodePipeline.replaceCommit(data, key, outDir, partitions)
                  else { // a half-created dir: no history to keep
                    val p = new Path(outDir)
                    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
                    EncodePipeline.run(data, key, outDir, partitions)
                  }
                } else branchPin.orElse(GraftDataSource.wapBranch(spark)) match {
                  case Some(b) => // INSERT INTO db.t.branch_<b> (or the
                    // spark.wap.branch session gate): STAGE, not main
                    EncodePipeline.appendToBranch(data, key, outDir, partitions,
                      b, batchId = EncodePipeline.nextBatchId(spark, outDir))
                  case None =>
                    EncodePipeline.appendCommit(data, key, outDir, partitions,
                      batchId = EncodePipeline.nextBatchId(spark, outDir))
                }
              }
            }
          /** `writeStream.format("graft")` — see [[GraftStreamingWrite]];
            * Append output mode only (truncate-per-epoch refused) */
          override def toStreaming:
              org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            if (overwrite) throw new UnsupportedOperationException(
              "graft streaming sink supports Append output mode only " +
                "(Complete would truncate the table every epoch)")
            // silent fall-through to main would bypass the WAP audit gate
            GraftDataSource.refuseMainMutation(SparkSession.active, branchPin,
              "writeStream")
            if (info.options.containsKey("branch"))
              throw new UnsupportedOperationException(
                "writeStream into a branch is not supported — stream to a " +
                "staging table and appendToBranch its batches, or stream " +
                "to main directly")
            new GraftStreamingWrite(outDir, tableSchema, info)
          }
        }
    }

  /** row coordinates as metadata columns — the positional-delete-vector key
    * (`_file` part-qualified data-file id, `_block`, `_pos` original
    * in-block ordinal, stable under delete-vector application). SELECTable
    * for lineage debugging; the row-level operations use them as rowId. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def m(n: String, dt: org.apache.spark.sql.types.DataType) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = n
        override def dataType(): org.apache.spark.sql.types.DataType = dt
        override def isNullable: Boolean = false
      }
    Array(m("_file", StringType), m("_block", IntegerType), m("_pos", IntegerType))
  }

  /** SQL UPDATE / MERGE INTO / complex DELETE — delta-based row-level
    * operations (see [[GraftRowLevelOperation]]): deletes become positional
    * vectors, updates delete+insert, inserts encode as fresh block files
    * placed by the table's persisted law. Simple DELETE predicates never
    * reach this — Spark's metadata-only path routes them to
    * [[deleteWhere]] below. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo):
      org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    GraftDataSource.refuseMainMutation(SparkSession.active, branchPin,
      "UPDATE/MERGE/DELETE")
    () => new GraftRowLevelOperation(outDir, tableSchema, info.command())
  }

  /** SQL `DELETE FROM <catalog table> WHERE ...` — merge-on-read: matching
    * rows land in positional delete vectors ([[EncodePipeline
    * .deleteWhereLazy]]), ZERO data bytes rewritten, snapshot-tagged for
    * time travel, reclaimed on materializeDeletes()+vacuum(). SQL 3VL holds
    * (NULL predicate keeps the row). Spark only routes predicates it can
    * translate to source filters here; anything else (expressions over
    * columns, subqueries) raises its standard "cannot translate" analysis
    * error — the DataFrame-side deleteWhere APIs accept arbitrary Columns.
    * `TRUNCATE TABLE` arrives as deleteWhere(AlwaysTrue). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftTable.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    GraftDataSource.refuseMainMutation(SparkSession.active, branchPin, "DELETE")
    val pred = filters.toSeq.flatMap(GraftTable.filterToColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    EncodePipeline.deleteWhereLazy(SparkSession.active, outDir, tableSchema, pred)
  }
}

object GraftTable {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** V1 source Filter → the equivalent Column predicate, for routing SQL
    * DELETE into the DataFrame-side DML. Total over every filter Spark's
    * translator emits for this table's flat schema; None only for shapes
    * that cannot reach it (nested fields, future filter kinds). */
  private[sources] def filterToColumn(f: Filter): Option[Column] = {
    def c(name: String): Option[Column] =
      if (name.contains(".")) None else Some(col(name))
    f match {
      case sources.AlwaysTrue() => Some(lit(true))
      case sources.AlwaysFalse() => Some(lit(false))
      case sources.EqualTo(a, v) => c(a).map(_ === lit(v))
      case sources.EqualNullSafe(a, v) => c(a).map(_ <=> lit(v))
      case sources.GreaterThan(a, v) => c(a).map(_ > lit(v))
      case sources.GreaterThanOrEqual(a, v) => c(a).map(_ >= lit(v))
      case sources.LessThan(a, v) => c(a).map(_ < lit(v))
      case sources.LessThanOrEqual(a, v) => c(a).map(_ <= lit(v))
      case sources.In(a, vs) => c(a).map(_.isin(vs.toIndexedSeq: _*))
      case sources.IsNull(a) => c(a).map(_.isNull)
      case sources.IsNotNull(a) => c(a).map(_.isNotNull)
      case sources.StringStartsWith(a, p) => c(a).map(_.startsWith(p))
      case sources.StringEndsWith(a, p) => c(a).map(_.endsWith(p))
      case sources.StringContains(a, p) => c(a).map(_.contains(p))
      case sources.And(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a && b
      case sources.Or(l, r) =>
        for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
      case sources.Not(x) => filterToColumn(x).map(!_)
      case _ => None
    }
  }
}

/** V1-Filter → manifest-zone-map part pruning, shared by plan-time pushdown
  * (GraftScanBuilder) and runtime filtering (GraftScan): which `__part` ids
  * can possibly hold matching rows. Bounds are supersets (string zone bounds
  * truncate), so callers always keep the filter residual. None = cannot
  * reason about this filter (prune nothing). */
private[graft] object GraftPruning {

  /** canonical-long of a filter literal for a long-kind column, or None */
  private def canonLong(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (_, null) => None
    case (LongType | IntegerType | ShortType | ByteType, n: Number) => Some(n.longValue())
    case (TimestampType | TimestampNTZType, t: java.sql.Timestamp) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
    case (TimestampType | TimestampNTZType, t: java.time.Instant) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(t))
    case (TimestampNTZType, t: java.time.LocalDateTime) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(t))
    case (DateType, d: java.sql.Date) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
    case (DateType, d: java.time.LocalDate) =>
      Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateToDays(d).toLong)
    case _ => None // doubles/floats: bit-domain zone maps don't order by value
  }

  private[sources] def strBytes(v: Any): Option[Array[Byte]] = v match {
    case s: String => Some(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case b: Array[Byte] => Some(b)
    case _ => None
  }

  /** canonical-long for BLOOM probes: like [[canonLong]] but also maps
    * double/float literals to their stored bit patterns — blooms test exact
    * equality, where the bit domain is fine (zone maps exclude floats
    * because bit order is not value order; equality doesn't care). */
  private[sources] def canonBloomLong(dt: DataType, v: Any): Option[Long] = (dt, v) match {
    case (DoubleType, n: Number) =>
      Some(java.lang.Double.doubleToRawLongBits(n.doubleValue()))
    case (FloatType, n: Number) => // pipeline canon: float upcast to double bits
      Some(java.lang.Double.doubleToRawLongBits(n.floatValue().toDouble))
    case _ => canonLong(dt, v)
  }

  /** smallest byte-string strictly above every string with prefix `p`
    * (increment last non-0xff byte); None = unbounded */
  private def prefixSucc(p: Array[Byte]): Option[Array[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None
    else {
      val out = java.util.Arrays.copyOf(p, i + 1)
      out(i) = (out(i) + 1).toByte
      Some(out)
    }
  }

  /** a block-skipping probe against the bm_<col> bloom column: the block is
    * kept iff ANY of `anyOf`'s hashes might be present (EqualTo = one hash,
    * In-list = the value set). Probes are conjuncts: a block must admit every
    * probe. Sound because every pushed filter stays residual above the scan
    * AND blooms have no false negatives. */
  final case class BloomProbe(col: String, anyOf: Array[Long]) extends Serializable

  /** derive bloom probes from the pushed conjuncts (plan-time only; In-lists
    * capped at 256 values to bound per-block probe cost). */
  def bloomProbesOf(kinds: Map[String, EncodePipeline.ColPlan],
                    filters: Array[Filter]): Array[BloomProbe] = {
    def hashOf(c: String, v: Any): Option[Long] = kinds.get(c).flatMap { p =>
      if (p.kind == 'l') canonBloomLong(p.sourceType, v).map(graft.core.Bloom.hashLong)
      else strBytes(v).map(graft.core.Bloom.hashBytes)
    }
    filters.flatMap {
      case sources.EqualTo(c, v) if v != null => hashOf(c, v).map(h => BloomProbe(c, Array(h)))
      case sources.EqualNullSafe(c, v) if v != null => hashOf(c, v).map(h => BloomProbe(c, Array(h)))
      case sources.In(c, vs) if vs.nonEmpty && vs.length <= 256 && !vs.contains(null) =>
        val hs = vs.map(hashOf(c, _))
        if (hs.forall(_.isDefined)) Some(BloomProbe(c, hs.map(_.get))) else None
      case _ => None
    }
  }

  /** one data file's block Bloom filters as the driver holds them: column →
    * one filter per block, null where the block stores none. A column the
    * file has no `bm_` filter column for is absent. */
  final class FileBlooms(byCol: Map[String, Array[Array[Byte]]]) {
    /** false PROVES no block of the file holds a value `pr` looks for (a
      * null or absent filter makes no claim, [[graft.core.Bloom.maybe]]) */
    def admits(pr: BloomProbe): Boolean =
      byCol.get(pr.col).forall(_.exists(bm => pr.anyOf.exists(graft.core.Bloom.maybe(bm, _))))

    def approxBytes: Long = 64L + byCol.valuesIterator.map(fs =>
      64L + fs.iterator.map(f => 16L + (if (f == null) 0 else f.length)).sum).sum
  }

  /** `path`'s `bm_` columns, read by the driver with parquet-mr: one footer
    * read, then only the filter column chunks, and no Spark job */
  private def readBlooms(path: String, conf: Configuration): FileBlooms = {
    val file = new GroupFile(new Path(path), conf)
    try {
      val cols = file.schema.getFields.asScala.map(_.getName).filter(_.startsWith("bm_")).toSeq
      val blocks = cols.map(_ => Array.newBuilder[Array[Byte]])
      if (cols.nonEmpty) {
        file.project(cols)
        var g = file.read()
        while (g != null) {
          cols.indices.foreach { i =>
            blocks(i) += (if (g.getFieldRepetitionCount(cols(i)) > 0)
              g.getBinary(cols(i), 0).getBytes else null)
          }
          g = file.read()
        }
      }
      new FileBlooms(cols.map(_.stripPrefix("bm_")).zip(blocks.map(_.result())).toMap)
    } finally file.close()
  }

  /** whether data file `path` may hold a row matching every probe, by the
    * driver-held copy of its block Bloom filters: read on the first probe
    * that touches the file, then kept in the metadata cache. Only a cached
    * copy can drop a file. A file whose filters are over the cache budget,
    * unreadable or missing stays planned, and its reader surfaces any I/O
    * error. */
  def fileAdmits(path: String, probes: Array[BloomProbe], conf: Configuration): Boolean = {
    val blooms =
      try EncodePipeline.cachedFileIndex(path) {
        val b = readBlooms(path, conf)
        (b, b.approxBytes)
      } catch { case NonFatal(_) => None }
    blooms.forall(b => probes.forall(b.admits))
  }

  /** a block-skipping RANGE probe against the e_<col> blob's header-derived
    * bounds ([[Codecs.rangeOfLong]]/[[Codecs.rangeOfStr]] — representable
    * supersets, so rejection is sound). Built by intersecting a column's
    * pushed range/equality conjuncts; strict bounds widen to inclusive
    * (conservative). Long probes use value-ordered canon only (doubles are
    * bit-domain — equality goes through bloom probes instead). */
  final case class RangeProbe(col: String, isLong: Boolean,
                              loL: Long, hiL: Long,
                              loB: Array[Byte], hiB: Array[Byte]) extends Serializable

  def rangeProbesOf(kinds: Map[String, EncodePipeline.ColPlan],
                    filters: Array[Filter]): Array[RangeProbe] = {
    // per column: intersected [lo, hi] over the value-ordered domain
    val longLo = scala.collection.mutable.Map.empty[String, Long]
    val longHi = scala.collection.mutable.Map.empty[String, Long]
    val strLo = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val strHi = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val cols = scala.collection.mutable.LinkedHashSet.empty[String]
    def narrowLong(c: String, lo: Option[Long], hi: Option[Long]): Unit = {
      cols += c
      lo.foreach(v => longLo(c) = math.max(longLo.getOrElse(c, Long.MinValue), v))
      hi.foreach(v => longHi(c) = math.min(longHi.getOrElse(c, Long.MaxValue), v))
    }
    def narrowStr(c: String, lo: Option[Array[Byte]], hi: Option[Array[Byte]]): Unit = {
      cols += c
      lo.foreach { v =>
        val cur = strLo.get(c).orNull
        if (cur == null || java.util.Arrays.compareUnsigned(v, cur) > 0) strLo(c) = v
      }
      hi.foreach { v =>
        val cur = strHi.get(c).orNull
        if (cur == null || java.util.Arrays.compareUnsigned(v, cur) < 0) strHi(c) = v
      }
    }
    def bound(c: String, v: Any, isLo: Boolean, isHi: Boolean): Unit =
      kinds.get(c).foreach { p =>
        if (p.kind == 'l')
          canonLong(p.sourceType, v).foreach(x =>
            narrowLong(c, if (isLo) Some(x) else None, if (isHi) Some(x) else None))
        else
          strBytes(v).foreach(b =>
            narrowStr(c, if (isLo) Some(b) else None, if (isHi) Some(b) else None))
      }
    filters.foreach {
      case sources.EqualTo(c, v) if v != null => bound(c, v, isLo = true, isHi = true)
      case sources.EqualNullSafe(c, v) if v != null => bound(c, v, isLo = true, isHi = true)
      case sources.GreaterThan(c, v) => bound(c, v, isLo = true, isHi = false)
      case sources.GreaterThanOrEqual(c, v) => bound(c, v, isLo = true, isHi = false)
      case sources.LessThan(c, v) => bound(c, v, isLo = false, isHi = true)
      case sources.LessThanOrEqual(c, v) => bound(c, v, isLo = false, isHi = true)
      case sources.StringStartsWith(c, pfx) if kinds.get(c).exists(_.kind != 'l') =>
        val pb = pfx.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        narrowStr(c, Some(pb), prefixSucc(pb)) // [p, succ(p)): succ is an inclusive-safe upper bound
      case sources.In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        // an IN-list bounds to [min, max] of its values — sound (a block
        // disjoint from the hull contains no element), complements the
        // bloom probe on tables without bm_ columns. ALL values must map
        // into the value-ordered canon or the probe is unsound — skip.
        kinds.get(c).foreach { p =>
          if (p.kind == 'l') {
            val xs = vs.map(canonLong(p.sourceType, _))
            if (xs.forall(_.isDefined))
              narrowLong(c, Some(xs.map(_.get).min), Some(xs.map(_.get).max))
          } else {
            val bs = vs.map(strBytes)
            if (bs.forall(_.isDefined)) {
              val sorted = bs.map(_.get).sortWith(java.util.Arrays.compareUnsigned(_, _) < 0)
              narrowStr(c, Some(sorted.head), Some(sorted.last))
            }
          }
        }
      case _ => ()
    }
    cols.iterator.map { c =>
      if (kinds.get(c).exists(_.kind == 'l'))
        RangeProbe(c, isLong = true,
          longLo.getOrElse(c, Long.MinValue), longHi.getOrElse(c, Long.MaxValue), null, null)
      else
        RangeProbe(c, isLong = false, 0L, 0L, strLo.get(c).orNull, strHi.get(c).orNull)
    }.filter(pr =>
      if (pr.isLong) pr.loL != Long.MinValue || pr.hiL != Long.MaxValue
      else pr.loB != null || pr.hiB != null).toArray
  }

  /** columns with a pushed IS NULL conjunct: a block whose null-wrapper
    * popcount is ZERO provably contains no matching row and is skipped
    * before any column decodes (the block-grain analog of the manifest's
    * null_value_counts part pruning). IsNotNull is deliberately NOT probed:
    * Spark pushes it for every predicate column, and paying a page unwrap
    * per block to reject only the rare all-null block would cost more than
    * it skips. */
  def nullProbesOf(kinds: Map[String, EncodePipeline.ColPlan],
                   filters: Array[Filter]): Array[String] =
    filters.collect { case sources.IsNull(c) if kinds.contains(c) => c }.distinct

  private val PartPrefix = """__part=(\d+)/""".r

  def survivorsOf(spark: SparkSession, outDir: String,
                  kinds: Map[String, EncodePipeline.ColPlan],
                  f: Filter): Option[Set[Int]] = {
    def recur(g: Filter) = survivorsOf(spark, outDir, kinds, g)
    def longRange(c: String, lo: Long, hi: Long) =
      Some(EncodePipeline.survivingPartsLong(spark, outDir, c, lo, hi).toSet)
    def strRange(c: String, lo: Array[Byte], hi: Array[Byte]) =
      Some(EncodePipeline.survivingPartsStr(spark, outDir, c, lo, hi).toSet)
    def point(c: String, v: Any): Option[Set[Int]] = kinds.get(c).flatMap { p =>
      if (p.kind == 'l') canonLong(p.sourceType, v).flatMap(x => longRange(c, x, x))
      else strBytes(v).flatMap(b => strRange(c, b, b))
    }
    def oneSided(c: String, v: Any, loSide: Boolean): Option[Set[Int]] =
      kinds.get(c).flatMap { p =>
        if (p.kind == 'l') canonLong(p.sourceType, v).flatMap { x =>
          if (loSide) Some(EncodePipeline.survivingPartsLong(spark, outDir, c, x, Long.MaxValue).toSet)
          else Some(EncodePipeline.survivingPartsLong(spark, outDir, c, Long.MinValue, x).toSet)
        } else strBytes(v).map { b =>
          if (loSide) EncodePipeline.survivingPartsStr(spark, outDir, c, b, null).toSet
          else EncodePipeline.survivingPartsStr(spark, outDir, c, null, b).toSet
        }
      }
    try f match {
      case sources.EqualTo(c, v) => point(c, v)
      case sources.EqualNullSafe(c, v) if v != null => point(c, v)
      case sources.In(c, vs) if vs.nonEmpty && !vs.contains(null) =>
        val sets = vs.toSeq.map(point(c, _))
        if (sets.forall(_.isDefined)) Some(sets.flatMap(_.get).toSet) else None
      case sources.GreaterThan(c, v) => oneSided(c, v, loSide = true)
      case sources.GreaterThanOrEqual(c, v) => oneSided(c, v, loSide = true)
      case sources.LessThan(c, v) => oneSided(c, v, loSide = false)
      case sources.LessThanOrEqual(c, v) => oneSided(c, v, loSide = false)
      case sources.IsNull(c) if kinds.contains(c) =>
        Some(EncodePipeline.survivingPartsIsNull(spark, outDir, c).toSet)
      // a `_file` id prefix naming one part: "__part=<p>/" keeps part p
      // (unless the table has a real `_file` column, which shadows it)
      case sources.StringStartsWith("_file", PartPrefix(p)) if !kinds.contains("_file") =>
        Some(Set(p.toInt))
      case sources.StringStartsWith(c, p) if kinds.get(c).exists(_.kind != 'l') =>
        val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        strRange(c, pb, prefixSucc(pb).orNull)
      case sources.And(l, r) =>
        (recur(l), recur(r)) match {
          case (Some(a), Some(b)) => Some(a intersect b)
          case (a, b) => a.orElse(b)
        }
      case sources.Or(l, r) =>
        for (a <- recur(l); b <- recur(r)) yield a union b
      case _ => None
    } catch { case _: Exception => None } // malformed manifest: pruning is optional
  }
}

class GraftScanBuilder(spark: SparkSession, outDir: String, tableSchema: StructType,
                       gen: Option[Int], ignoreChanges: Boolean = false,
                       maxFilesPerTrigger: Option[Int] = None,
                       branch: Option[String] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates
    with SupportsPushDownLimit {

  private val kinds: Map[String, EncodePipeline.ColPlan] =
    EncodePipeline.plan(tableSchema).map(p => p.name -> p).toMap

  private var required: StructType = tableSchema
  private var pushed: Array[Filter] = Array.empty
  private var allFilters: Array[Filter] = Array.empty
  private var survivors: Option[Set[Int]] = None // None = all parts
  private var aggRow: Option[(StructType, InternalRow)] = None
  private var limit: Int = -1

  // ---- filter pushdown: manifest zone maps prune whole parts; every
  // filter stays residual (bounds are supersets / truncated) ----
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    allFilters = filters // bloom block probes see every conjunct
    // survivingParts* resolve the CURRENT MAIN generation only: generation
    // pins and branch reads (whose unpublished rows can extend any bound)
    // skip part-level pruning; block-level probes stay (per-file headers)
    if (gen.isEmpty && branch.isEmpty) {
      val usable = filters.flatMap(f => survivorsOf(f).map(f -> _))
      if (usable.nonEmpty) {
        pushed = usable.map(_._1)
        survivors = Some(usable.map(_._2).reduce(_ intersect _))
      }
    }
    filters // all residual: Spark re-evaluates above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  private def survivorsOf(f: Filter): Option[Set[Int]] =
    GraftPruning.survivorsOf(spark, outDir, kinds, f)

  // ---- column pruning ----
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // ---- aggregate pushdown: complete-only, served from manifest stats.
  // (buildAggRow runs a driver-side manifest read; memoized because Spark
  // probes supportCompletePushDown before pushAggregation.) ----
  private var aggMemo: Option[(Aggregation, Option[(StructType, InternalRow)])] = None
  private def aggRowOf(aggregation: Aggregation): Option[(StructType, InternalRow)] = {
    if (!aggMemo.exists(_._1 eq aggregation))
      aggMemo = Some(aggregation -> buildAggRow(aggregation))
    aggMemo.get._2
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggRowOf(aggregation).isDefined

  override def pushAggregation(aggregation: Aggregation): Boolean = {
    val r = aggRowOf(aggregation)
    r.foreach(v => aggRow = Some(v))
    r.isDefined
  }

  /** integer-like long-kind source types: bit-domain stats order by value */
  private def orderedLongKind(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def colNameOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames.head)
      case _ => None
    }

  private def buildAggRow(aggregation: Aggregation): Option[(StructType, InternalRow)] = {
    if (aggregation.groupByExpressions.nonEmpty || gen.nonEmpty ||
        branch.nonEmpty) return None
    val stats: Map[String, org.apache.spark.sql.Row] =
      try EncodePipeline.tableStats(spark, outDir, tableSchema)
        .collect().map(r => r.getString(0) -> r).toMap
      catch { case _: Exception => return None } // live DVs / pre-stats era
    val nRows: Long = stats.headOption.map(_._2.getLong(1)).getOrElse(0L)
    // manifest stats are canonical longs; restore the source's InternalRow repr
    def restore(dt: DataType, v: Long): Any = dt match {
      case IntegerType | DateType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case _ => v // Long / Timestamp(NTZ) are longs in InternalRow
    }
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    aggregation.aggregateExpressions.foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
        values += nRows
      case c: Count if !c.isDistinct =>
        val n = colNameOf(c.column).flatMap(stats.get).map(_.getLong(2))
        if (n.isEmpty) return None
        fields += StructField("count", LongType, nullable = false)
        values += n.get
      case m: Min =>
        val v = for {
          name <- colNameOf(m.column)
          p <- kinds.get(name) if p.kind == 'l' && orderedLongKind(p.sourceType)
          r <- stats.get(name)
        } yield (p.sourceType, if (r.isNullAt(4)) null else restore(p.sourceType, r.getLong(4)))
        if (v.isEmpty) return None
        fields += StructField("min", v.get._1, nullable = true)
        values += v.get._2
      case m: Max =>
        val v = for {
          name <- colNameOf(m.column)
          p <- kinds.get(name) if p.kind == 'l' && orderedLongKind(p.sourceType)
          r <- stats.get(name)
        } yield (p.sourceType, if (r.isNullAt(5)) null else restore(p.sourceType, r.getLong(5)))
        if (v.isEmpty) return None
        fields += StructField("max", v.get._1, nullable = true)
        values += v.get._2
      case s: Sum if !s.isDistinct =>
        // sums only where SQL defines them on the canonical domain
        val v = for {
          name <- colNameOf(s.column)
          p <- kinds.get(name)
          if p.sourceType == LongType || p.sourceType == IntegerType ||
             p.sourceType == ShortType || p.sourceType == ByteType
          r <- stats.get(name)
        } yield r
        if (v.isEmpty) return None
        val r = v.get
        // null sum over n_values>0 = the exact total overflows a long
        // (manifest declines) — fall back to a scan, which reproduces
        // Spark's own ANSI overflow semantics instead of a wrapped number
        if (r.isNullAt(6) && r.getLong(2) > 0L) return None
        fields += StructField("sum", LongType, nullable = true)
        values += (if (r.isNullAt(6)) null else java.lang.Long.valueOf(r.getLong(6)))
      case _ => return None
    }
    Some((StructType(fields.toSeq), new GenericInternalRow(values.toArray)))
  }

  // ---- limit pushdown (partial: per-partition truncation) ----
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggRow match {
    case Some((schema, row)) => new GraftAggScan(outDir, schema, row)
    case None =>
      val scan = new GraftScan(spark, outDir, tableSchema, required, gen, survivors, pushed,
        limit, ignoreChanges, allFilters, maxFilesPerTrigger, branch)
      // filters that leave no data file to read make the scan a constant:
      // an empty local relation, which Spark answers without a job. A read
      // with no filter (every streaming read) stays a file scan.
      if (allFilters.nonEmpty && scan.planInputPartitions().isEmpty)
        new GraftEmptyScan(required, scan.description())
      else scan
  }
}

object GraftScan {
  /** test/diagnostic probe: outDir → input partitions pruned by the last
    * runtime filter (runtime filtering is semantically invisible, so specs
    * pin its effect here) */
  val runtimeFilterProbe = new java.util.concurrent.ConcurrentHashMap[String, Int]()

  /** column plans for a (possibly pruned) read schema that may request the
    * metadata columns `_file`/`_block`/`_pos` — those get kind 'm'
    * (synthesized per row by the reader, no blob behind them). A TABLE
    * column of the same name shadows the metadata one (Spark's
    * canRenameConflictingMetadataColumns=false semantics). */
  def planWithMeta(tableSchema: StructType, required: StructType):
      Array[EncodePipeline.ColPlan] = {
    val metaNames =
      Set("_file", "_block", "_pos", "_change_type") -- tableSchema.fieldNames.toSet
    required.fields.map { fl =>
      if (metaNames.contains(fl.name)) EncodePipeline.ColPlan(fl.name, 'm', fl.dataType)
      else EncodePipeline.plan(StructType(Seq(fl))).head
    }
  }
}

/** manifest-served aggregate result: zero input partitions, zero data files */
class GraftAggScan(outDir: String, aggSchema: StructType, row: InternalRow)
    extends LocalScan {
  override def rows(): Array[InternalRow] = Array(row)
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftAggScan $outDir PushedAggregation: [${aggSchema.fieldNames.mkString(", ")}] (manifest-only)"
}

/** a read whose pushed filters leave no data file: zero rows, described as
  * the file scan it replaces */
class GraftEmptyScan(schema: StructType, scanDescription: String) extends LocalScan {
  override def rows(): Array[InternalRow] = Array.empty
  override def readSchema(): StructType = schema
  override def description(): String = scanDescription
}

/** plans a [[GraftEmptyScan]], with the projection and filters above it, as
  * one empty local table: Spark collects that on the driver, so an absent
  * key's lookup runs no job (Spark's own plan of a `LocalScan` puts the
  * filter above it and runs a job with no task). Installed by
  * [[graft.plans.GraftExtensions]]. */
object GraftEmptyScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, _, r: DataSourceV2ScanRelation)
        if r.scan.isInstanceOf[GraftEmptyScan] =>
      LocalTableScanExec(project.map(_.toAttribute), Nil, None) :: Nil
    case _ => Nil
  }
}

/** one input partition per data file; blocks are self-contained. The
  * partition key is the file's `__part` id — the value of the table's
  * placement transform — so Spark can group co-part files and line two
  * graft scans up for a storage-partitioned join. */
case class GraftInputPartition(path: String, part: Int,
                               deletes: Map[Int, Array[Byte]],
                               // change-feed DELETE partitions: emit ONLY
                               // these block positions (null elsewhere)
                               keepOnly: Map[Int, Array[Int]] = null,
                               // "insert" / "delete" constant for the
                               // _change_type column (null on normal scans)
                               changeType: String = null)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](part))
}

class GraftScan(spark: SparkSession, outDir: String, tableSchema: StructType,
                required: StructType, gen: Option[Int], survivors: Option[Set[Int]],
                pushed: Array[Filter], limit: Int, ignoreChanges: Boolean = false,
                allFilters: Array[Filter] = Array.empty,
                maxFilesPerTrigger: Option[Int] = None,
                branch: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val kinds: Map[String, EncodePipeline.ColPlan] =
    EncodePipeline.plan(tableSchema).map(p => p.name -> p).toMap

  /** the pushed equality and In conjuncts as Bloom probes: they drop whole
    * files at plan time ([[planned]]) and blocks inside the reader */
  private lazy val bloomProbes: Array[GraftPruning.BloomProbe] =
    GraftPruning.bloomProbesOf(kinds, allFilters)

  // ---- runtime filtering (dynamic "partition" pruning): after a join's
  // build side materializes, Spark hands its key values back as filters;
  // the manifest zone maps then prune whole part directories that were
  // un-prunable at plan time. At fleet scale this turns a selective
  // dim→fact join from a full-table scan into a few parts. Filters are
  // pruning-only (supersets) — Spark keeps evaluating them above the scan.
  @volatile private var runtimeSurvivors: Option[Set[Int]] = None

  /** every encodable column carries manifest zone maps, so all are
    * runtime-filterable — but Spark resolves these against the PRUNED scan
    * output, so only advertise columns that survived projection.
    * Generation pins decline (survivingParts* resolve the CURRENT
    * generation only). */
  override def filterAttributes(): Array[NamedReference] =
    if (gen.nonEmpty || branch.nonEmpty) Array.empty
    else EncodePipeline.plan(tableSchema)
      .filter(p => required.fieldNames.contains(p.name))
      .map(p => Expressions.column(p.name)).toArray

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.flatMap(f => GraftPruning.survivorsOf(spark, outDir, kinds, f))
    if (sets.nonEmpty) {
      val s = sets.reduce(_ intersect _)
      runtimeSurvivors = Some(s)
      // probe records parts the whole skip stack dropped as of this filter:
      // under AQE the broadcast's values often ALSO fold into a plan-time
      // In() pushdown on the re-planned scan (plannedParts then already
      // shrank), so count against the table's full current part set
      val total = EncodePipeline.currentFiles(spark, outDir, gen)
        .map(_._1).distinct.size
      val left = plannedParts.map(_.part).distinct.count(s.contains)
      GraftScan.runtimeFilterProbe.put(outDir, total - left)
    }
  }

  /** report the table's placement law so two co-specced graft tables join
    * WITHOUT a shuffle (storage-partitioned join): KeyGroupedPartitioning
    * over `graft_part_<kind>_<P>[_<S>](key)`, resolved through
    * [[GraftCatalog]]'s FunctionCatalog (catalog reads only — a pathed
    * `format("graft")` read has no function catalog, and Spark then drops
    * the report). Requires spark.sql.sources.v2.bucketing.enabled=true on
    * the session. Only reported while the key column survives projection
    * (the transform must resolve against the scan output) and rows exist. */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    EncodePipeline.readPartSpec(spark, outDir).filter(s => required.fieldNames.contains(s.key)) match {
      case Some(s) if plannedParts.nonEmpty =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(GraftPartFunction.transformOf(s)),
          plannedParts.map(_.part).distinct.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
          plannedParts.length)
    }
  }

  /** the table as a STREAMING SOURCE: micro-batches are the set difference
    * of generation-current data files between offsets — each committed
    * append (batch write, appendCommit, StreamingEncode micro-batch)
    * streams exactly once, the Delta/Iceberg "table as a change feed for
    * appends" pattern. Column pruning applies; zone-map part pruning and
    * LIMIT are deliberately NOT applied (they were computed against the
    * plan-time manifest and would wrongly prune future commits; Spark
    * still evaluates the residual filters above the source). Compaction
    * or copy-on-write DML mid-stream REWRITES files — streamed rows would
    * reappear in new files — and live delete vectors mutate visibility,
    * so both fail the stream unless option("ignoreChanges") accepts the
    * reprocessing, mirroring Delta's semantics. */
  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(branch.isEmpty, "readStream over a branch is not supported — " +
      "branches are audit state; stream the table after fastForward publishes")
    new GraftMicroBatchStream(spark, outDir, tableSchema, required, ignoreChanges,
      maxFilesPerTrigger)
  }
  override def description(): String = {
    val f = if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]"
    val l = if (limit < 0) "" else s" PushedLimit: $limit"
    val b = if (bloomProbes.isEmpty) "" else s" BloomFiles: ${plannedParts.length}/$candidates"
    s"GraftScan $outDir${gen.map(g => s" gen=$g").getOrElse("")}" +
      s"${branch.map(b => s" branch=$b").getOrElse("")}$f$l$b"
  }

  /** memoized: outputPartitioning() (resolved at optimization time) and
    * planInputPartitions() (physical planning) must agree on the partition
    * count, so both read one plan of the same generation snapshot. The
    * files the zone maps keep are the candidates; with Bloom probes, only
    * those whose block filters admit every probe are planned
    * ([[GraftPruning.fileAdmits]]). Returns (planned, candidate count). */
  private lazy val planned: (Array[GraftInputPartition], Int) = {
    val files = EncodePipeline.currentFiles(spark, outDir, gen, branch)
      .filter { case (p, _) => survivors.forall(_.contains(p)) }
    val conf = spark.sparkContext.hadoopConfiguration
    val admitted =
      if (bloomProbes.isEmpty) files
      else files.filter { case (_, f) => GraftPruning.fileAdmits(f, bloomProbes, conf) }
    val dv: Map[(String, Int), Array[Byte]] = gen match {
      case Some(g) => EncodePipeline.loadDeletes(spark, outDir, g)
      case None => EncodePipeline.loadDeletes(spark, outDir)
    }
    val parts = admitted.map { case (p, f) =>
      val suffix = EncodePipeline.fileSuffix(f)
      val slice = dv.collect { case ((s, b), bm) if s == suffix => b -> bm }
      GraftInputPartition(f, p, slice)
    }.toArray
    (parts, files.length)
  }
  private def plannedParts: Array[GraftInputPartition] = planned._1
  private def candidates: Int = planned._2

  override def planInputPartitions(): Array[InputPartition] = {
    val rs = runtimeSurvivors
    plannedParts.filter(p => rs.forall(_.contains(p.part))).toArray[InputPartition]
  }

  /** built once: Spark asks each copy of the scan's exec node for it (in
    * physical planning, adaptive re-planning and query-stage creation), and
    * every copy shares this one factory and its dictionaries' broadcast */
  private lazy val readerFactory: PartitionReaderFactory = {
    // absent dicts/ reads as no dictionaries; an unreadable one fails the read
    val dicts = EncodePipeline.loadDicts(spark, outDir)
    val dictsBc = if (dicts.isEmpty) None
                  else Some(spark.sparkContext.broadcast(dicts))
    GraftReaderFactory(Bridge.hadoopConfBroadcast(spark),
      GraftScan.planWithMeta(tableSchema, required), dictsBc, limit,
      probes = bloomProbes,
      rangeProbes = GraftPruning.rangeProbesOf(kinds, allFilters),
      nullProbes = GraftPruning.nullProbesOf(kinds, allFilters))
  }
  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** exact stats from the manifest: decoded size for join sizing, row count
    * minus live delete-vector positions */
  override def estimateStatistics(): Statistics = {
    try {
      val view = EncodePipeline.manifestView(spark, outDir, gen, branch)
      val live = view.partTotals.filter { case (p, _) => survivors.forall(_.contains(p)) }
      val deleted = (gen match {
        case Some(g) => EncodePipeline.loadDeletes(spark, outDir, g)
        case None => EncodePipeline.loadDeletes(spark, outDir)
      }).valuesIterator.map(_.foldLeft(0L)((s, x) => s + java.lang.Integer.bitCount(x & 0xff))).sum
      val liveRows = live.valuesIterator.map(_._1).sum
      val rows = liveRows - deleted
      val bytes = live.valuesIterator.map(_._2).sum
      // column-level CBO statistics (SPARK-41378 V2 column stats): NDV from
      // the manifest's KMV sketches (Iceberg Puffin parity), null counts and
      // long min/max from the exact per-part stats columns. Only computed
      // when the optimizer will actually read them (spark.sql.cbo.enabled).
      // Live delete vectors make these slight over-counts; CBO stats are
      // estimates by contract.
      val colStats: java.util.Map[NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        if (!spark.conf.get("spark.sql.cbo.enabled", "false").toBoolean)
          java.util.Collections.emptyMap()
        else buildColumnStats(view, liveRows)
      new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.of(math.max(bytes, 1L))
        override def numRows(): OptionalLong = OptionalLong.of(math.max(rows, 0L))
        override def columnStats(): java.util.Map[NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = colStats
      }
    } catch {
      case _: Exception => new Statistics {
        override def sizeInBytes(): OptionalLong = OptionalLong.empty()
        override def numRows(): OptionalLong = OptionalLong.empty()
      }
    }
  }

  /** per-column Statistics.columnStats() from the manifest alone, merged
    * from the (plan-time-surviving) parts' per-column sums and sketches. A
    * column whose sketch merged to poison reports no distinctCount; a
    * column with unknown-era null counts reports no nullCount; min/max only
    * for long-kind columns (Catalyst long-backed types — Long/Timestamp/Date
    * internals). */
  private def buildColumnStats(view: graft.plans.ManifestView, liveRows: Long):
      java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val plans = EncodePipeline.plan(tableSchema).map(p => p.name -> p).toMap
    val out = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    view.columnTotals(p => survivors.forall(_.contains(p)))
      .filter { case (name, _) => plans.contains(name) }.foreach { case (name, t) =>
        val nullCnt: Option[Long] =
          if (t.nullsKnown) Some(t.nulls + (liveRows - t.rows)) else None
        val isLong = plans(name).kind == 'l'
        // manifest value_min/value_max live in the CANONICAL long domain;
        // report them to the CBO only where that domain IS the column's
        // Catalyst-internal domain (r5 advice: double/float bits and their
        // unordered-bits min/max would skew selectivity estimates). Dates
        // decode to their internal day count; timestamps' micros ARE the
        // internal long.
        def domain(v: Long): Option[Object] = plans(name).sourceType match {
          case LongType => Some(java.lang.Long.valueOf(v): Object)
          case TimestampType | TimestampNTZType => Some(java.lang.Long.valueOf(v): Object)
          case IntegerType => Some(java.lang.Integer.valueOf(v.toInt): Object)
          case DateType => Some(java.lang.Integer.valueOf(v.toInt): Object)
          case ShortType => Some(java.lang.Short.valueOf(v.toShort): Object)
          case ByteType => Some(java.lang.Byte.valueOf(v.toByte): Object)
          case _ => None // double/float: bits order != numeric order
        }
        val vMin = if (isLong) t.vMin.flatMap(domain) else None
        val vMax = if (isLong) t.vMax.flatMap(domain) else None
        if (t.ndv.nonEmpty || nullCnt.nonEmpty || vMin.nonEmpty)
          out.put(Expressions.column(name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): OptionalLong =
                t.ndv.map(e => OptionalLong.of(e._1)).getOrElse(OptionalLong.empty())
              override def nullCount(): OptionalLong =
                nullCnt.map(OptionalLong.of).getOrElse(OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                vMin.map(v => java.util.Optional.of(v)).getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                vMax.map(v => java.util.Optional.of(v)).getOrElse(java.util.Optional.empty[Object]())
            })
      }
    out
  }
}

/** offset = the sorted set of generation-current data-file suffixes seen so
  * far. Set difference between offsets is order-independent, so commits
  * landing out of order across parts still stream exactly once. The offset
  * JSON carries the full list — the same trade Delta's file-based sources
  * make; fine into the tens of thousands of files, and compaction keeps
  * file counts low by design. */
case class GraftSourceOffset(files: Seq[String])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    files.sorted.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object GraftSourceOffset {
  def fromJson(j: String): GraftSourceOffset = {
    // minimal JSON string-array parse (offsets are our own serialization)
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inStr = false; var esc = false
    j.foreach { ch =>
      if (esc) { sb.append(ch); esc = false }
      else if (inStr && ch == '\\') esc = true
      else if (inStr && ch == '"') { inStr = false; items += sb.toString; sb.clear() }
      else if (!inStr && ch == '"') inStr = true
      else if (inStr) sb.append(ch)
    }
    GraftSourceOffset(items.toSeq)
  }
}

class GraftMicroBatchStream(spark: SparkSession, outDir: String,
                            tableSchema: StructType,
                            required: StructType, ignoreChanges: Boolean,
                            maxFilesPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  /** current (suffix → (part, absolute path)); resolved fresh per call */
  private def current(): Map[String, (Int, String)] =
    EncodePipeline.currentFiles(spark, outDir).map { case (p, f) =>
      EncodePipeline.fileSuffix(f) -> (p, f)
    }.toMap

  // ---- admission control (Delta maxFilesPerTrigger parity): at 100 TB a
  // backfill start must not plan the whole table into ONE micro-batch —
  // option("maxFilesPerTrigger", n) caps each batch at n data files
  // (deterministic: unseen suffixes in sorted order), and
  // Trigger.AvailableNow pins the end target at stream start so a bounded
  // backfill terminates even while writers keep committing ----
  @volatile private var availableNowTarget: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current().keySet)
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val seen = start.asInstanceOf[GraftSourceOffset].files.toSet
    val avail0 = current().keySet
    // under AvailableNow, files committed after stream start are NOT part
    // of this run (they stream on the next start from the checkpoint)
    val avail = availableNowTarget.fold(avail0)(avail0 intersect _)
    val fresh = (avail -- seen).toSeq.sorted
    val take = limit match {
      case mf: ReadMaxFiles => fresh.take(mf.maxFiles())
      case _ => fresh
    }
    GraftSourceOffset((seen ++ take).toSeq)
  }
  override def reportLatestOffset(): Offset = GraftSourceOffset(current().keys.toSeq)

  override def initialOffset(): Offset = GraftSourceOffset(Nil) // whole table
  override def latestOffset(): Offset = GraftSourceOffset(current().keys.toSeq)
  override def deserializeOffset(json: String): Offset = GraftSourceOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[GraftSourceOffset].files.toSet
    val until = end.asInstanceOf[GraftSourceOffset].files.toSet
    val cur = current()
    if (!ignoreChanges) {
      val rewritten = seen -- cur.keySet
      if (rewritten.nonEmpty)
        throw new IllegalStateException(
          s"graft streaming source: ${rewritten.size} already-streamed data files were " +
          "rewritten (compaction or copy-on-write DML ran mid-stream) — rows would " +
          "reprocess; restart the stream or accept with option(\"ignoreChanges\", \"true\")")
      if (EncodePipeline.loadDeletes(spark, outDir).nonEmpty)
        throw new IllegalStateException(
          "graft streaming source: live merge-on-read delete vectors mutate visibility " +
          "mid-stream; materializeDeletes() first or accept with option(\"ignoreChanges\", \"true\")")
    }
    (until -- seen).toSeq.sorted.flatMap(cur.get).map { case (p, f) =>
      GraftInputPartition(f, p, Map.empty): InputPartition
    }.toArray
  }

  /** called once per micro-batch (MicroBatchScanExec), so shared
    * dictionaries committed by later appends are re-broadcast each batch */
  override def createReaderFactory(): PartitionReaderFactory = {
    val dicts = EncodePipeline.loadDicts(spark, outDir)
    val dictsBc = if (dicts.isEmpty) None else Some(spark.sparkContext.broadcast(dicts))
    GraftReaderFactory(Bridge.hadoopConfBroadcast(spark),
      GraftScan.planWithMeta(tableSchema, required), dictsBc, -1)
  }
}

case class GraftReaderFactory(conf: Bridge.HadoopConfBroadcast,
                              cols: Array[EncodePipeline.ColPlan],
                              dicts: Option[org.apache.spark.broadcast.Broadcast[Map[Long, Codecs.DictTable]]],
                              limit: Int,
                              probes: Array[GraftPruning.BloomProbe] = Array.empty,
                              rangeProbes: Array[GraftPruning.RangeProbe] = Array.empty,
                              nullProbes: Array[String] = Array.empty)
    extends PartitionReaderFactory {
  /** every partition reads columnar ([[GraftColumnarReader]]) */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft scans read columnar batches only")
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new GraftColumnarReader(partition.asInstanceOf[GraftInputPartition], this)
}

/** same-JVM diagnostic: blocks actually decoded by file readers (local-mode
  * tests and the q_zone_skip/q_bloom oracle pins assert block skipping
  * through it; one atomic add per ~4096 rows). */
private[graft] object ReaderDiag {
  val blocksDecoded = new java.util.concurrent.atomic.AtomicLong()
}

/** one parquet data file opened once: its footer schema, then the records
  * of a projection of it as example-API `Group`s, row group by row group.
  * These are the records `ParquetReader` over `GroupReadSupport` yields,
  * without that reader's second footer read. Every page read is checked
  * against the CRC its writer stored, and a page that fails the check, or
  * fails to decode, throws an error naming this file. Row groups are read
  * on the calling thread, not with Hadoop's vectored reads (parquet's
  * default), which the local file system serves on other threads: Spark
  * reports a task's input bytes from its own thread's file-system counter. */
private[sources] final class GroupFile(path: Path, conf: Configuration)
    extends java.io.Closeable {
  private val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
    HadoopReadOptions.builder(conf, path).usePageChecksumVerification(true)
      .withUseHadoopVectoredIo(false).build())
  val schema: MessageType = reader.getFooter.getFileMetaData.getSchema
  private var io: MessageColumnIO = _
  private var converter: GroupRecordConverter = _
  private var records: RecordReader[Group] = _
  private var left = 0L

  /** read only the top-level fields `names` from here on */
  def project(names: Seq[String]): Unit = {
    val projection = new MessageType("graft_projection",
      names.map(n => schema.getType(schema.getFieldIndex(n))).asJava)
    reader.setRequestedSchema(projection)
    io = new ColumnIOFactory(reader.getFooter.getFileMetaData.getCreatedBy)
      .getColumnIO(projection, schema, true)
    converter = new GroupRecordConverter(projection)
  }

  /** the next record of the projection; null at end of file */
  def read(): Group = try {
    while (left == 0) {
      val pages = reader.readNextRowGroup()
      if (pages == null) return null
      left = pages.getRowCount
      records = io.getRecordReader(pages, converter)
    }
    left -= 1
    records.read()
  } catch {
    case e: ParquetDecodingException =>
      throw new ParquetDecodingException(s"graft data file $path: ${e.getMessage}", e)
  }

  override def close(): Unit = reader.close()
}

/** VECTORIZED reader: one ColumnarBatch per block, each column a read-only
  * [[GraftVector]] VIEW over the decode kernel's arrays — zero copies, no
  * per-row InternalRow, no per-value boxing; Spark's ColumnarToRow /
  * whole-stage codegen consumes the vectors directly (the same shape its
  * own vectorized parquet reader feeds it). Strings stay UTF8String views
  * over the block's shared StrView buffer. Delete-vector survivors apply
  * through a position indirection (`_pos` reports the ORIGINAL block
  * position); blocks with no deletes skip the indirection entirely. Only
  * the projected columns' blobs are requested from parquet (column pruning
  * reaches the file bytes). The only reader of graft data files. */
class GraftColumnarReader(p: GraftInputPartition, f: GraftReaderFactory)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  f.dicts.foreach(b => Codecs.registerDicts(b.value))

  private val file = new GroupFile(new Path(p.path), f.conf.value)
  // projection from the FILE's own schema (mergeSchema eras differ per file;
  // a column this file predates simply decodes as all-null)
  private val fileSchema: MessageType = file.schema
  private val present: Array[Boolean] =
    f.cols.map(c => c.kind != 'm' && fileSchema.containsField("e_" + c.name))
  // the part-qualified data-file id (what `_file` reports and delete
  // vectors key on), computed once per file
  private val fileSuffixU8: UTF8String =
    UTF8String.fromString(EncodePipeline.fileSuffix(p.path))
  // change-feed reads: the partition-constant _change_type value
  private val changeTypeU8: UTF8String =
    if (p.changeType == null) null else UTF8String.fromString(p.changeType)
  // bloom block probes active for THIS file: pushed equality/In conjuncts
  // whose bm_<col> filter column exists in the file's era. A block is read
  // only if every probe finds a possibly-present hash (no false negatives,
  // and all filters stay residual above the scan — pure skipping).
  private val activeProbes: Array[(String, Array[Long])] =
    f.probes.collect {
      case pr if fileSchema.containsField("bm_" + pr.col) => ("bm_" + pr.col, pr.anyOf)
    }
  // range probes check the e_<col> blob's header-derived bounds (zone maps
  // at BLOCK grain — sorted tables make them selective on the sort key);
  // the probe column is projected even when the query doesn't select it
  private val activeRanges: Array[GraftPruning.RangeProbe] =
    f.rangeProbes.filter(pr => fileSchema.containsField("e_" + pr.col))
  // IS NULL probes: only a PRESENT field can disprove the probe (a zero
  // null-wrapper popcount); absent fields (pre-evolution parts) are all-null
  // and trivially admit
  private val activeNulls: Array[String] =
    f.nullProbes.filter(c => fileSchema.containsField("e_" + c))
  try file.project((Seq("__block", "__cnt") ++
      f.cols.filter(c => fileSchema.containsField("e_" + c.name)).map("e_" + _.name) ++
      activeProbes.map(_._1) ++ activeRanges.map("e_" + _.col) ++
      activeNulls.map("e_" + _)).distinct)
  catch { case e: Throwable => file.close(); throw e }

  /** false = the block's bloom filters or zone bounds PROVE some pushed
    * conjunct cannot match any row of the block (all-null blocks can't
    * match a value predicate either — residual 3VL drops their rows). */
  private def blockAdmits(g: Group): Boolean = {
    var i = 0
    while (i < activeProbes.length) {
      val (field, anyOf) = activeProbes(i)
      if (g.getFieldRepetitionCount(field) > 0) { // null filter = no claim
        val bm = g.getBinary(field, 0).getBytes
        var hit = false
        var k = 0
        while (!hit && k < anyOf.length) {
          if (graft.core.Bloom.maybe(bm, anyOf(k))) hit = true
          k += 1
        }
        if (!hit) return false
      }
      i += 1
    }
    i = 0
    while (i < activeRanges.length) {
      val pr = activeRanges(i)
      if (g.getFieldRepetitionCount("e_" + pr.col) > 0) {
        val blob = g.getBinary("e_" + pr.col, 0).getBytes
        val inner = Codecs.innerCodecIdOf(blob)
        if (inner == -1) return false // all-null block: value predicate is 3VL-null
        // raw/FSST text bounds are excluded: their probe decodes the most
        // expensive payloads in the suite and rejects ~nothing
        if (Codecs.rangeIsCheap(inner)) {
          if (pr.isLong) {
            val r = Codecs.rangeOfLong(blob)
            if (r == null || r._2 < pr.loL || r._1 > pr.hiL) return false
          } else {
            val r = Codecs.rangeOfStr(blob)
            if (r == null) return false
            val (lo, hi) = r // hi null = unbounded above
            if (pr.hiB != null && java.util.Arrays.compareUnsigned(lo, pr.hiB) > 0) return false
            if (pr.loB != null && hi != null &&
                java.util.Arrays.compareUnsigned(hi, pr.loB) < 0) return false
          }
        }
      }
      i += 1
    }
    i = 0
    while (i < activeNulls.length) {
      val field = "e_" + activeNulls(i)
      if (g.getFieldRepetitionCount(field) > 0 &&
          Codecs.nullCountOf(g.getBinary(field, 0).getBytes) == 0L)
        return false // zero nulls: IS NULL matches no row of this block
      i += 1
    }
    true
  }

  override def close(): Unit = file.close()

  /** the id of the block [[nextBlock]] last returned */
  private var block: Int = -1

  /** decode the next block's projected blobs; null at end of file.
    * Metadata columns have no blob and decode as all-null. */
  private def nextBlock(): EncodePipeline.DecodedBlock = {
    // change-feed delete partitions touch only their diff blocks
    def wanted(g: Group): Boolean =
      p.keepOnly == null || p.keepOnly.contains(g.getInteger("__block", 0))
    var g = file.read()
    while (g != null && (!wanted(g) ||
        ((activeProbes.nonEmpty || activeRanges.nonEmpty ||
          activeNulls.nonEmpty) && !blockAdmits(g))))
      g = file.read()
    if (g == null) return null
    ReaderDiag.blocksDecoded.incrementAndGet()
    block = g.getInteger("__block", 0)
    EncodePipeline.decodeBlock(f.cols, g.getInteger("__cnt", 0)) { c =>
      val name = "e_" + f.cols(c).name
      if (!present(c) || g.getFieldRepetitionCount(name) == 0) null
      else g.getBinary(name, 0).getBytes
    }
  }

  /** positions surviving this block's delete vector, in block order;
    * null = no vector for this block, every position survives (callers
    * treat null as identity — no per-block allocation on the common path) */
  private def liveIdx(db: EncodePipeline.DecodedBlock): Array[Int] = {
    if (p.keepOnly != null)
      // change-feed delete partitions: emit ONLY the newly-masked positions
      // (the window's bit diff excludes re-deletes, so every kept position
      // was live at the window start — no vector to subtract)
      return p.keepOnly.getOrElse(block, Array.empty[Int])
    val bm = p.deletes.getOrElse(block, null)
    if (bm == null) null
    else {
      val out = new Array[Int](db.n)
      var m = 0
      var i = 0
      while (i < db.n) {
        if ((i >> 3) >= bm.length || (bm(i >> 3) & (1 << (i & 7))) == 0) { out(m) = i; m += 1 }
        i += 1
      }
      java.util.Arrays.copyOf(out, m)
    }
  }

  private var batch: ColumnarBatch = _
  private var emitted = 0

  override def next(): Boolean = {
    if (f.limit >= 0 && emitted >= f.limit) return false
    while (true) {
      val db = nextBlock()
      if (db == null) return false
      // null live = no deletes for this block → identity positions
      val live: Array[Int] = liveIdx(db)
      val m = if (live == null) db.n else live.length
      if (m > 0) {
        batch = new ColumnarBatch(buildVectors(db, live, m))
        var rows = m
        if (f.limit >= 0 && emitted + rows > f.limit) rows = f.limit - emitted
        batch.setNumRows(rows)
        emitted += rows
        return true
      }
    }
    false
  }

  override def get(): ColumnarBatch = batch

  private def buildVectors(db: EncodePipeline.DecodedBlock, live: Array[Int],
                           m: Int): Array[ColumnVector] = {
    val out = new Array[ColumnVector](f.cols.length)
    var c = 0
    while (c < f.cols.length) {
      out(c) =
        if (f.cols(c).kind == 'm') f.cols(c).name match {
          case "_file" => new GraftConstStringVector(fileSuffixU8)
          case "_block" => new GraftConstIntVector(block)
          case "_pos" => new GraftPosVector(live)
          case "_change_type" => new GraftConstStringVector(changeTypeU8)
        }
        else if (db.allNull(c)) new GraftAllNullVector(f.cols(c).sourceType, m)
        else f.cols(c).kind match {
          case 'l' =>
            new GraftLongsVector(f.cols(c).sourceType, db.longVals(c), db.longNulls(c), live)
          case 's' => new GraftStringVector(db.strViews(c), live)
          case _ => new GraftBinaryVector(db.binVals(c), live)
        }
      c += 1
    }
    out
  }
}
