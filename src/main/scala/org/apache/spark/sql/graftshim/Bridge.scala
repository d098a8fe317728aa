package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata,
  HadoopFsRelation, LogicalRelationWithTable, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** The single place this library touches Spark-internal APIs.
  *
  * Spark 4 made `Column` backend-agnostic (Spark Connect); the classic
  * Expression↔Column converters (`org.apache.spark.sql.classic.
  * ExpressionUtils`) became `private[sql]`. Wrapping custom Catalyst
  * expressions as Columns therefore needs this shim placed inside the
  * `org.apache.spark.sql` namespace — the established pattern used by
  * Catalyst-extension libraries. Everything else in the engine lives in
  * `graft.*` and uses only public Spark API.
  *
  * `toRdd`/`internalCreateDataFrame` expose the InternalRow boundary so the
  * block encode/decode kernels can run without the external-Row boxing round
  * trip (`DeserializeToObject createexternalrow` → `SerializeFromObject`)
  * that a typed `Dataset.mapPartitions` inserts — at 100 TB every value
  * would be boxed twice.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** physical InternalRow RDD of a DataFrame's executed plan */
  def toRdd(df: DataFrame): RDD[InternalRow] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd

  /** DataFrame over raw InternalRows (inverse of toRdd) */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Hadoop Configuration shipped to executors broadcast-style (Spark's
    * own SerializableConfiguration is private[spark]; this wrapper keeps
    * the private type out of public signatures). The `format("graft")`
    * connector's partition readers open parquet data files with it. */
  final class HadoopConfBroadcast private[graftshim] (
      bc: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.SerializableConfiguration])
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = bc.value.value
  }

  /** the broadcast of a copy of `sc`'s Hadoop configuration, and the
    * entries it was copied from */
  private final case class ConfShipped(sc: java.lang.ref.WeakReference[SparkContext],
                                       entries: Map[String, String], bc: HadoopConfBroadcast)
  private var confShipped: Option[ConfShipped] = None

  /** the session's Hadoop configuration as a broadcast: one per
    * SparkContext, broadcast again only when the entries of
    * `hadoopConfiguration` differ from those the current broadcast was
    * copied from (an exact compare, far cheaper than shipping the conf).
    * The value is a copy, so executors see the conf as it was when copied. */
  def hadoopConfBroadcast(spark: SparkSession): HadoopConfBroadcast = synchronized {
    val sc = spark.sparkContext
    val live = sc.hadoopConfiguration
    val entries = live.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    confShipped match {
      case Some(s) if (s.sc.get eq sc) && s.entries == entries => s.bc
      case _ =>
        val bc = new HadoopConfBroadcast(sc.broadcast(
          new org.apache.spark.util.SerializableConfiguration(new Configuration(live))))
        confShipped = Some(ConfShipped(new java.lang.ref.WeakReference(sc), entries, bc))
        bc
    }
  }

  /** root path of a file-source scan node (LogicalRelation over
    * HadoopFsRelation — both private[sql] in Spark 4), or None. Lets
    * optimizer rules recognize a graft table scan by its directory layout
    * without reaching into internals anywhere else. */
  def fileScanRootPath(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[String] =
    plan match {
      case LogicalRelationWithTable(fs: HadoopFsRelation, _) =>
        fs.location.rootPaths.headOption.map(_.toString)
      case _ => None
    }

  /** a parquet relation that opens exactly `files`, each given as (value
    * of the int partition column `partCol`, status), under `root` — the
    * relation a hive-style `spark.read.parquet(root)` builds, with the
    * file list supplied instead of listed. Partition filters prune files
    * by their partition value; nothing is listed and no schema is
    * inferred. */
  def parquetFiles(spark: SparkSession, root: Path, partCol: String,
                   files: Seq[(Int, FileStatus)], dataSchema: StructType): DataFrame = {
    val index = new FixedFileIndex(root, StructType(Seq(StructField(partCol, IntegerType))), files)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].baseRelationToDataFrame(
      HadoopFsRelation(index, index.partitionSchema, dataSchema, None,
        new ParquetFileFormat(), Map.empty)(spark))
  }

  /** the Spark schema of parquet file `status`, converted from its footer
    * under the active session's parquet settings (read on the calling
    * thread: no Spark job) */
  def parquetSchema(status: FileStatus, conf: Configuration): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
    try new ParquetToSparkSchemaConverter(SQLConf.get).convert(reader.getFileMetaData.getSchema)
    finally reader.close()
  }

  private final class FixedFileIndex(root: Path, val partitionSchema: StructType,
                                     files: Seq[(Int, FileStatus)]) extends FileIndex {
    private val byPart = files.groupBy(_._1).toSeq.sortBy(_._1).map { case (p, fs) =>
      PartitionDirectory(InternalRow(p), fs.map(f => FileStatusWithMetadata(f._2)))
    }
    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      // the single partition column is ordinal 0 of each directory's values
      val keep = Predicate.createInterpreted(partitionFilters.foldLeft(Literal.TrueLiteral: Expression)(And)
        .transform { case a: AttributeReference => BoundReference(0, a.dataType, nullable = true) })
      byPart.filter(d => keep.eval(d.values))
    }
    override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_._2.getLen).sum
  }
}
