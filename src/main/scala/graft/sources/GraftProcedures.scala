package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

import graft.plans.EncodePipeline

/** The table-maintenance lifecycle as SQL stored procedures — the Iceberg
  * `CALL catalog.system.<proc>(...)` surface over Spark 4's
  * ProcedureCatalog:
  *
  *   CALL gcat.system.compact(table => 'db.t')
  *   CALL gcat.system.compact_small_files(table => 'db.t', max_small_bytes => 1048576)
  *   CALL gcat.system.vacuum(table => 'db.t')
  *   CALL gcat.system.analyze(table => 'db.t')  -- recompute manifest stats/NDV
  *   CALL gcat.system.rewrite_manifests(table => 'db.t')  -- compact the manifest dir
  *   CALL gcat.system.rollback(table => 'db.t', gen => 3)
  *   CALL gcat.system.materialize_deletes(table => 'db.t')
  *   CALL gcat.system.rewrite_sorted(table => 'db.t', sort_cols => 'warc_ts,lang')
  *   CALL gcat.system.rewrite_zordered(table => 'db.t', z_cols => 'warc_ts,n_chars')
  *   CALL gcat.system.create_tag(table => 'db.t', tag => 'v1')   -- pin current gen
  *   CALL gcat.system.drop_tag(table => 'db.t', tag => 'v1')
  *
  * `table` is the identifier relative to the catalog root ('db.t' or 't');
  * every procedure returns a one-row result relation with its outcome, so
  * `CALL` composes with SELECT-style inspection in notebooks. Positional
  * and named (`arg => v`) forms both work; defaults mirror the pipeline
  * API's. Procedures are driver-side orchestration over the same
  * generation-superseding commits the DataFrame API lands — each CALL is
  * one atomic manifest append with the usual crash story. */
object GraftProcedures {

  private def spark: SparkSession = SparkSession.active

  private def dirOf(root: String, table: String): String = {
    require(table != null && table.nonEmpty, "procedure argument `table` is required")
    (root +: table.split('.').toSeq).mkString("/")
  }

  private def schemaOf(dir: String): StructType =
    EncodePipeline.readSchemaFile(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"not a graft table (no schema.json): $dir"))

  /** the table's recorded placement key; first schema column otherwise
    * (the same default as df.write.format("graft")) */
  private def keyOf(dir: String, schema: StructType): String =
    EncodePipeline.readPartSpec(spark, dir).map(_.key)
      .getOrElse(schema.fieldNames.head)

  private case class Arg(name: String, dt: DataType, default: Option[String] = None)

  /** one-row-result procedure: unbound and bound in one object (binding is
    * trivial — Spark coerces arguments to the declared parameter types) */
  private abstract class Proc(procName: String, args: Seq[Arg], out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft table-maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
    override def parameters(): Array[ProcedureParameter] = args.map { a =>
      val b = ProcedureParameter.in(a.name, a.dt)
      a.default.foreach(b.defaultValue)
      b.build()
    }.toArray
    protected def run(in: InternalRow): InternalRow
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = run(input)
      java.util.Collections.singletonList[Scan](new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = out
        override def description(): String = s"graft.system.$procName result"
      }).iterator()
    }
  }

  private def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)

  private def procs(root: String): Map[String, UnboundProcedure] = Map(
    "compact" -> new Proc("compact",
      Seq(Arg("table", StringType),
        Arg("block_size", IntegerType, Some(EncodePipeline.DefaultBlockSize.toString)),
        Arg("min_files", IntegerType, Some("2"))),
      StructType(Seq(StructField("parts_rewritten", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val dir = dirOf(root, in.getUTF8String(0).toString)
        row(EncodePipeline.compact(spark, dir, schemaOf(dir),
          blockSize = in.getInt(1), minFiles = in.getInt(2)).size)
      }
    },
    "compact_small_files" -> new Proc("compact_small_files",
      Seq(Arg("table", StringType),
        Arg("block_size", IntegerType, Some(EncodePipeline.DefaultBlockSize.toString)),
        Arg("min_small", IntegerType, Some("2")),
        Arg("max_small_bytes", LongType, Some("0"))),
      StructType(Seq(StructField("parts_packed", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val dir = dirOf(root, in.getUTF8String(0).toString)
        row(EncodePipeline.compactSmallFiles(spark, dir, schemaOf(dir),
          blockSize = in.getInt(1), minSmall = in.getInt(2),
          maxSmallBytes = in.getLong(3)).size)
      }
    },
    "vacuum" -> new Proc("vacuum",
      Seq(Arg("table", StringType),
        Arg("retain_last", IntegerType, Some("1")) /* protect the newest N
          generations' file sets — Iceberg expire_snapshots retain-last */),
      StructType(Seq(StructField("files_removed", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.vacuum(spark,
          dirOf(root, in.getUTF8String(0).toString), in.getInt(1)))
    },
    "analyze" -> new Proc("analyze",
      Seq(Arg("table", StringType)),
      StructType(Seq(StructField("current_gen", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.analyzeTable(spark,
          dirOf(root, in.getUTF8String(0).toString)))
    },
    "rewrite_manifests" -> new Proc("rewrite_manifests",
      Seq(Arg("table", StringType)),
      StructType(Seq(StructField("manifests_removed", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.rewriteManifests(spark,
          dirOf(root, in.getUTF8String(0).toString)))
    },
    "rollback" -> new Proc("rollback",
      Seq(Arg("table", StringType), Arg("gen", IntegerType)),
      StructType(Seq(StructField("current_gen", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.rollbackTo(spark,
          dirOf(root, in.getUTF8String(0).toString), in.getInt(1)))
    },
    "materialize_deletes" -> new Proc("materialize_deletes",
      Seq(Arg("table", StringType),
        Arg("block_size", IntegerType, Some(EncodePipeline.DefaultBlockSize.toString))),
      StructType(Seq(StructField("rows_folded", LongType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val dir = dirOf(root, in.getUTF8String(0).toString)
        val schema = schemaOf(dir)
        row(EncodePipeline.materializeDeletes(spark, dir, schema,
          keyOf(dir, schema), blockSize = in.getInt(1)))
      }
    },
    "rewrite_sorted" -> new Proc("rewrite_sorted",
      Seq(Arg("table", StringType), Arg("sort_cols", StringType),
        Arg("block_size", IntegerType, Some(EncodePipeline.DefaultBlockSize.toString))),
      StructType(Seq(StructField("parts_rewritten", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val dir = dirOf(root, in.getUTF8String(0).toString)
        val schema = schemaOf(dir)
        val cols = in.getUTF8String(1).toString.split(',').toSeq
          .map(_.trim).filter(_.nonEmpty).map(org.apache.spark.sql.functions.col)
        row(EncodePipeline.rewriteSorted(spark, dir, schema,
          keyOf(dir, schema), cols, blockSize = in.getInt(2)).size)
      }
    },
    "create_tag" -> new Proc("create_tag",
      Seq(Arg("table", StringType), Arg("tag", StringType),
        Arg("gen", IntegerType, Some("-1"))),
      StructType(Seq(StructField("pinned_gen", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.createTag(spark,
          dirOf(root, in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getInt(2)))
    },
    "drop_tag" -> new Proc("drop_tag",
      Seq(Arg("table", StringType), Arg("tag", StringType)),
      StructType(Seq(StructField("existed", BooleanType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.dropTag(spark,
          dirOf(root, in.getUTF8String(0).toString), in.getUTF8String(1).toString))
    },
    "create_branch" -> new Proc("create_branch",
      Seq(Arg("table", StringType), Arg("branch", StringType)),
      StructType(Seq(StructField("base_gen", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.createBranch(spark,
          dirOf(root, in.getUTF8String(0).toString),
          in.getUTF8String(1).toString))
    },
    "drop_branch" -> new Proc("drop_branch",
      Seq(Arg("table", StringType), Arg("branch", StringType)),
      StructType(Seq(StructField("existed", BooleanType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.dropBranch(spark,
          dirOf(root, in.getUTF8String(0).toString), in.getUTF8String(1).toString))
    },
    "fast_forward" -> new Proc("fast_forward",
      Seq(Arg("table", StringType), Arg("branch", StringType),
        Arg("allow_divergence", BooleanType, Some("false"))),
      StructType(Seq(StructField("published_gen", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow =
        row(EncodePipeline.fastForward(spark,
          dirOf(root, in.getUTF8String(0).toString),
          in.getUTF8String(1).toString, in.getBoolean(2)))
    },
    "rewrite_zordered" -> new Proc("rewrite_zordered",
      Seq(Arg("table", StringType), Arg("z_cols", StringType),
        Arg("block_size", IntegerType, Some(EncodePipeline.DefaultBlockSize.toString))),
      StructType(Seq(StructField("parts_rewritten", IntegerType, nullable = false)))) {
      override protected def run(in: InternalRow): InternalRow = {
        val dir = dirOf(root, in.getUTF8String(0).toString)
        val schema = schemaOf(dir)
        val cols = in.getUTF8String(1).toString.split(',').toSeq
          .map(_.trim).filter(_.nonEmpty)
        row(EncodePipeline.rewriteZOrdered(spark, dir, schema,
          keyOf(dir, schema), cols, blockSize = in.getInt(2)).size)
      }
    })

  private[sources] def names: Seq[String] = Seq("compact", "compact_small_files",
    "vacuum", "rollback", "materialize_deletes", "rewrite_sorted",
    "rewrite_zordered", "create_tag", "drop_tag", "create_branch",
    "drop_branch", "fast_forward", "analyze", "rewrite_manifests")

  /** the procedure, if `ident` names one — `system` namespace only
    * (Iceberg's convention; table namespaces stay procedure-free) */
  private[sources] def load(root: String, ident: Identifier): Option[UnboundProcedure] =
    if (!ident.namespace().sameElements(Array("system"))) None
    else procs(root).get(ident.name())
}
