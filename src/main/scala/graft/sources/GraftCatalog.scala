package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{FunctionCatalog, Identifier, NamespaceChange, ProcedureCatalog, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCapability, TableCatalog, TableChange, Column => V2Column}
import org.apache.spark.sql.connector.catalog.functions.UnboundFunction
import org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.plans.EncodePipeline

/** A TableCatalog exposing a directory tree of graft tables to plain SQL —
  * the Iceberg-catalog usage shape:
  *
  *   spark.sql.catalog.graft      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft.root = /warehouse
  *
  * `SELECT ... FROM graft.db.t` then resolves `/warehouse/db/t` as a graft
  * table (its identity is the persisted schema.json) and the connector's
  * whole skip stack applies — column pruning, zone-map part pruning,
  * manifest-served aggregates, reported statistics. A table IS its
  * directory: SHOW TABLES lists child directories carrying a schema.json,
  * DROP TABLE removes the directory, namespaces are directories. Tables
  * are created by writing (`df.write.format("graft").save(dir)`, the
  * pipeline API, or SQL `CREATE TABLE ... AS SELECT` — the catalog is a
  * StagingTableCatalog, so CTAS / REPLACE TABLE AS SELECT encode the
  * query result straight into the table directory and commit through the
  * pipeline's atomic manifest protocol). Schema-only CREATE TABLE stays
  * unsupported by design: an encode-on-write format has nothing to
  * materialize until rows exist. */
object GraftCatalog {
  /** the metadata views resolvable as `db.t.<name>` identifiers */
  private[sources] val metaTableNames =
    Set("snapshots", "files", "manifest", "stats", "refs")
}

class GraftCatalog extends TableCatalog with SupportsNamespaces with FunctionCatalog
    with ProcedureCatalog with StagingTableCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null && root.nonEmpty,
      s"spark.sql.catalog.$name.root must point at the warehouse directory")
    root = root.stripSuffix("/")
  }
  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active
  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def dirOf(ident: Identifier): String =
    (root +: (ident.namespace() :+ ident.name())).mkString("/")
  private def isTableDir(p: Path): Boolean = fs(p).exists(new Path(p, "schema.json"))

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    EncodePipeline.readSchemaFile(spark, dir) match {
      case Some(schema) => new GraftTable(dir, schema)
      case None =>
        // Iceberg's metadata-table identifiers: `db.t.snapshots` / `.files`
        // / `.manifest` resolve when `db.t` is a table and the extra name
        // part names a metadata view — plain SQL over the commit history
        if (ident.namespace().nonEmpty &&
            GraftCatalog.metaTableNames.contains(ident.name())) {
          val parent = (root +: ident.namespace().toSeq).mkString("/")
          if (isTableDir(new Path(parent)))
            return new GraftMetaTable(parent, ident.name(),
              GraftMetaTable.schemaOf(ident.name(), parent))
        }
        // Iceberg changelog-table parity: `db.t.changes` reads the table's
        // full PER-COMMIT change history (each generation diffed against
        // its predecessor; the base snapshot appears as gen-0 inserts)
        // with _change_type and _change_gen appended — plain SQL over the
        // CDC feed; windowed NET reads stay on
        // option("changesFrom"/"changesTo")
        // Iceberg branch-read parity: `db.t.branch_<name>` reads main
        // content PLUS the branch's unpublished commits (the audit read of
        // the write-audit-publish flow)
        if (ident.namespace().nonEmpty && ident.name().startsWith("branch_")) {
          val parent = (root +: ident.namespace().toSeq).mkString("/")
          val b = ident.name().stripPrefix("branch_")
          if (isTableDir(new Path(parent)) &&
              EncodePipeline.readBranches(spark, parent).contains(b))
            return new GraftTable(parent,
              EncodePipeline.readSchemaFile(spark, parent).get,
              branchPin = Some(b))
        }
        if (ident.namespace().nonEmpty && ident.name() == "changes") {
          val parent = (root +: ident.namespace().toSeq).mkString("/")
          if (isTableDir(new Path(parent))) {
            val base = EncodePipeline.readSchemaFile(spark, parent).get
            return new GraftChangelogTable(parent,
              base.add(StructField("_change_type", StringType, nullable = false))
                  .add(StructField("_change_gen", IntegerType, nullable = false)))
          }
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** SQL `SELECT ... FROM t VERSION AS OF v` — v is a generation number or
    * a named tag (Iceberg refs); the returned table pins every scan to it */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val schema = EncodePipeline.readSchemaFile(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    // a non-numeric version names a tag (pinned generation) or a BRANCH
    // (main + unpublished audit commits) — Iceberg VERSION AS OF semantics
    if (version.forall(_.isDigit))
      new GraftTable(dir, schema, genPin = Some(version.toInt))
    else if (EncodePipeline.readTags(spark, dir).contains(version))
      new GraftTable(dir, schema,
        genPin = Some(EncodePipeline.tagGen(spark, dir, version)))
    else if (EncodePipeline.readBranches(spark, dir).contains(version))
      new GraftTable(dir, schema, branchPin = Some(version))
    else // keep tagGen's loud unknown-ref error (names both namespaces)
      new GraftTable(dir, schema,
        genPin = Some(EncodePipeline.tagGen(spark, dir, version)))
  }

  /** SQL `SELECT ... FROM t TIMESTAMP AS OF ts` — Spark hands the instant
    * as MICROseconds since epoch; resolved against the manifest commit
    * times ([[EncodePipeline.genAsOf]]) */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    val schema = EncodePipeline.readSchemaFile(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    new GraftTable(dir, schema,
      genPin = Some(EncodePipeline.genAsOf(spark, dir, timestampMicros / 1000L)))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(new Path(dirOf(ident)))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((root +: namespace).mkString("/"))
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs(ns).listStatus(ns).filter(_.isDirectory).map(_.getPath)
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getName))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "graft tables are created by writing: CREATE TABLE ... AS SELECT, " +
      "df.write.format(\"graft\").save(<dir>), or EncodePipeline.run — " +
      "schema-only CREATE TABLE has nothing to materialize")

  // ---- CTAS / RTAS: tables created by writing, now in SQL ----
  // `CREATE TABLE cat.db.t AS SELECT ...` stages a table whose V1-bridged
  // write routes the query result through the pipeline's commit protocol —
  // the same pinned single-shuffle encode plan as every other write.
  // TBLPROPERTIES steer the encode exactly like df.write options: 'key'
  // (placement key; default first column), 'partitions', 'blockSize',
  // 'sharedDictCols', 'bloomCols'. PARTITIONED BY accepts the placement law
  // as a transform — `graft_part_hash_<P>(col)` / `graft_part_host_<P>_<S>
  // (col)` (the same name-encoded functions the scan reports for
  // storage-partitioned joins) — and wins over the properties.
  // REPLACE TABLE AS SELECT commits a REPLACING SNAPSHOT (replaceCommit —
  // old generations stay time-travelable until vacuum); only a dir without
  // a manifest is replaced physically.

  override def stageCreate(ident: Identifier, columns: Array[V2Column],
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    staged(ident, columns, partitions, properties, replaceExisting = false)
  }

  override def stageReplace(ident: Identifier, columns: Array[V2Column],
                            partitions: Array[Transform],
                            properties: java.util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    staged(ident, columns, partitions, properties, replaceExisting = true)
  }

  override def stageCreateOrReplace(ident: Identifier, columns: Array[V2Column],
                                    partitions: Array[Transform],
                                    properties: java.util.Map[String, String]): StagedTable =
    staged(ident, columns, partitions, properties, replaceExisting = tableExists(ident))

  private def staged(ident: Identifier, columns: Array[V2Column],
                     partitions: Array[Transform],
                     properties: java.util.Map[String, String],
                     replaceExisting: Boolean): StagedTable = {
    val schema = StructType(columns.map(c => StructField(c.name(), c.dataType(), c.nullable())))
    // SQL OPTIONS(...) arrive as `option.`-prefixed properties; TBLPROPERTIES bare
    def prop(n: String): Option[String] =
      Option(properties.get(n)).orElse(Option(properties.get(s"option.$n")))
    def cols(n: String): Seq[String] =
      prop(n).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val law: Option[GraftPartFunction] = partitions.toSeq match {
      case Nil => None
      case Seq(t) =>
        val fn = GraftPartFunction.fromName(t.name()).getOrElse(
          throw new UnsupportedOperationException(
            s"graft CTAS partitioning must be a placement transform " +
            s"(graft_part_hash_<P>(col) / graft_part_host_<P>_<S>(col)), got ${t.describe()}"))
        require(t.references().length == 1 && t.references()(0).fieldNames().length == 1,
          s"placement transform takes exactly one top-level key column, got ${t.describe()}")
        Some(fn)
      case many => throw new UnsupportedOperationException(
        s"graft tables have ONE placement law, got ${many.size} transforms")
    }
    val key = law.map(_ => partitions(0).references()(0).fieldNames()(0))
      .orElse(prop("key")).getOrElse(schema.fieldNames.head)
    require(schema.fieldNames.contains(key),
      s"placement key '$key' is not a column of the CTAS query (${schema.fieldNames.mkString(", ")})")
    new GraftStagedTable(dirOf(ident), ident.toString, schema,
      key = key,
      useHost = law.exists(_.kind == "host"),
      partitionsOpt = law.map(_.partitions).orElse(prop("partitions").map(_.toInt)),
      salts = law.map(_.salts).getOrElse(4),
      blockSize = prop("blockSize").map(_.toInt).getOrElse(EncodePipeline.DefaultBlockSize),
      sharedDictCols = cols("sharedDictCols"),
      bloomCols = cols("bloomCols"),
      replaceExisting = replaceExisting)
  }

  /** `ALTER TABLE ... ADD COLUMNS` — the DDL face of the by-name schema
    * evolution the readers already implement: adding a column is ONE
    * schema.json rewrite (existing rows read the column as NULL — the
    * absent-era null-fill path; later INSERTs carry real values). Only
    * nullable, top-level, default-less appends are accepted: a NOT NULL or
    * defaulted add would have to invent values for committed rows, and
    * RENAME/DROP/retype would orphan the manifest + blob columns keyed by
    * the old name — all refused loudly (rewrite via RTAS instead). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val base = EncodePipeline.readSchemaFile(spark, dir)
      .getOrElse(throw new NoSuchTableException(ident))
    val evolved = changes.foldLeft(base) {
      case (sch, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          s"graft ALTER TABLE adds top-level columns only, got ${add.fieldNames().mkString(".")}")
        val n = add.fieldNames()(0)
        require(!sch.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"column $n already exists in ${ident.name()}")
        require(add.isNullable,
          s"graft ALTER TABLE ADD COLUMNS requires nullable columns — committed " +
          s"rows read an added column as NULL (add $n without NOT NULL)")
        require(add.defaultValue() == null,
          s"graft ALTER TABLE ADD COLUMNS does not support DEFAULT values — " +
          s"committed rows read an added column as NULL")
        require(add.position() == null,
          "graft columns append at the end (decode is by-name; ordering is cosmetic)")
        sch.add(StructField(n, add.dataType(), nullable = true))
      case (_, other) => throw new UnsupportedOperationException(
        s"graft ALTER TABLE supports ADD COLUMNS only (got ${other.getClass.getSimpleName}) — " +
        "renames/drops/retypes would orphan the committed manifest and blob columns; " +
        "rewrite via REPLACE TABLE AS SELECT instead")
    }
    EncodePipeline.writeSchemaFile(spark, dir, evolved)
    new GraftTable(dir, evolved)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = new Path(dirOf(ident))
    isTableDir(p) && fs(p).delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = new Path(dirOf(oldIdent))
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = new Path(dirOf(newIdent))
    if (!fs(from).rename(from, to))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ---- functions: the name-encoded placement functions ----
  // Catalyst resolves a scan's reported KeyGroupedPartitioning transform
  // (`graft_part_<kind>_<P>[_<S>](key)`) through here — the hook that turns
  // co-written graft tables into storage-partitioned (shuffle-free) joins.
  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftPartFunction.fromName(ident.name())
      .filter(_ => ident.namespace().isEmpty)
      .getOrElse(throw new NoSuchFunctionException(ident))

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace().isEmpty && GraftPartFunction.fromName(ident.name()).isDefined

  /** placement functions are name-parameterized (unenumerable); listing is
    * for discovery UIs only, so list none rather than a fake sample */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array.empty

  // ---- procedures: the maintenance lifecycle as CALL statements ----
  // `CALL <cat>.system.compact/vacuum/rollback/...` — see [[GraftProcedures]]
  override def loadProcedure(ident: Identifier): UnboundProcedure =
    GraftProcedures.load(root, ident).getOrElse(throw new IllegalArgumentException(
      s"unknown procedure ${ident.namespace().mkString(".")}.${ident.name()} — " +
        s"graft procedures live in `system`: ${GraftProcedures.names.mkString(", ")}"))

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  // ---- namespaces are directories ----
  override def listNamespaces(): Array[Array[String]] = {
    val r = new Path(root)
    if (!fs(r).exists(r)) Array.empty
    else fs(r).listStatus(r).filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val ns = new Path((root +: namespace).mkString("/"))
    if (!fs(ns).exists(ns)) throw new NoSuchNamespaceException(namespace)
    fs(ns).listStatus(ns).filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val p = new Path((root +: namespace).mkString("/"))
    fs(p).exists(p) && !isTableDir(p)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: java.util.Map[String, String]): Unit = {
    val p = new Path((root +: namespace).mkString("/"))
    fs(p).mkdirs(p)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val p = new Path((root +: namespace).mkString("/"))
    if (!namespaceExists(namespace)) return false
    if (!cascade && fs(p).listStatus(p).nonEmpty)
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    fs(p).delete(p, true)
  }
}

/** The table a CTAS / RTAS stages: its V1-bridged write encodes the query
  * result through the pipeline's commit protocol directly into the table
  * directory. Atomicity is the pipeline's own: a fresh CREATE becomes
  * visible at its schema.json + manifest commit (commitStagedChanges has
  * nothing left to flip — abort before that removes the half-built dir); a
  * REPLACE of an existing table is [[EncodePipeline.replaceCommit]]'s
  * single-file manifest append (abort before it leaves the old snapshot
  * intact and only unreferenced orphan files, which vacuum reclaims). */
private[sources] class GraftStagedTable(
    dir: String, tblName: String, declared: StructType,
    key: String, useHost: Boolean, partitionsOpt: Option[Int], salts: Int,
    blockSize: Int, sharedDictCols: Seq[String], bloomCols: Seq[String],
    replaceExisting: Boolean)
  extends StagedTable with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = tblName
  override def schema(): StructType = declared
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      // RTAS plans OverwriteByExpression(true) over the staged table; the
      // create/replace decision was already made at stageCreate/stageReplace
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = this
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                                  overwrite: Boolean): Unit = {
                val spark = data.sparkSession
                val parts = partitionsOpt
                  .getOrElse(spark.sessionState.conf.numShufflePartitions)
                if (replaceExisting && EncodePipeline.hasManifest(spark, dir)) {
                  // REPLACE TABLE AS SELECT = a replacing snapshot; empty
                  // query results are fine (a zero-file marker generation)
                  EncodePipeline.replaceCommit(data, key, dir, parts, blockSize,
                    bloomCols = bloomCols)
                } else {
                  if (replaceExisting) { // a half-created dir: no history to keep
                    val p = new Path(dir)
                    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                      .delete(p, true)
                  }
                  // a fresh table's manifest is created by its first commit —
                  // an empty CTAS would leave a table no reader can plan
                  require(!data.isEmpty,
                    s"CREATE TABLE AS SELECT into $dir produced zero rows — a graft " +
                    "table's manifest is born with its first data commit; create " +
                    "with a non-empty query (or write the first rows through " +
                    "df.write.format(\"graft\"))")
                  EncodePipeline.run(data, key, dir, parts, blockSize,
                    salts = salts, useHostPartitioner = useHost,
                    sharedDictCols = sharedDictCols, bloomCols = bloomCols)
                }
              }
            }
        }
    }

  /** the pipeline write above already committed atomically (manifest
    * append / schema persistence) — nothing is left to flip */
  override def commitStagedChanges(): Unit = ()

  /** a fresh CREATE aborts by removing the directory (a failed CTAS leaves
    * no table, half-built or otherwise); REPLACE aborts are no-ops — an
    * uncommitted replace never appended its manifest, so the previous
    * snapshot is untouched (orphan data files, if any, await vacuum) */
  override def abortStagedChanges(): Unit =
    if (!replaceExisting) {
      val p = new Path(dir)
      val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
}
