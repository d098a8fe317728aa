package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core.Codecs
import graft.sources.GraftCatalog

/** The manifest statistics the writers fold ([[Manifest.Stats]]) equal the
  * Catalyst aggregation of the `blob_*` functions ([[MetadataOracle]]),
  * schema included: for the rows every commit path lands in `meta/`
  * (each compared with the oracle over exactly the files it records) and
  * for [[EncodePipeline.metadata]]. */
class ManifestStatsSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_stats").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** the statistics columns of a committed manifest row */
  private val statCols = Manifest.statsSchema(partNullable = true, files = true).fieldNames.toSeq

  /** rows as comparable values (arrays and binaries as sequences), sorted */
  private def values(df: DataFrame, cols: Seq[String]): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    }).sortBy(_.mkString("|"))

  private def manifest(out: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$out/meta")

  /** every statistics row ever committed to `out` (tombstones aside)
    * equals the oracle's over the files it records, in values and types */
  private def assertCommittedMatch(out: String, schema: StructType): Seq[Row] = {
    val committed = manifest(out).filter(size(col("data_files")) > 0).select(statCols.map(col): _*)
      .dropDuplicates()
    val fileSets = committed.select("data_files").distinct().collect().map(_.getSeq[String](0))
    // a file set from before ALTER TABLE ADD COLUMNS has no e_ column for
    // the added ones, and no rows for them
    val oracle = fileSets.toSeq.map { fs =>
      val enc = EncodePipeline.dataFiles(spark, out, fs)
      MetadataOracle.metadata(enc, StructType(schema.filter(f => enc.columns.contains("e_" + f.name))),
        withFiles = true).select(statCols.map(col): _*)
    }.reduce(_ union _)
    // nullability reads back as stored ([[assertFooterMatch]] compares it)
    assert(committed.schema.map(f => f.name -> f.dataType.simpleString) ===
      oracle.schema.map(f => f.name -> f.dataType.simpleString))
    assert(values(committed, statCols) === values(oracle, statCols))
    committed.collect().toSeq
  }

  /** the Spark schema of parquet file `path`'s footer: a required field
    * reads as not nullable */
  private def footer(path: String): StructType = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    Bridge.parquetSchema(p.getFileSystem(conf).getFileStatus(p), conf)
  }

  private def parquetFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getPath)
      .filter(_.endsWith(".parquet")).toSet

  /** `body` commits one manifest file to `out`; its footer must equal the
    * footer of the oracle's rows over the files it records plus `commit`'s
    * columns (what the aggregation-era commit wrote) */
  private def assertFooterMatch(out: String, schema: StructType)(
      commitCols: DataFrame => DataFrame)(body: => Unit): Unit = {
    val before = parquetFiles(s"$out/meta")
    body
    val Seq(added) = (parquetFiles(s"$out/meta") -- before).toSeq
    val files = spark.read.parquet(added).select(explode(col("data_files"))).distinct()
      .collect().map(_.getString(0)).toSeq
    val ref = tmpDir() + "/ref"
    commitCols(MetadataOracle.metadata(EncodePipeline.dataFiles(spark, out, files), schema,
      withFiles = true).withColumn("wave", lit(0)).withColumn("wall_millis", lit(0L))
      .withColumn("attempt", lit(1))).coalesce(1).write.parquet(ref)
    assert(footer(added) === footer(parquetFiles(ref).head))
  }

  /** a table whose columns take every codec, some-null and all-null
    * blocks (part 0 holds no `l_part_null` value), a far-future timestamp
    * column whose block sums overflow, binary values of twenty 0xFF bytes
    * (no truncated upper bound) and FSST text (unknown NDV) */
  private def codecTable(from: Long, n: Long): DataFrame = {
    val id = col("id")
    spark.range(from, from + n).select(id,
      lit(7L).as("l_const"),
      pmod(id * 7919L, lit(1000L)).as("l_bitpack"),
      (lit(1000000000000L) + pmod(id * 7919L, lit(1000L))).as("l_for"),
      pmod((id / 150L).cast("long") * 7919L * 1000003L, lit(1L << 40)).as("l_rle"),
      (floor(rand(7) * 1000) / 1000.0).as("d_alp"),
      rand(11).cast("float").cast("double").as("d_tzfor"),
      timestamp_micros(lit(4000000000000000000L) + id * 1000L).as("ts_far"),
      when(id % 3 === 0, lit(null)).otherwise(id * 1000003L).as("l_some_null"),
      when(EncodePipeline.hashPart("id", 4) === 0, lit(null)).otherwise(id).as("l_part_null"),
      lit("constant").as("s_const"),
      when(id % 4 === 0, lit(null))
        .otherwise(element_at(array(lit("en"), lit("de"), lit("fr")), (pmod(id * 31L, lit(3L)) + 1L).cast("int")))
        .as("s_dict"),
      concat(lit("grp-"), (id / 150L).cast("long").cast("string")).as("s_rle_dict"),
      concat(lit("https://example.org/a/long/shared/path/"), lpad(id.cast("string"), 8, "0")).as("s_prefix"),
      substring(md5(id.cast("string")), 1, 6).as("s_raw"),
      concat(lit("the quick brown fox jumps over the lazy dog while "), md5(id.cast("string")),
        lit(" reads about data pages and web sites and "), sha1(id.cast("string"))).as("s_fsst"),
      when(id % 5 === 0, unhex(lit("FF" * 20))).otherwise(unhex(concat(lit("AA"), hex(id)))).as("b_ff"))
  }

  private def codecsOf(rows: Seq[Row]): Set[String] =
    rows.flatMap(_.getSeq[String](statCols.indexOf("codecs"))).map(_.stripSuffix("+nulls")).toSet

  test("run and appendCommit commit the oracle's statistics rows, byte schema included") {
    val out = tmpDir()
    val t = codecTable(0, 3000)
    val schema = t.schema
    assertFooterMatch(out, schema)(identity) {
      EncodePipeline.run(t, "id", out, partitions = 4, blockSize = 256)
    }
    assertFooterMatch(out, schema)(_.withColumn("batch_id", lit(1L))
      .withColumn("gen", lit(1)).withColumn("additive", lit(true))) {
      assert(EncodePipeline.appendCommit(codecTable(3000, 500), "id", out, partitions = 4,
        blockSize = 256, batchId = 1L))
    }
    val rows = assertCommittedMatch(out, schema)
    val Seq(iCol, iRows, iCnt, iSum, iLo, iHi, iNulls, iSk) = Seq("column", "rows", "value_count",
      "value_sum", "str_lo", "str_hi", "null_value_count", "ndv_sketch").map(statCols.indexOf)
    def of(c: String) = rows.filter(_.getString(iCol) == c)
    // the table reaches every codec, and every statistics edge
    val want = Set("const", "bitpack", "for", "rle", "delta", "alp", "tzfor", "raw", "dict",
      "rle_dict", "fsst", "prefix", "nulls")
    assert(want.subsetOf(codecsOf(rows)),
      rows.groupBy(_.getString(iCol)).map { case (c, rs) => c -> codecsOf(rs) })
    assert(of("ts_far").forall(r => r.getLong(iCnt) > 0 && r.isNullAt(iSum)))
    assert(of("b_ff").forall(r => !r.isNullAt(iLo) && r.isNullAt(iHi)))
    assert(of("s_fsst").forall(_.isNullAt(iSk)))
    assert(of("l_part_null").exists(r => r.getLong(iNulls) == r.getLong(iRows) && r.isNullAt(iCnt)))
    assert(of("l_some_null").forall(r => r.getLong(iNulls) > 0 && r.getLong(iNulls) < r.getLong(iRows)))
  }

  test("metadata() equals the oracle over encoded rows and re-opens no data file") {
    val t = codecTable(0, 2000)
    val enc = EncodePipeline.encode(t, "id", partitions = 4, blockSize = 256).cache()
    val got = EncodePipeline.metadata(enc, t.schema)
    val want = MetadataOracle.metadata(enc, t.schema, withFiles = false)
    assert(got.schema === want.schema)
    assert(values(got, got.columns.toSeq) === values(want, want.columns.toSeq))
    enc.unpersist()

    // over a frame already collected from a table's files: the files are
    // gone, and metadata() still answers
    val out = tmpDir()
    EncodePipeline.run(t, "id", out, partitions = 4, blockSize = 256)
    val read = EncodePipeline.readData(spark, out)
    val local = spark.createDataFrame(java.util.Arrays.asList(read.collect(): _*), read.schema)
    val expected = values(MetadataOracle.metadata(local, t.schema, withFiles = false), want.columns.toSeq)
    val data = new java.io.File(s"$out/data")
    assert(data.renameTo(new java.io.File(s"$out/data_gone")))
    assert(values(EncodePipeline.metadata(local, t.schema), want.columns.toSeq) === expected)
  }

  test("shared-dictionary statistics are folded in the encoding task without the dictionary") {
    // fresh values: no code in this JVM has seen the dictionary, and run()
    // registers it only after its last commit, so a fold that resolved it
    // would fail the encoding task
    val salt = java.util.UUID.randomUUID().toString
    val t = spark.range(0, 2000).select(col("id"),
      concat(lit(s"$salt-"), pmod(col("id") * 13L, lit(40L)).cast("string")).as("tag"))
    val out = tmpDir()
    EncodePipeline.run(t, "id", out, partitions = 4, blockSize = 128, sharedDictCols = Seq("tag"))
    val rows = assertCommittedMatch(out, t.schema)
    assert(codecsOf(rows).exists(_.startsWith("shared")), codecsOf(rows))
    val tags = rows.filter(_.getString(statCols.indexOf("column")) == "tag")
    assert(tags.forall(r => !r.isNullAt(statCols.indexOf("str_lo"))))
    // after the run, stand-alone kernels in this JVM resolve the table's blobs
    val blob = spark.read.parquet(s"$out/data").select("e_tag").head().getAs[Array[Byte]](0)
    assert(Codecs.codecOf(blob).startsWith("shared"))
    assert(Codecs.decodeStrs(blob).forall(v => new String(v, "UTF-8").startsWith(salt)))
  }

  test("delta writes, rewrites and analyze commit the oracle's rows for multi-file parts") {
    val root = tmpDir()
    spark.conf.set("spark.sql.catalog.stats", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.stats.root", root)
    val out = s"$root/db/t"
    val t = codecTable(0, 1200)
    EncodePipeline.run(t, "id", out, partitions = 4, blockSize = 128)
    assert(EncodePipeline.appendCommit(codecTable(1200, 400), "id", out, partitions = 4,
      blockSize = 128, batchId = 1L))
    // every part now has two files, so the update's writer tasks re-insert
    // into each part from two tasks: several files per part in one commit
    spark.sql("UPDATE stats.db.t SET s_dict = concat(s_dict, '!') WHERE pmod(id, 2) = 0")
    val parts = EncodePipeline.manifestView(spark, out, None).files.groupBy(_._1)
    assert(parts.values.exists(_.size > 2), parts)
    assertCommittedMatch(out, t.schema)
    EncodePipeline.materializeDeletes(spark, out, t.schema, "id")
    EncodePipeline.compactSmallFiles(spark, out, t.schema, blockSize = 128)
    EncodePipeline.compact(spark, out, t.schema, blockSize = 128)
    EncodePipeline.deleteWhere(spark, out, t.schema, "id", col("id") % 7 === 0, blockSize = 128)
    EncodePipeline.analyzeTable(spark, out)
    assertCommittedMatch(out, t.schema)
    assert(spark.read.format("graft").load(out).count() === 1600L - (0L until 1600L).count(_ % 7 == 0))
  }

  test("analyze of a table with added columns counts the files without them as nulls") {
    val root = tmpDir()
    spark.conf.set("spark.sql.catalog.stats_ev", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.stats_ev.root", root)
    val out = s"$root/db/ev"
    codecTable(0, 600).select("id", "s_dict", "l_some_null").createOrReplaceTempView("ev_src")
    spark.sql("CREATE TABLE stats_ev.db.ev TBLPROPERTIES('blockSize'='64') AS SELECT * FROM ev_src")
    spark.sql("ALTER TABLE stats_ev.db.ev ADD COLUMNS (score BIGINT, tag STRING)")
    spark.sql("INSERT INTO stats_ev.db.ev SELECT id + 600, s_dict, l_some_null, id * 3, " +
      "concat('t', cast(id % 5 AS string)) FROM ev_src WHERE id < 200")
    val schema = spark.table("stats_ev.db.ev").schema
    assert(schema.fieldNames.toSeq === Seq("id", "s_dict", "l_some_null", "score", "tag"))
    // the insert's non-null values do not make the added columns NOT NULL
    assert(schema("score").nullable && schema("tag").nullable)
    EncodePipeline.analyzeTable(spark, out)
    val rows = assertCommittedMatch(out, schema)
    // the analyzed rows of an added column span files written before it
    val iFiles = statCols.indexOf("data_files")
    val spans = EncodePipeline.manifestView(spark, out, None).files.groupBy(_._1).map {
      case (p, fs) => p -> fs.size }
    assert(rows.exists(r => r.getString(statCols.indexOf("column")) == "score" &&
      r.getSeq[String](iFiles).size == spans(r.getInt(0)) && spans(r.getInt(0)) > 1), spans)
    // the rows of the earlier files are the added columns' nulls, so the
    // statistics answer as the data does
    val stats = EncodePipeline.tableStats(spark, out, schema).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(stats("score") === (200L, 600L) && stats("tag") === (200L, 600L), stats)
    assert(spark.sql("SELECT count(*), count(score), count(tag), sum(score) FROM stats_ev.db.ev")
      .head() === Row(800L, 200L, 200L, (0L until 200L).map(_ * 3).sum))
    assert(spark.sql("SELECT count(*) FROM stats_ev.db.ev WHERE score IS NULL").head().getLong(0) === 600L)
  }
}
