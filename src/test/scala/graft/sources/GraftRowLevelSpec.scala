package graft.sources

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.core.Bloom
import graft.plans.EncodePipeline

/** SQL UPDATE / MERGE INTO / complex DELETE through the catalog — the
  * delta-based row-level operations: merge-on-read vectors for deletes,
  * law-placed encoded block files for inserts, zero existing bytes
  * rewritten. */
class GraftRowLevelSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_rlo_wh").toFile
    d.deleteOnExit()
    spark.conf.set("spark.sql.catalog.rlo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rlo.root", d.getAbsolutePath)
    d.getAbsolutePath
  }

  private def dataFiles(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/data"))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("metadata columns _file/_block/_pos are selectable coordinates") {
    val d = WebDocGen.dataset(spark, 200, 4).toDF()
    val dir = s"$warehouse/db/meta1"
    EncodePipeline.run(d, "url", dir, partitions = 2, blockSize = 64)
    val rows = spark.sql(
      "SELECT _file, _block, _pos, url FROM rlo.db.meta1").collect()
    assert(rows.length === 200)
    assert(rows.forall(_.getString(0).startsWith("__part=")))
    // coordinates are unique per row
    assert(rows.map(r => (r.getString(0), r.getInt(1), r.getInt(2))).distinct.length === 200)
    // _pos is bounded by block size
    assert(rows.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 64))
  }

  test("SQL UPDATE: zero rewrite, vectors + law-placed re-inserts") {
    val d = WebDocGen.dataset(spark, 300, 4).toDF()
    val dir = s"$warehouse/db/u1"
    EncodePipeline.run(d, "url", dir, partitions = 4, blockSize = 64)
    val before = dataFiles(dir)
    // complex predicate: NOT filter-translatable, so this is the delta path
    spark.sql("UPDATE rlo.db.u1 SET lang = concat(lang, '!') WHERE length(text) % 2 = 0")
    // existing files byte-identical; new delta files appended; vectors landed
    val after = dataFiles(dir)
    assert(before.forall { case (p, len) => after.get(p).contains(len) },
      "an existing data file was rewritten")
    assert(after.size > before.size, "no delta insert files were written")
    assert(new java.io.File(s"$dir/deletes").exists(), "no delete vectors landed")
    // semantics: exactly the matching rows updated
    val got = spark.sql("SELECT url, lang FROM rlo.db.u1").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val want = d.select(col("url"),
        when(length(col("text")) % 2 === 0, concat(col("lang"), lit("!")))
          .otherwise(col("lang")).as("lang")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got === want)
    // placement law: every row (incl. re-inserts) sits in its law part
    val spec = EncodePipeline.readPartSpec(spark, dir).get
    val placed = EncodePipeline.decode(
        EncodePipeline.readData(spark, dir), d.schema, None, keepPart = true)
    // re-inserted rows carry vectors over originals; count live rows per law
    assert(spark.sql("SELECT count(*) FROM rlo.db.u1").head().getLong(0) === 300L)
    val lawViolations = placed.select(col("__part"), spec.expr.as("law"))
      .filter(col("__part") =!= col("law")).count()
    assert(lawViolations === 0L)
  }

  test("SQL MERGE INTO: matched update, not-matched insert") {
    val d = WebDocGen.dataset(spark, 250, 4).toDF()
    val dir = s"$warehouse/db/m1"
    EncodePipeline.run(d, "url", dir, partitions = 4, blockSize = 64)
    // source: half overlapping (new lang), half brand-new urls
    WebDocGen.dataset(spark, 300, 4).toDF()
      .filter(xxhash64(col("url")) % 2 === 0)
      .withColumn("lang", lit("xx"))
      .withColumn("url", when(xxhash64(col("text")) % 3 === 0,
        concat(col("url"), lit("#new"))).otherwise(col("url")))
      .createOrReplaceTempView("m1_src")
    val src = spark.table("m1_src")
    val nNew = src.filter(col("url").endsWith("#new")).count()
    assert(nNew > 0)
    spark.sql(
      """MERGE INTO rlo.db.m1 t USING m1_src s ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET lang = s.lang
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val total = spark.sql("SELECT count(*) FROM rlo.db.m1").head().getLong(0)
    val xx = spark.sql(
      "SELECT count(*) FROM rlo.db.m1 WHERE lang = 'xx'").head().getLong(0)
    // matched src rows update in place (count unchanged); unmatched insert
    val inserted = src.join(d.select(col("url")), Seq("url"), "left_anti").count()
    assert(inserted > 0)
    assert(total === 250L + inserted)
    // every src row left its lang mark exactly once (update or insert)
    assert(xx === src.count())
    // each inserted file holds the blobs the batch encoder writes for the
    // same rows in the same part
    val inserts = dataFiles(dir).keys.filter(_.contains("/delta-")).toSeq.sorted
    assert(inserts.nonEmpty)
    def blobs(blocks: org.apache.spark.sql.DataFrame): Seq[Seq[Seq[Byte]]] =
      blocks.orderBy("__block").select(d.columns.toSeq.map(c => col(s"e_$c")): _*).collect()
        .map(_.toSeq.map(_.asInstanceOf[Array[Byte]].toSeq)).toSeq
    inserts.foreach { f =>
      val part = f.split("/__part=")(1).takeWhile(_ != '/').toInt
      val written = spark.read.parquet(f)
      val encoded = EncodePipeline.encode(EncodePipeline.decode(written, d.schema), "url", 1,
        partExpr = Some(lit(part)))
      assert(blobs(written) === blobs(encoded), f)
    }
  }

  test("SQL MERGE INTO on a Bloom table: inserted files carry the filters, lookups skip the rest") {
    val d = WebDocGen.dataset(spark, 250, 4).toDF()
    val dir = s"$warehouse/db/mb"
    EncodePipeline.run(d, "url", dir, partitions = 4, blockSize = 64, bloomCols = Seq("url"))
    d.orderBy("url").limit(40).withColumn("url", concat(col("url"), lit("#new")))
      .createOrReplaceTempView("mb_src")
    spark.sql(
      """MERGE INTO rlo.db.mb t USING mb_src s ON t.url = s.url
        |WHEN MATCHED THEN UPDATE SET lang = s.lang
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val inserts = dataFiles(dir).keys.filter(_.contains("/delta-")).toSeq
    assert(inserts.nonEmpty)
    inserts.foreach(f => assert(spark.read.parquet(f).columns.contains("bm_url"), f))
    val url = spark.table("mb_src").head().getString(0)
    val h = Bloom.hashBytes(url.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val all = EncodePipeline.currentFiles(spark, dir).map(_._2)
    // the files whose stored filters may hold `url`
    val admitting = all.filter { f =>
      spark.read.parquet(f).select("bm_url").collect()
        .exists(r => r.isNullAt(0) || Bloom.maybe(r.getAs[Array[Byte]](0), h))
    }.toSet
    assert(admitting.size === 1)
    val q = spark.read.format("graft").load(dir).filter(col("url") === url)
    val scan = q.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[GraftScan]
    }.get
    assert(scan.planInputPartitions().map(_.asInstanceOf[GraftInputPartition].path).toSet === admitting)
    assert(scan.description().contains(s" BloomFiles: 1/${all.size}"), scan.description())
    assert(q.collect().map(_.getString(0)).toSeq === Seq(url))
  }

  test("complex DELETE falls back to the delta path (no loud failure)") {
    val d = WebDocGen.dataset(spark, 200, 4).toDF()
    val dir = s"$warehouse/db/d1"
    EncodePipeline.run(d, "url", dir, partitions = 2, blockSize = 64)
    val before = dataFiles(dir)
    val expectGone = d.filter(length(col("text")) % 3 === 0).count()
    assert(expectGone > 0)
    spark.sql("DELETE FROM rlo.db.d1 WHERE length(text) % 3 = 0")
    assert(spark.sql("SELECT count(*) FROM rlo.db.d1").head().getLong(0)
      === 200L - expectGone)
    // pure delete: zero new data files, zero rewrites — vectors only
    assert(dataFiles(dir) === before)
    assert(new java.io.File(s"$dir/deletes").exists())
  }
}
