package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.{GraftCatalog, WebDocGen}

/** The commit primitive: every table operation lands as exactly one
  * manifest file at one new generation whose rows all record their
  * data-file lists, no generation is held by two commits, no-ops write
  * nothing, an unreadable manifest is never taken for a new table, and
  * readers never move manifest directories. */
class CommitSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_commit_wh").toFile
    d.deleteOnExit()
    spark.conf.set("spark.sql.catalog.cmt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cmt.root", d.getAbsolutePath)
    d.getAbsolutePath
  }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_commit").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def parquetFiles(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(_.getAbsolutePath).toSet

  /** the distinct generations one manifest file holds (-1 = gen-less) */
  private def gensOf(file: String): Set[Int] = {
    val df = spark.read.parquet(file)
    if (!df.columns.contains("gen")) Set(-1)
    else df.select(coalesce(col("gen"), lit(-1))).distinct().collect().map(_.getInt(0)).toSet
  }

  /** rows of manifest file `file` that record no data-file list */
  private def withoutFiles(file: String): Long = {
    val df = spark.read.parquet(file)
    if (df.columns.contains("data_files")) df.filter(col("data_files").isNull).count()
    else df.count()
  }

  private def fresh(from: Long, n: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n).map(i => WebDocGen.make(i)).toDF()
  }

  test("every operation commits one manifest file at one new generation; no-ops write nothing") {
    val docs = WebDocGen.dataset(spark, 600, 4).toDF()
    val schema = docs.schema
    val out = s"$warehouse/db/t"
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64, waves = 2)
    // the base run: one gen-less file per wave
    assert(parquetFiles(s"$out/meta").toSeq.map(gensOf) === Seq(Set(-1), Set(-1)))
    assert(parquetFiles(s"$out/meta").toSeq.map(withoutFiles) === Seq(0L, 0L))
    assert(EncodePipeline.currentGen(spark, out) === 0)
    val urls = docs.select("url").orderBy("url").collect().map(_.getString(0))
    def byUrl(from: Int, until: Int) = col("url").isin(urls.slice(from, until).toSeq: _*)
    // two urls past the ones below that the SQL DELETE keeps
    val sqlGone = docs.filter(length(col("text")) % 7 === 0).select("url")
      .collect().map(_.getString(0)).toSet
    val late = urls.drop(50).filterNot(sqlGone).take(2)
    def gen() = EncodePipeline.currentGen(spark, out)

    // (operation, generations it adds, body)
    val ops: Seq[(String, Int, () => Any)] = Seq(
      ("appendCommit", 1, () =>
        assert(EncodePipeline.appendCommit(fresh(10000, 20), "url", out, 4, 64, batchId = 1L))),
      ("appendCommit 2", 1, () =>
        assert(EncodePipeline.appendCommit(fresh(20000, 20), "url", out, 4, 64, batchId = 2L))),
      ("compactSmallFiles", 1, () =>
        assert(EncodePipeline.compactSmallFiles(spark, out, schema, blockSize = 64).nonEmpty)),
      ("deleteWhere", 1, () =>
        assert(EncodePipeline.deleteWhere(spark, out, schema, "url", byUrl(0, 10), 64) === 10L)),
      ("updateWhere", 1, () =>
        assert(EncodePipeline.updateWhere(spark, out, schema, "url", byUrl(10, 20),
          Map("lang" -> lit("uu")), 64) === 10L)),
      ("mergeByKey", 2, () =>
        assert(EncodePipeline.mergeByKey(spark, out, schema, "url",
          docs.filter(byUrl(20, 25)).withColumn("lang", lit("mm")), 4, 64,
          batchId = 100L) === ((5L, 0L)))),
      ("compact", 1, () =>
        assert(EncodePipeline.compact(spark, out, schema, blockSize = 64).nonEmpty)),
      ("rewriteSorted", 1, () =>
        assert(EncodePipeline.rewriteSorted(spark, out, schema, "url",
          Seq(col("warc_ts")), 64).nonEmpty)),
      ("deleteWhereLazy", 1, () =>
        assert(EncodePipeline.deleteWhereLazy(spark, out, schema, byUrl(30, 35)) === 5L)),
      ("updateWhereLazy", 1, () =>
        assert(EncodePipeline.updateWhereLazy(spark, out, schema, "url", byUrl(35, 40),
          Map("lang" -> lit("ll")), 4, 64, batchId = 101L) === 5L)),
      ("mergeByKeyLazy", 1, () =>
        assert(EncodePipeline.mergeByKeyLazy(spark, out, schema, "url",
          docs.filter(byUrl(40, 44)).unionByName(fresh(30000, 3)), 4, 64,
          batchId = 102L) === ((4L, 3L)))),
      ("SQL DELETE FROM (commitDelta)", 1, () =>
        spark.sql("DELETE FROM cmt.db.t WHERE length(text) % 7 = 0")),
      ("materializeDeletes", 1, () =>
        assert(EncodePipeline.materializeDeletes(spark, out, schema, "url", 64) > 0L)),
      ("deleteWhereLazy 2", 1, () =>
        assert(EncodePipeline.deleteWhereLazy(spark, out, schema,
          col("url").isin(late.toSeq: _*)) === 2L)),
      // the overwrite leaves the vectors above inert
      ("replaceCommit", 1, () =>
        EncodePipeline.replaceCommit(docs.filter(!byUrl(0, 60)), "url", out, 4, 64)),
      ("materializeDeletes (inert vectors only)", 1, () =>
        assert(EncodePipeline.materializeDeletes(spark, out, schema, "url", 64) === 0L)),
      ("appendToBranch", 1, () => {
        EncodePipeline.createBranch(spark, out, "audit")
        assert(EncodePipeline.appendToBranch(fresh(40000, 10), "url", out, 4, "audit",
          64, batchId = 103L))
      }),
      ("fastForward", 1, () => EncodePipeline.fastForward(spark, out, "audit")),
      ("analyzeTable", 1, () => EncodePipeline.analyzeTable(spark, out)),
      ("rollbackTo", 1, () => EncodePipeline.rollbackTo(spark, out, 3)))
    ops.foreach { case (name, n, body) =>
      val (metaBefore, g0) = (parquetFiles(s"$out/meta"), gen())
      body()
      val added = parquetFiles(s"$out/meta") -- metaBefore
      withClue(s"$name: ") {
        assert(added.size === n)
        assert(gen() === g0 + n)
        assert(added.toSeq.map(gensOf).sortBy(_.head) === (g0 + 1 to g0 + n).map(Set(_)))
        assert(added.toSeq.map(withoutFiles).sum === 0L)
      }
    }
    // no generation is held by two commits: one per file, each file its own
    val perFile = parquetFiles(s"$out/meta").toSeq.map(gensOf)
    assert(perFile.forall(_.size == 1))
    val gens = perFile.map(_.head).filter(_ >= 0)
    assert(gens.sorted === (1 to gen()))

    // no-ops: replays and deletes that match nothing add no file to meta/
    // or deletes/
    val noops: Seq[(String, () => Any)] = Seq(
      ("appendCommit replay", () =>
        assert(!EncodePipeline.appendCommit(fresh(10000, 20), "url", out, 4, 64, batchId = 1L))),
      ("mergeByKey replay", () =>
        assert(EncodePipeline.mergeByKey(spark, out, schema, "url",
          docs.filter(byUrl(20, 25)), 4, 64, batchId = 100L) === ((0L, 0L)))),
      ("updateWhereLazy replay", () =>
        assert(EncodePipeline.updateWhereLazy(spark, out, schema, "url", byUrl(60, 70),
          Map("lang" -> lit("rr")), 4, 64, batchId = 101L) === 0L)),
      ("mergeByKeyLazy replay", () =>
        assert(EncodePipeline.mergeByKeyLazy(spark, out, schema, "url",
          docs.filter(byUrl(60, 70)), 4, 64, batchId = 102L) === ((0L, 0L)))),
      ("deleteWhere of nothing", () =>
        assert(EncodePipeline.deleteWhere(spark, out, schema, "url",
          col("url") === "absent", 64) === 0L)),
      ("deleteWhereLazy of nothing", () =>
        assert(EncodePipeline.deleteWhereLazy(spark, out, schema,
          col("url") === "absent") === 0L)),
      ("updateWhere of nothing", () =>
        assert(EncodePipeline.updateWhere(spark, out, schema, "url",
          col("url") === "absent", Map("lang" -> lit("rr")), 64) === 0L)))
    noops.foreach { case (name, body) =>
      val before = (parquetFiles(s"$out/meta"), parquetFiles(s"$out/deletes"), gen())
      body()
      withClue(s"$name: ") {
        assert((parquetFiles(s"$out/meta"), parquetFiles(s"$out/deletes"), gen()) === before)
      }
    }
  }

  test("an unreadable manifest fails every commit instead of reading as a new table") {
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64)
    val garbage = new java.io.File(s"$out/meta/part-99999-garbage.parquet")
    java.nio.file.Files.write(garbage.toPath, "not a parquet file".getBytes("UTF-8"))
    val meta = parquetFiles(s"$out/meta")
    def noWrite(what: String)(body: => Any): Unit = withClue(s"$what: ") {
      intercept[Exception](body)
      assert(parquetFiles(s"$out/meta") === meta)
      assert(!new java.io.File(s"$out/deletes").exists())
    }
    noWrite("appendCommit")(EncodePipeline.appendCommit(fresh(5000, 10), "url", out, 2, 64,
      batchId = 1L))
    noWrite("run")(EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64))
    noWrite("commitDelta")(EncodePipeline.commitDelta(spark, out, docs.schema, Nil,
      Seq(("__part=0/x.parquet", 0, Array[Byte](1))), batchId = 2L))
    // once the manifest reads again, the append commits at its own generation
    assert(garbage.delete())
    assert(EncodePipeline.appendCommit(fresh(5000, 10), "url", out, 2, 64, batchId = 1L))
    assert(EncodePipeline.currentGen(spark, out) === 1)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 210L)
  }

  test("readers read a set-aside manifest in place; the next commit restores it") {
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 2, blockSize = 64)
    assert(EncodePipeline.appendCommit(fresh(5000, 10), "url", out, 2, 64, batchId = 1L))
    def rows(df: DataFrame) = df.select("url", "lang").collect().map(_.mkString("|")).sorted
    val now = rows(EncodePipeline.decodeShared(spark, out, docs.schema))
    val at0 = rows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0))
    assert(now.length === 210 && at0.length === 200)
    // a rewriteManifests swap that crashed between its two renames
    val (meta, old) = (new java.io.File(s"$out/meta"), new java.io.File(s"$out/.meta_rw_old"))
    assert(meta.renameTo(old))
    def listing(): Seq[String] = {
      def walk(f: java.io.File): Seq[String] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f.getAbsolutePath)
      walk(new java.io.File(out)).sorted
    }
    val before = listing()
    assert(rows(EncodePipeline.decodeShared(spark, out, docs.schema)) === now)
    assert(rows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0)) === at0)
    assert(spark.read.format("graft").load(out).count() === 210L)
    assert(EncodePipeline.currentGen(spark, out) === 1)
    assert(listing() === before)
    // the next commit finishes the swap, then commits at the next generation
    assert(EncodePipeline.appendCommit(fresh(6000, 10), "url", out, 2, 64, batchId = 2L))
    assert(meta.isDirectory && !old.exists())
    assert(EncodePipeline.currentGen(spark, out) === 2)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 220L)
    // the DataFrame writer sees a set-aside manifest as the table it is
    def writer(df: DataFrame) = df.write.format("graft").option("key", "url")
      .option("partitions", "2").option("blockSize", "64")
    assert(meta.renameTo(old))
    intercept[IllegalStateException](writer(fresh(7000, 10)).mode("errorifexists").save(out))
    assert(old.isDirectory && !meta.exists())
    writer(fresh(7000, 10)).mode("append").save(out)
    assert(meta.isDirectory && !old.exists())
    assert(EncodePipeline.currentGen(spark, out) === 3)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 230L)
    // an overwrite is a replacing commit, not a physical replace
    assert(meta.renameTo(old))
    writer(fresh(8000, 15)).mode("overwrite").save(out)
    assert(meta.isDirectory && !old.exists())
    assert(EncodePipeline.currentGen(spark, out) === 4)
    assert(EncodePipeline.decodeShared(spark, out, docs.schema).count() === 15L)
    assert(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 3).count() === 230L)
    assert(rows(EncodePipeline.decodeSharedAt(spark, out, docs.schema, 0)) === at0)
  }
}
