package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Jobs, SparkTestBase}
import graft.sources.WebDocGen

/** The driver-held manifest snapshot: its Scala generation resolution
  * returns the same row multiset as the Spark SQL formulation of the rule
  * ([[ReadMetaOracle]]) at every read generation and branch, a view with
  * rows from before file tracking refuses to list files, and the
  * metadata-directory cache keeps to its byte budget. */
class ManifestSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_manifest").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private val full = StructType(Seq(
    StructField("__part", IntegerType), StructField("column", StringType),
    StructField("rows", LongType), StructField("data_files", ArrayType(StringType)),
    StructField("gen", IntegerType), StructField("additive", BooleanType),
    StructField("ref", StringType), StructField("publish_from", IntegerType),
    StructField("publish_to", IntegerType), StructField("rollback_to", IntegerType)))

  /** manifest schema eras: gen-less, gen without the additive flag, no
    * branches, branches without publish markers, everything */
  private val eras: Seq[Seq[String]] = Seq(
    Seq("__part", "column", "rows", "data_files"),
    Seq("__part", "column", "rows", "data_files", "gen"),
    Seq("__part", "column", "rows", "data_files", "gen", "additive", "rollback_to"),
    Seq("__part", "column", "rows", "data_files", "gen", "additive", "ref"),
    full.fieldNames.toSeq)

  /** a random commit history: gen-less and gen-0 base rows, replacing
    * commits (additive false or null), additive appends, tombstones,
    * rollback markers, branch rows and publish markers with windows */
  private def history(seed: Long): (Seq[Map[String, Any]], Int) = {
    val rnd = new scala.util.Random(seed)
    val rows = ArrayBuffer.empty[Map[String, Any]]
    var file = 0
    def files(): Any =
      if (rnd.nextInt(8) == 0) null // written before file tracking
      else Seq.fill(1 + rnd.nextInt(2)) { file += 1; s"file:/t/data/__part=0/f$file" }
    def commit(parts: Seq[Int], g: Any, extra: Map[String, Any], fl: () => Any = () => files()): Unit =
      parts.foreach { p =>
        val f = fl()
        Seq("a", "b").foreach(c => rows += Map("__part" -> p, "column" -> c,
          "rows" -> rnd.nextInt(100).toLong, "data_files" -> f, "gen" -> g) ++ extra)
      }
    def someParts() = (0 until 4).filter(_ => rnd.nextBoolean())
    def branchName() = if (rnd.nextBoolean()) "b1" else "b2"
    commit(0 until 4, if (rnd.nextBoolean()) null else 0, Map.empty)
    val nGen = 2 + rnd.nextInt(6)
    (1 to nGen).foreach { g =>
      rnd.nextInt(6) match {
        case 0 => commit(someParts(), g, Map("additive" -> (if (rnd.nextBoolean()) false else null)))
        case 1 => commit(someParts(), g, Map("additive" -> true))
        case 2 => commit(Seq(rnd.nextInt(4)), g, Map("additive" -> false), () => Seq.empty[String])
        case 3 =>
          rows += Map("__part" -> -1, "column" -> "__rb_marker", "rows" -> 0L,
            "data_files" -> Seq.empty[String], "gen" -> g, "rollback_to" -> rnd.nextInt(g))
          commit(someParts(), g, Map("additive" -> false))
        case 4 => commit(someParts(), g, Map("additive" -> true, "ref" -> branchName()))
        case _ =>
          rows += Map("__part" -> -1, "column" -> "__publish", "rows" -> 0L,
            "data_files" -> Seq.empty[String], "gen" -> g, "ref" -> branchName(),
            "publish_from" -> (if (rnd.nextBoolean()) null else rnd.nextInt(g + 1) - 1),
            "publish_to" -> (g - rnd.nextInt(2)))
      }
    }
    (rows.toSeq, nGen)
  }

  private def keyOf(r: Row): String = r.toSeq.map {
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")

  private def sortedKeys(rs: Seq[Row]): Seq[String] = rs.map(keyOf).sorted

  test("Scala resolution returns the oracle's row multiset on generated manifests") {
    var compared = 0
    var (refused, listed) = (0, 0)
    for (era <- eras; seed <- 1L to 3L) {
      val (hist, nGen) = history(seed * 31 + era.length)
      val schema = StructType(era.map(full(_)))
      val rows = hist.map(h => Row.fromSeq(era.map(h.getOrElse(_, null)))).toArray
      val m = new Manifest("t", schema, rows, Array.fill(rows.length)("file:/t/meta/m.parquet"))
      val df = m.toDF(spark, m.raw)
      val rnd = new scala.util.Random(seed)
      val upTos = Seq(None, Some(0), Some(1 + rnd.nextInt(nGen)), Some(nGen))
      val branches = Seq(None, Some("b1" -> (rnd.nextInt(nGen + 1) - 1)), Some("b2" -> -1))
      for (upTo <- upTos; branch <- branches) {
        val view = m.view(upTo, branch)
        val got = sortedKeys(view.rows)
        val want = sortedKeys(ReadMetaOracle.resolve(df, upTo, branch).collect().toSeq)
        val clue = s"era ${era.mkString(",")} seed $seed upTo $upTo branch $branch"
        assert(got === want, clue)
        // the file accessor: a visible data row without a list refuses the
        // view, naming the upgrade; otherwise it lists every recorded file
        val recorded = view.rows.filter(_.getInt(0) >= 0).map(r => Option(r.getSeq[String](3)))
        if (recorded.contains(None)) {
          val e = intercept[IllegalStateException](view.files)
          assert(e.getMessage.contains("analyzeTable"), clue)
          refused += 1
        } else {
          assert(view.dataFiles.toSet === recorded.flatten.flatten.toSet, clue)
          listed += 1
        }
        compared += 1
      }
    }
    assert(compared === eras.length * 3 * 12)
    assert(refused > 0 && listed > 0)
  }

  test("readMetaAt matches the oracle on a table with appends, a branch, MOR deletes and a rollback") {
    val docs = WebDocGen.dataset(spark, 400, 4).toDF()
    val out = tmpDir()
    EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
    import spark.implicits._
    val more = spark.range(5000, 5040).map(i => WebDocGen.make(i)).toDF()
    EncodePipeline.appendCommit(more, "url", out, partitions = 4, blockSize = 64, batchId = 1L)
    EncodePipeline.createBranch(spark, out, "audit")
    EncodePipeline.appendToBranch(more.limit(10).withColumn("lang", lit("zz")), "url", out,
      partitions = 4, branch = "audit", blockSize = 64, batchId = 2L)
    EncodePipeline.fastForward(spark, out, "audit")
    EncodePipeline.deleteWhereLazy(spark, out, docs.schema, col("lang") === "de")
    EncodePipeline.appendToBranch(more.limit(5), "url", out, partitions = 4,
      branch = "audit", blockSize = 64, batchId = 3L)
    EncodePipeline.rollbackTo(spark, out, 1)
    val raw = EncodePipeline.rawManifest(spark, out)
    val base = EncodePipeline.branchBase(spark, out, "audit")
    val top = EncodePipeline.currentGen(spark, out)
    assert(top >= 5)
    for (upTo <- None +: (0 to top).map(Some(_)); branch <- Seq(None, Some("audit"))) {
      val got = sortedKeys(
        EncodePipeline.manifestView(spark, out, upTo, branch).toDF(spark).collect().toSeq)
      val want = sortedKeys(ReadMetaOracle.resolve(raw, upTo, branch.map(_ -> base)).collect().toSeq)
      assert(got === want, s"upTo $upTo branch $branch")
    }
  }

  test("the manifest cache serves a directory over its byte budget without caching it") {
    val docs = WebDocGen.dataset(spark, 300, 4).toDF()
    val out = tmpDir()
    val meta = s"$out/meta"
    def readBack(): Seq[String] =
      sortedKeys(EncodePipeline.manifestView(spark, out, None).toDF(spark).collect().toSeq)
    val budget = EncodePipeline.metaCacheBudget
    EncodePipeline.metaCacheBudget = 1L
    val overBudget = try {
      EncodePipeline.run(docs, "url", out, partitions = 4, blockSize = 64)
      val first = readBack()
      assert(!EncodePipeline.dirCached(meta))
      // every read goes back to the files
      val (again, jobs) = Jobs.counted(spark)(readBack())
      assert(again === first && jobs > 0)
      assert(!EncodePipeline.dirCached(meta))
      first
    } finally EncodePipeline.metaCacheBudget = budget
    // under the default budget the same directory is cached and re-served
    // without a Spark job
    assert(readBack() === overBudget)
    assert(EncodePipeline.dirCached(meta))
    val (cached, jobs) = Jobs.counted(spark)(EncodePipeline.allParts(spark, out))
    assert(jobs === 0 && cached.toSeq === Seq(0, 1, 2, 3))
  }
}
