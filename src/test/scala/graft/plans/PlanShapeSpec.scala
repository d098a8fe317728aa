package graft.plans

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.WebDocGen

/** Plan-shape assertions: the properties that matter at 100 TB — filters
  * reaching the parquet scan, partition pruning on the encoded table, column
  * pruning of untouched blob columns, broadcast of small join sides — pinned
  * as tests so a refactor can't silently regress them. */
class PlanShapeSpec extends SparkTestBase {

  private lazy val encDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_plan").toFile.getAbsolutePath
    val docs = WebDocGen.dataset(spark, 1000, 4).toDF()
    EncodePipeline.run(docs, "url", dir, partitions = 8, blockSize = 128)
    dir
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("source filters are pushed to the parquet scan") {
    val df = sf("documents").filter(col("n_chars") > 100).select("doc_id", "lang")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"), plan)
    // and only the needed columns are read
    assert(plan.contains("ReadSchema") && !plan.contains("text"), plan)
  }

  test("encoded table reads prune partitions on __part") {
    val df = spark.read.parquet(s"$encDir/data").filter(col("__part") === 3)
    val plan = planOf(df)
    assert("PartitionFilters: \\[[^\\]]*\\(__part#\\d+ = 3\\)".r.findFirstIn(plan).isDefined, plan)
  }

  test("DML rewrite reads prune to the affected parts (encoded-read scoping)") {
    // the rewrite pass of deleteWhere/updateWhere/mergeByKey/
    // materializeDeletes filters __part on the ENCODED read; the IN must
    // reach the scan as a partition filter or every rewrite decodes the
    // whole table
    val df = EncodePipeline.readData(spark, encDir).filter(col("__part").isin(1, 3))
    val plan = planOf(df)
    assert(plan.contains("PartitionFilters") &&
      "__part#\\d+ IN \\(1,\\s*3\\)".r.findFirstIn(plan).isDefined, plan)
  }

  test("narrow decode reads only the requested columns' blobs") {
    import org.apache.spark.sql.types.{StructType, StructField, StringType}
    // scan level: a projection over readData reaches the parquet scan —
    // ReadSchema carries e_lang, not e_text
    val plan = planOf(EncodePipeline.readData(spark, encDir).select("__cnt", "e_lang"))
    assert(plan.contains("e_lang") && !plan.contains("e_text"), plan)
    // decode level: decodeEx projects to the needed blobs BEFORE the RDD
    // boundary — poison another column's blob and a narrow decode must
    // never evaluate it, while a decode that needs it must fail
    val narrow = StructType(Seq(StructField("lang", StringType)))
    val textOnly = StructType(Seq(StructField("text", StringType)))
    val poisoned = EncodePipeline.readData(spark, encDir)
      .withColumn("e_text", lit(Array[Byte](1, 2, 3)))
    assert(EncodePipeline.decode(poisoned, narrow).count() > 0)
    intercept[org.apache.spark.SparkException] {
      EncodePipeline.decode(poisoned, textOnly).count()
    }
  }

  test("manifest planner hook: encoded-domain filters open only surviving part directories") {
    import graft.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_mpr").toFile.getAbsolutePath
    val docs = WebDocGen.dataset(spark, 1000, 4).toDF()
    // lang-disjoint parts so the manifest string zone maps are selective
    EncodePipeline.run(docs, "url", dir, partitions = 8, blockSize = 128,
      customPart = Some(pmod(xxhash64(col("lang")), lit(8)).cast("int")))
    val df = spark.read.parquet(s"$dir/data")
      .filter(blob_contains(col("e_lang"), lit("de")))
    val plan = planOf(df)
    // the rule injected __part IN (...) and Catalyst turned it into native
    // partition pruning (a single-part IN folds further, to equality) —
    // pruned part directories are never opened
    val pf = "PartitionFilters: \\[[^\\]]*__part#\\d+ (= \\d+|IN \\(([^)]*)\\))".r
      .findFirstMatchIn(plan)
    assert(pf.isDefined, plan)
    val nParts = Option(pf.get.group(2)).map(_.split(",").length).getOrElse(1)
    assert(nParts < 8, plan)
    // and the pruned read returns exactly the unpruned result
    val expect = spark.read.parquet(s"$dir/data")
      .agg(sum(blob_count_eq(col("e_lang"), lit("de")))).head().getLong(0)
    val got = df.agg(sum(blob_count_eq(col("e_lang"), lit("de")))).head().getLong(0)
    assert(got === expect && got === docs.filter(col("lang") === "de").count())
    // a probe no part admits folds the scan away entirely
    val none = spark.read.parquet(s"$dir/data")
      .filter(blob_contains(col("e_lang"), lit("zz")))
    assert(none.count() === 0L)
    assert(!planOf(none).contains("FileScan"), planOf(none))
    // an OR of probes (the IN-list rewrite shape) prunes to the UNION of
    // the disjuncts' survivors — still fewer than all parts here
    val inList = spark.read.parquet(s"$dir/data")
      .filter(blob_contains(col("e_lang"), lit("de")) ||
        blob_contains(col("e_lang"), lit("fr")))
    val inPlan = planOf(inList)
    val pfIn = "PartitionFilters: \\[[^\\]]*__part#\\d+ (= \\d+|IN \\(([^)]*)\\))".r
      .findFirstMatchIn(inPlan)
    assert(pfIn.isDefined, inPlan)
    val inParts = Option(pfIn.get.group(2)).map(_.split(",").length).getOrElse(1)
    assert(inParts < 8, inPlan)
    val gotIn = inList.agg(sum(blob_count_eq(col("e_lang"), lit("de")) +
      blob_count_eq(col("e_lang"), lit("fr")))).head().getLong(0)
    assert(gotIn === docs.filter(col("lang").isin("de", "fr")).count())
  }

  test("single-column metadata queries prune the other blob columns") {
    val df = spark.read.parquet(s"$encDir/data").select(octet_length(col("e_lang")))
    val plan = planOf(df)
    assert(plan.contains("e_lang") && !plan.contains("e_html"), plan)
  }

  test("readData's plan has no join and opens only the manifest's files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_plan_files").toFile.getAbsolutePath
    val docs = WebDocGen.dataset(spark, 1000, 4).toDF()
    EncodePipeline.run(docs, "url", dir, partitions = 4, blockSize = 128)
    (1 to 3).foreach { b =>
      assert(EncodePipeline.appendCommit(WebDocGen.dataset(spark, 40, 2).toDF()
        .withColumn("url", concat(col("url"), lit(s"#$b"))), "url", dir, partitions = 4,
        blockSize = 128, batchId = b.toLong))
    }
    assert(EncodePipeline.compact(spark, dir, docs.schema, blockSize = 128).nonEmpty)
    // superseded files stay on disk until vacuum
    val onDisk = new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val current = EncodePipeline.currentFiles(spark, dir).size
    assert(onDisk > current, s"$onDisk on disk, $current current")
    val df = EncodePipeline.readData(spark, dir)
    assert(!planOf(df).contains("Join"), planOf(df))
    val scan = df.queryExecution.executedPlan.collectFirst { case s: FileSourceScanExec => s }
    assert(scan.isDefined, planOf(df))
    assert(df.collect().nonEmpty)
    assert(scan.get.metrics("numFiles").value === current.toLong)
  }

  test("decode is join-free and shuffle-free (in-place block expansion)") {
    val docs = WebDocGen.dataset(spark, 100, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)
    val plan = planOf(EncodePipeline.decode(enc, docs.schema))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
    // and no external-Row boxing round trip around the kernel
    assert(!plan.contains("DeserializeToObject") && !plan.contains("SerializeFromObject"), plan)
  }

  test("encoded-domain pushdown: filter over a decoded block never decodes it") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)
    val filtered = enc.filter(array_contains(decode_strings(col("e_lang")), "de"))
    val optimized = filtered.queryExecution.optimizedPlan.toString
    assert(optimized.contains("blob_contains"), optimized)
    assert(!optimized.contains("decode_strings"), optimized)
    // and the rewrite answers identically to actually decoding every block
    val viaBlob = filtered.count()
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_strings(col("e_lang"))).as("lang"))
      .filter(col("lang") === "de")
      .select(col("__part"), col("__block")).distinct().count()
    assert(viaBlob === viaDecode)
    assert(viaBlob > 0) // the fixture actually contains 'de' blocks
  }

  test("encoded-domain RANGE pushdown: exists/size-filter forms never decode") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)

    val lo = WebDocGen.BaseMicros + 50000L
    val hi = WebDocGen.BaseMicros + 100000L

    // exists(decode_longs(b), x -> x between lo and hi) → blob_contains_between
    val existsF = enc.filter(expr(s"exists(decode_longs(e_warc_ts), x -> x BETWEEN $lo AND $hi)"))
    val existsPlan = existsF.queryExecution.optimizedPlan.toString
    assert(existsPlan.contains("blob_contains_between"), existsPlan)
    assert(!existsPlan.contains("decode_longs"), existsPlan)

    // size(filter(decode_longs(b), x -> range)) → cast(blob_count_between)
    val sizeF = enc.select(expr(s"size(filter(decode_longs(e_warc_ts), x -> x >= $lo))").as("n"))
    val sizePlan = sizeF.queryExecution.optimizedPlan.toString
    assert(sizePlan.contains("blob_count_between"), sizePlan)
    assert(!sizePlan.contains("decode_longs"), sizePlan)

    // both answer identically to actually decoding every block
    val viaBlob = existsF.count()
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_longs(col("e_warc_ts"))).as("n"))
      .filter(col("n").between(lo, hi))
      .select(col("__part"), col("__block")).distinct().count()
    assert(viaBlob === viaDecode)
    assert(viaBlob > 0)
    val nBlob = sizeF.agg(sum("n")).head().getLong(0)
    val nDecode = enc.select(explode(decode_longs(col("e_warc_ts"))).as("n"))
      .filter(col("n") >= lo).count()
    assert(nBlob === nDecode)
    assert(nBlob > 0)
    // a one-sided strict bound through the mirror patterns
    val strict = enc.filter(expr(s"exists(decode_longs(e_warc_ts), x -> $lo < x)"))
    assert(strict.queryExecution.optimizedPlan.toString.contains("blob_contains_between"))
    assert(strict.count() ===
      enc.select(col("__part"), col("__block"), explode(decode_longs(col("e_warc_ts"))).as("n"))
        .filter(col("n") > lo).select(col("__part"), col("__block")).distinct().count())
  }

  test("encoded-domain STRING range pushdown: exists/size-filter forms never decode") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)

    // exists(decode_strings(b), x -> 'd' <= x < 'e') → blob_contains_between_str
    val existsF = enc.filter(expr("exists(decode_strings(e_lang), x -> x >= 'd' AND x < 'e')"))
    val existsPlan = existsF.queryExecution.optimizedPlan.toString
    assert(existsPlan.contains("blob_contains_between_str"), existsPlan)
    assert(!existsPlan.contains("decode_strings"), existsPlan)

    // size(filter(decode_strings(b), x -> range)) → cast(blob_count_between_str)
    val sizeF = enc.select(expr("size(filter(decode_strings(e_lang), x -> x >= 'd' AND x <= 'en'))").as("n"))
    val sizePlan = sizeF.queryExecution.optimizedPlan.toString
    assert(sizePlan.contains("blob_count_between_str"), sizePlan)
    assert(!sizePlan.contains("decode_strings"), sizePlan)

    // both answer identically to actually decoding every block
    val viaBlob = existsF.count()
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_strings(col("e_lang"))).as("l"))
      .filter(col("l") >= "d" && col("l") < "e")
      .select(col("__part"), col("__block")).distinct().count()
    assert(viaBlob === viaDecode)
    assert(viaBlob > 0) // 'de' exists in the fixture
    val nBlob = sizeF.agg(sum("n")).head().getLong(0)
    val nDecode = enc.select(explode(decode_strings(col("e_lang"))).as("l"))
      .filter(col("l") >= "d" && col("l") <= "en").count()
    assert(nBlob === nDecode)
    assert(nBlob > 0)
    // string equality through the exists form rewrites to blob_contains
    val eq = enc.filter(expr("exists(decode_strings(e_lang), x -> x = 'de')"))
    val eqPlan = eq.queryExecution.optimizedPlan.toString
    assert(eqPlan.contains("blob_contains") && !eqPlan.contains("decode_strings"), eqPlan)
  }

  test("LIKE-prefix pushdown: startswith becomes a [p, succ(p)) byte range, no decode") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)

    for (pred <- Seq("x LIKE 'e%'", "startswith(x, 'e')")) {
      val f = enc.select(expr(s"size(filter(decode_strings(e_lang), x -> $pred))").as("n"))
      val plan = f.queryExecution.optimizedPlan.toString
      assert(plan.contains("blob_count_between_str"), plan)
      assert(!plan.contains("decode_strings"), plan)
      val nBlob = f.agg(sum("n")).head().getLong(0)
      val nDecode = enc.select(explode(decode_strings(col("e_lang"))).as("l"))
        .filter(col("l").startsWith("e")).count()
      assert(nBlob === nDecode)
      assert(nBlob > 0) // 'en'/'es' exist in the fixture
    }
    // exists-form over the url column (the canonical webtext filter shape);
    // cross-check against the decoded ground truth
    val ex = enc.filter(expr("exists(decode_strings(e_url), x -> x LIKE 'https://host-1%')"))
    val exPlan = ex.queryExecution.optimizedPlan.toString
    assert(exPlan.contains("blob_contains_between_str") && !exPlan.contains("decode_strings"), exPlan)
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_strings(col("e_url"))).as("u"))
      .filter(col("u").startsWith("https://host-1"))
      .select(col("__part"), col("__block")).distinct().count()
    assert(ex.count() === viaDecode)
    // carry-edge: a prefix whose last byte is 0xBF inside a multi-byte char
    // still gets a correct byte successor; no-hit prefixes answer 0 without
    // decode (UTF-8 can never contain 0xFF, so the unbounded-successor
    // branch of prefixSucc is defensive-only for string inputs)
    val hi = enc.filter(expr("exists(decode_strings(e_lang), x -> startswith(x, 'ÿ'))"))
    assert(!hi.queryExecution.optimizedPlan.toString.contains("decode_strings"))
    assert(hi.count() === 0L)
  }

  test("IN-list pushdown: exists/size-filter over IN become contains/count-eq terms") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)

    // exists(x -> x IN (...)) → OR of blob_contains (both In and the
    // optimizer's InSet conversion past the 10-element threshold)
    val inSmall = enc.filter(expr("exists(decode_strings(e_lang), x -> x IN ('en', 'de'))"))
    val planSmall = inSmall.queryExecution.optimizedPlan.toString
    assert(planSmall.contains("blob_contains") && !planSmall.contains("decode_strings"), planSmall)
    val big = (0 until 12).map(i => s"'v$i'").mkString(", ") + ", 'en'"
    val inBig = enc.filter(expr(s"exists(decode_strings(e_lang), x -> x IN ($big))"))
    val planBig = inBig.queryExecution.optimizedPlan.toString
    assert(planBig.contains("blob_contains") && !planBig.contains("decode_strings"), planBig)

    // counts agree with decoding, and duplicate list values don't double-count
    val n = enc.select(expr(
      "size(filter(decode_strings(e_lang), x -> x IN ('en', 'de', 'en')))").as("n"))
    assert(!n.queryExecution.optimizedPlan.toString.contains("decode_strings"))
    val nBlob = n.agg(sum("n")).head().getLong(0)
    val nDecode = enc.select(explode(decode_strings(col("e_lang"))).as("l"))
      .filter(col("l").isin("en", "de")).count()
    assert(nBlob === nDecode && nBlob > 0)

    // long IN-list through both forms (two real timestamps from the data)
    val Array(t1, t2) = enc.select(explode(decode_longs(col("e_warc_ts"))).as("t"))
      .distinct().orderBy("t").limit(2).collect().map(_.getLong(0))
    val ln = enc.select(expr(
      s"size(filter(decode_longs(e_warc_ts), x -> x IN (CAST($t1 AS BIGINT), CAST($t2 AS BIGINT))))").as("n"))
    assert(!ln.queryExecution.optimizedPlan.toString.contains("decode_longs"))
    val lnDecode = enc.select(explode(decode_longs(col("e_warc_ts"))).as("t"))
      .filter(col("t").isin(t1, t2)).count()
    assert(ln.agg(sum("n")).head().getLong(0) === lnDecode && lnDecode >= 2)

    // a null element in the list disables the rewrite (3VL not reproducible)
    val withNull = enc.filter(expr(
      "exists(decode_strings(e_lang), x -> x IN ('en', CAST(NULL AS STRING)))"))
    assert(withNull.queryExecution.optimizedPlan.toString.contains("decode_strings"))
  }

  test("binary-column range pushdown mirrors the string forms") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
    val enc = EncodePipeline.encode(docs, "url", 2, 64)
    // e_html decodes to array<binary>; a hex-literal range must rewrite
    val f = enc.filter(expr("exists(decode_binary(e_html), x -> x >= X'3C' AND x < X'3D')"))
    val plan = f.queryExecution.optimizedPlan.toString
    assert(plan.contains("blob_contains_between_str"), plan)
    assert(!plan.contains("decode_binary"), plan)
    // identical answer to actually decoding (html starts with '<' = 0x3C)
    val viaBlob = f.count()
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_binary(col("e_html"))).as("b"))
      .filter(col("b") >= lit(Array[Byte](0x3c)) && col("b") < lit(Array[Byte](0x3d)))
      .select(col("__part"), col("__block")).distinct().count()
    assert(viaBlob === viaDecode)
    assert(viaBlob > 0)
  }

  test("IS NULL pushdown: exists(decode, x -> x IS NULL) reads only the wrapper header") {
    import graft.functions._
    val docs = WebDocGen.dataset(spark, 200, 2).toDF()
      .withColumn("text", when(pmod(xxhash64(col("url")), lit(7)) === 0, lit(null)).otherwise(col("text")))
    val enc = EncodePipeline.encode(docs, "url", 2, 64)
    val f = enc.filter(expr("exists(decode_strings(e_text), x -> x IS NULL)"))
    val plan = f.queryExecution.optimizedPlan.toString
    assert(plan.contains("blob_null_count"), plan)
    assert(!plan.contains("decode_strings"), plan)
    val viaBlob = f.count()
    val viaDecode = enc.select(col("__part"), col("__block"),
        explode(decode_strings(col("e_text"))).as("t"))
      .groupBy(col("__part"), col("__block"))
      .agg(sum(when(col("t").isNull, 1).otherwise(0)).as("nn"))
      .filter(col("nn") > 0).count()
    // explode drops null elements — count blocks via the null-preserving route
    val viaDecode2 = enc.select(col("__part"), col("__block"),
        expr("size(filter(decode_strings(e_text), x -> x IS NOT NULL))").as("nonNull"),
        expr("size(decode_strings(e_text))").as("all"))
      .filter(col("all") > col("nonNull")).count()
    assert(viaBlob === viaDecode2, s"explode-based $viaDecode")
    assert(viaBlob > 0)
    // long variant
    val docs2 = WebDocGen.dataset(spark, 200, 2).toDF()
      .withColumn("warc_ts", when(pmod(xxhash64(col("url")), lit(5)) === 0, lit(null)).otherwise(col("warc_ts")))
    val enc2 = EncodePipeline.encode(docs2, "url", 2, 64)
    val f2 = enc2.filter(expr("exists(decode_longs(e_warc_ts), x -> x IS NULL)"))
    assert(f2.queryExecution.optimizedPlan.toString.contains("blob_null_count"))
    assert(f2.count() > 0)
  }

  test("encode lineage has exactly ONE shuffle") {
    val docs = WebDocGen.dataset(spark, 100, 2).toDF()
    val rdd = org.apache.spark.sql.graftshim.Bridge.toRdd(
      EncodePipeline.encode(docs, "url", 2, 64))
    def countShuffles(r: org.apache.spark.rdd.RDD[_]): Int =
      r.dependencies.map {
        case _: org.apache.spark.ShuffleDependency[_, _, _] => 1
        case d => countShuffles(d.rdd)
      }.sum
    assert(countShuffles(rdd) == 1, rdd.toDebugString)
  }
}
