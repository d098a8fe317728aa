package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._

import graft.{Jobs, SparkTestBase}
import graft.plans.EncodePipeline
import graft.sources.WebDocGen

/** `format("graft")` connector: self-describing reads, column pruning,
  * zone-map filter pruning, manifest-served aggregate pushdown, delete
  * vectors, time travel, limit pushdown, reported statistics. */
class GraftDataSourceSpec extends SparkTestBase {

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_dsv2").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def docs(n: Int) = WebDocGen.dataset(spark, n, 4).toDF()

  // logical-level lookup: AQE wraps physical plans with exchanges, hiding
  // BatchScanExec from executedPlan.collect until execution
  private def scanOf(df: DataFrame) =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }

  test("reads the table back bit-identically with the persisted schema") {
    val d = docs(900)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 128)
    val back = spark.read.format("graft").load(out)
    assert(back.schema === d.schema)
    val s = EncodePipeline.verifyRoundTrip(d, back, "url").head()
    assert(s.getLong(0) === 900L && s.getLong(1) === 0L)
  }

  test("column pruning reaches the scan: only requested blobs are read") {
    val d = docs(400)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 128)
    val q = spark.read.format("graft").load(out).select("lang")
    assert(scanOf(q).get.readSchema().fieldNames.toSeq === Seq("lang"))
    assert(q.distinct().count() > 0)
  }

  test("aggregate pushdown answers from the manifest: zero data files opened") {
    val d = docs(700).withColumn("score",
      when(pmod(xxhash64(col("url")), lit(4)) === 0, lit(null))
        .otherwise(pmod(xxhash64(col("url")), lit(100)).cast("long")))
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 128)
    val expected = d.agg(count(lit(1)), count(col("score")), min(col("score")),
      max(col("score")), sum(col("score")), min(col("warc_ts")), max(col("warc_ts"))).head()
    // DESTROY the data files: aggregates must still answer (LocalScan)
    val dataDir = new java.io.File(s"$out/data")
    def nuke(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(nuke)
      f.delete()
    }
    nuke(dataDir)
    val q = spark.read.format("graft").load(out)
      .agg(count(lit(1)).as("n"), count(col("score")).as("nv"),
        min(col("score")).as("mn"), max(col("score")).as("mx"),
        sum(col("score")).as("sm"), min(col("warc_ts")).as("ts_mn"),
        max(col("warc_ts")).as("ts_mx"))
    assert(q.queryExecution.executedPlan.collectFirst {
      case l: LocalTableScanExec => l }.nonEmpty, "expected a manifest-served LocalScan")
    val r = q.head()
    assert(r.getLong(0) === expected.getLong(0))
    assert(r.getLong(1) === expected.getLong(1))
    assert(r.getLong(2) === expected.getLong(2) && r.getLong(3) === expected.getLong(3))
    assert(r.getLong(4) === expected.getLong(4))
    assert(r.getTimestamp(5) === expected.getTimestamp(5))
    assert(r.getTimestamp(6) === expected.getTimestamp(6))
  }

  test("aggregate pushdown declines for grouped/unsupported aggregates") {
    val d = docs(300)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 128)
    val grouped = spark.read.format("graft").load(out)
      .groupBy("lang").agg(count(lit(1)).as("n"))
    assert(scanOf(grouped).nonEmpty, "grouped agg must fall back to a real scan")
    assert(grouped.count() > 0)
    // avg is not manifest-servable → real scan, still correct
    val avg0 = spark.read.format("graft").load(out)
      .agg(avg(length(col("text")))).head().getDouble(0)
    assert(avg0 > 0)
  }

  test("zone-map filter pushdown prunes input partitions, result unchanged") {
    val d = docs(1200).withColumn("id", xxhash64(col("url")))
    // range partitioner: parts hold disjoint doc_id ranges → zone maps prune
    val n = 1200
    val dd = d.withColumn("rid", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("url")))).drop("id")
    val out = tmpDir()
    EncodePipeline.run(dd, "url", out, partitions = 6, blockSize = 64,
      customPart = Some(least(floor(col("rid") / lit(n / 6 + 1)), lit(5)).cast("int")))
    val all = spark.read.format("graft").load(out)
    val probe = n / 2
    val filtered = all.filter(col("rid") === probe)
    // pruning happened: fewer planned partitions than the full table
    val full = scanOf(all).get.toBatch.planInputPartitions().length
    val pruned = scanOf(filtered).get.toBatch.planInputPartitions().length
    assert(pruned < full, s"expected pruning: $pruned < $full")
    // and the result is exactly the one row
    assert(filtered.count() === 1L)
    // range + IN prune too
    assert(all.filter(col("rid") < 50).count() === 49L)
    assert(all.filter(col("rid").isin(1, 2, n)).count() === 3L)
    // string prefix pruning stays correct (compare vs a non-pushable spelling)
    val viaPrefix = all.filter(col("url").startsWith("https://www.host1")).count()
    val viaSubstr = all.filter(substring(col("url"), 1, 17) === "https://www.host1").count()
    assert(viaPrefix === viaSubstr && viaPrefix > 0)
  }

  test("runtime filtering: a selective dim join prunes fact parts at execution") {
    val n = 1200
    val dd = docs(n).withColumn("rid", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("url"))).cast("long"))
    val out = tmpDir()
    // range partitioner: rid ranges are disjoint per part, so the dim side's
    // collected keys can rule whole parts out at runtime
    EncodePipeline.run(dd, "url", out, partitions = 6, blockSize = 64,
      customPart = Some(least(floor(col("rid") / lit(n / 6 + 1)), lit(5)).cast("int")))
    val fact = spark.read.format("graft").load(out)
    // the dim filter must be data-dependent: a constant predicate folds away
    // and DPP sees no selective filter to derive the runtime values from
    val dim = spark.range(1, 100)
      .select(col("id").as("rid"), (col("id") % 5).as("m"))
    GraftScan.runtimeFilterProbe.clear()
    val j = fact.join(dim.filter(col("m") === 0), "rid")
    assert(j.count() === 19L)
    val pruned = GraftScan.runtimeFilterProbe.getOrDefault(out, -1)
    assert(pruned > 0,
      s"expected the runtime filter to prune parts (probe=$pruned):\n" +
        j.queryExecution.executedPlan)
  }

  test("merge-on-read delete vectors apply at scan time; gen option time-travels") {
    val d = docs(600)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 3, blockSize = 64)
    val killed = EncodePipeline.deleteWhereLazy(spark, out, d.schema,
      pmod(xxhash64(col("url")), lit(5)) === 0)
    assert(killed > 0)
    val now = spark.read.format("graft").load(out)
    assert(now.count() === 600L - killed)
    assert(now.filter(pmod(xxhash64(col("url")), lit(5)) === 0).count() === 0L)
    // snapshot BEFORE the delete-vector commit
    val before = spark.read.format("graft").option("gen", "0").load(out)
    assert(before.count() === 600L)
    // live DVs must not be served stale aggregates: agg falls back to a scan
    val agg = spark.read.format("graft").load(out).agg(count(lit(1)).as("n"))
    assert(agg.queryExecution.executedPlan.collectFirst {
      case l: LocalTableScanExec => l }.isEmpty, "stale manifest agg under live DVs")
    assert(agg.head().getLong(0) === 600L - killed)
  }

  test("vectorized columnar reads: batch path engaged, identical to the row path") {
    // nulls in a long column + a delete vector + small blocks: every fill
    // path (null slots, DV-compacted batches, multi-block files) is hit
    val d = docs(600).withColumn("score",
      when(pmod(xxhash64(col("url")), lit(5)) === 0, lit(null))
        .otherwise(pmod(xxhash64(col("url")), lit(1000)).cast("long")))
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 3, blockSize = 64)
    val killed = EncodePipeline.deleteWhereLazy(spark, out, d.schema,
      pmod(xxhash64(col("url")), lit(7)) === 0)
    assert(killed > 0)
    val q = spark.read.format("graft").load(out)
    // the vectorized path is the default and must actually engage: the
    // executed plan converts our ColumnarBatches via ColumnarToRow
    assert(q.queryExecution.executedPlan.collectFirst {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty, "expected the scan to feed Spark vectorized batches")
    val colRows = q.orderBy("url").collect()
    assert(colRows.length === 600 - killed)
    // the columnar rows are exactly the input minus the killed rows
    assert(colRows.toSeq === d.filter(pmod(xxhash64(col("url")), lit(7)) =!= 0)
      .orderBy("url").collect().toSeq)
    // limit pushdown caps the batch tail mid-block
    assert(spark.read.format("graft").load(out).limit(5).collect().length === 5)
  }

  test("a _file prefix read plans only that part's files") {
    val d = docs(800)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 64)
    val files = EncodePipeline.currentFiles(spark, out)
    assert(files.map(_._1).distinct.size === 4)
    val part = files.head._1
    val q = spark.read.format("graft").load(out)
      .filter(col("_file").startsWith(s"__part=$part/"))
    val planned = scanOf(q).get.toBatch.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition])
    assert(planned.map(_.path).sorted.toSeq === files.filter(_._1 == part).map(_._2).sorted)
    // an OR of prefixes plans the union of the parts
    val two = files.map(_._1).distinct.sorted.take(2)
    val q2 = spark.read.format("graft").load(out).filter(
      two.map(p => col("_file").startsWith(s"__part=$p/")).reduce(_ || _))
    assert(scanOf(q2).get.toBatch.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].part).toSet === two.toSet)
    // the rows are exactly the part's rows
    assert(q.count() === EncodePipeline.readData(spark, out)
      .filter(col("__part") === part).agg(sum(col("__cnt"))).head().getLong(0))
  }

  test("null-slot vector getters are defensive (non-nullable read schemas)") {
    // a read schema that declares a column non-nullable makes codegen skip
    // the isNullAt branch; getters must return zero values, never throw
    import org.apache.spark.sql.types.LongType
    val an = new GraftAllNullVector(LongType, 3)
    assert(an.isNullAt(1) && an.numNulls === 3)
    assert(an.getLong(1) === 0L && an.getInt(1) === 0 && an.getDouble(1) === 0d)
    assert(an.getUTF8String(1).numBytes === 0 && an.getBinary(1).length === 0)
    val sv = graft.core.Codecs.decodeStrsView(
      graft.core.Codecs.encodeStrsN(Array("ab".getBytes, null))._1)
    val gs = new GraftStringVector(sv, null)
    assert(!gs.isNullAt(0) && gs.getUTF8String(0).toString === "ab")
    assert(gs.isNullAt(1) && gs.getUTF8String(1).numBytes === 0)
  }

  test("limit pushdown truncates reads; statistics come from the manifest") {
    val d = docs(800)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 64)
    val lim = spark.read.format("graft").load(out).limit(7)
    assert(lim.collect().length === 7)
    val stats = spark.read.format("graft").load(out)
      .queryExecution.optimizedPlan.stats
    // sizeInBytes is the manifest's raw (decoded) byte total — a real
    // number, not the conf default
    assert(stats.sizeInBytes.toLong > 0L &&
      stats.sizeInBytes.toLong < 10L * 1024 * 1024 * 1024)
  }

  test("CBO column statistics: manifest NDV sketches feed the V2 scan") {
    val d = docs(600)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 256)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val scan = scanOf(spark.read.format("graft").load(out)).get
      val cs = scan.asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().columnStats()
      import scala.jdk.CollectionConverters._
      val byName = cs.asScala.map { case (k, v) => k.fieldNames().mkString(".") -> v }.toMap
      // dict-shaped string: sketch stays under K → distinctCount is EXACT
      val expLang = d.select(countDistinct(col("lang"))).head().getLong(0)
      assert(byName("lang").distinctCount().getAsLong === expLang)
      assert(byName("lang").nullCount().getAsLong === 0L)
      // long-kind column carries the attained manifest min/max
      val ts = byName("warc_ts")
      assert(ts.min().isPresent && ts.max().isPresent)
      assert(ts.min().get().asInstanceOf[java.lang.Long] <=
        ts.max().get().asInstanceOf[java.lang.Long])
      // FSST text merged to poison: the scan must CLAIM nothing, not guess
      assert(!byName.get("text").exists(_.distinctCount().isPresent))
      // CBO off (the default): planning pays zero extra manifest aggregation
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val csOff = scanOf(spark.read.format("graft").load(out)).get
        .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics().columnStats()
      assert(csOff.isEmpty)
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("write path: save/append/overwrite modes land pipeline commits") {
    val d = docs(500)
    val out = tmpDir() + "/t1"
    d.write.format("graft").option("key", "url").option("partitions", "3")
      .option("blockSize", "64").save(out)
    val back = spark.read.format("graft").load(out)
    assert(EncodePipeline.verifyRoundTrip(d, back, "url").head().getLong(1) === 0L)
    // ErrorIfExists refuses a second write
    intercept[IllegalStateException] {
      d.write.format("graft").option("key", "url").mode("error").save(out)
    }
    // Append lands a tracked exactly-once commit
    val more = docs(500).withColumn("url", concat(col("url"), lit("#b")))
    more.write.format("graft").option("key", "url").option("partitions", "3")
      .option("blockSize", "64").option("batchId", "7").mode("append").save(out)
    assert(spark.read.format("graft").load(out).count() === 1000L)
    // same explicit batchId replays as a no-op (streaming contract)
    more.write.format("graft").option("key", "url").option("partitions", "3")
      .option("blockSize", "64").option("batchId", "7").mode("append").save(out)
    assert(spark.read.format("graft").load(out).count() === 1000L)
    // and an un-keyed append picks the next id (8) — new rows land
    val third = docs(200).withColumn("url", concat(col("url"), lit("#c")))
    third.write.format("graft").option("key", "url").option("partitions", "3")
      .option("blockSize", "64").mode("append").save(out)
    assert(spark.read.format("graft").load(out).count() === 1200L)
    // Overwrite replaces the table
    d.limit(100).write.format("graft").option("key", "url").option("partitions", "2")
      .option("blockSize", "64").mode("overwrite").save(out)
    assert(spark.read.format("graft").load(out).count() === 100L)
  }

  test("changesFrom option: CDC reads through the connector") {
    val all = docs(600)
    val base = all.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val added = all.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val out = tmpDir() + "/cdc"
    EncodePipeline.run(base, "url", out, partitions = 3, blockSize = 64) // gen 0
    assert(EncodePipeline.appendCommit(added, "url", out, 3, 64, batchId = 1L)) // gen 1
    val pred = col("lang") === "fr"
    assert(EncodePipeline.deleteWhereLazy(spark, out, all.schema, pred) > 0) // gen 2
    val ch = spark.read.format("graft").option("changesFrom", "0").load(out)
    assert(ch.columns.last === "_change_type")
    // SQL filters compose above the CDC feed
    assert(ch.filter(col("_change_type") === "insert").count() ===
      added.filter(!pred).count())
    assert(ch.filter(col("_change_type") === "delete").count() ===
      base.filter(pred).count())
    // bounded window: just the delete
    val ch12 = spark.read.format("graft")
      .option("changesFrom", "1").option("changesTo", "2").load(out)
    assert(ch12.filter(col("_change_type") === "insert").count() === 0L)
    assert(ch12.filter(col("_change_type") === "delete").count() ===
      all.filter(pred).count())
  }

  test("meta option: snapshots/files/manifest metadata tables") {
    val all = docs(500)
    val base = all.filter(pmod(xxhash64(col("url")), lit(2)) === 0)
    val added = all.filter(pmod(xxhash64(col("url")), lit(2)) === 1)
    val out = tmpDir() + "/meta"
    EncodePipeline.run(base, "url", out, partitions = 3, blockSize = 64)   // gen 0 base
    assert(EncodePipeline.appendCommit(added, "url", out, 3, 64, batchId = 7L)) // gen 1 append
    assert(EncodePipeline.updateWhereLazy(spark, out, all.schema, "url",
      col("lang") === "de", Map("lang" -> lit("zz")), partitions = 3,
      blockSize = 64) > 0)                                                 // gen 2 update
    assert(EncodePipeline.materializeDeletes(spark, out, all.schema, "url",
      blockSize = 64) > 0)                                                 // gen 3 fold
    EncodePipeline.rollbackTo(spark, out, 3)                               // no-op (current)
    val snapRows = spark.read.format("graft").option("meta", "snapshots").load(out)
      .collect()
    val snaps = snapRows.map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(snaps === Map(0 -> "base", 1 -> "append", 2 -> "update", 3 -> "fold"))
    // n_rows counts each commit's rows ONCE, not once per column
    val nRows = snapRows.map(r => r.getInt(0) -> r.getLong(4)).toMap
    assert(nRows(0) === base.count())
    assert(nRows(1) === added.count())
    // batch ids travel: the append's row carries 7
    val bid = spark.read.format("graft").option("meta", "snapshots").load(out)
      .filter(col("gen") === 1).select("batch_id").head().getLong(0)
    assert(bid === 7L)
    // files = the generation-current set; every listed file exists on disk
    val files = spark.read.format("graft").option("meta", "files").load(out).collect()
    assert(files.nonEmpty)
    files.foreach(r => assert(new java.io.File(
      new java.net.URI(r.getString(1)).getPath).exists(), r.getString(1)))
    // manifest = the raw audit view, supersede NOT applied
    val manifest = spark.read.format("graft").option("meta", "manifest").load(out)
    assert(manifest.filter(col("column") === "__fold_marker").count() === 1L)
    assert(manifest.count() > files.length.toLong)
    // unknown metadata table fails loudly
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("meta", "nope").load(out).collect()
    }
  }

  test("streaming source: every committed append streams exactly once") {
    val d = docs(400)
    val out = tmpDir() + "/st"
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 64)
    val q = spark.readStream.format("graft").load(out)
      .select("url", "lang")
      .writeStream.format("memory").queryName("graft_src_t1").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_src_t1").count() === 400L)
      val more = docs(150).withColumn("url", concat(col("url"), lit("#s")))
      assert(EncodePipeline.appendCommit(more, "url", out, partitions = 2,
        blockSize = 64, batchId = 5L))
      q.processAllAvailable()
      assert(spark.table("graft_src_t1").count() === 550L)
      assert(spark.table("graft_src_t1").select("url").distinct().count() === 550L)
    } finally q.stop()
  }

  test("streaming source refuses mid-stream rewrites unless ignoreChanges") {
    val d = docs(300)
    val out = tmpDir() + "/st2"
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 16)
    val q = spark.readStream.format("graft").load(out).select("url")
      .writeStream.format("memory").queryName("graft_src_t2").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_src_t2").count() === 300L)
      // compaction rewrites the streamed files → the stream must fail loudly
      assert(EncodePipeline.compact(spark, out, d.schema, blockSize = 2048).nonEmpty)
      EncodePipeline.appendCommit(
        docs(50).withColumn("url", concat(col("url"), lit("#t"))),
        "url", out, partitions = 2, blockSize = 16, batchId = 9L)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(ex.getMessage.contains("rewritten") || ex.getCause != null)
    } finally q.stop()
    // ignoreChanges accepts the reprocessing: a fresh stream over the
    // compacted table sees all current rows (including the new append)
    val q2 = spark.readStream.format("graft").option("ignoreChanges", "true").load(out)
      .select("url")
      .writeStream.format("memory").queryName("graft_src_t3").outputMode("append").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_src_t3").count() === 350L)
    } finally q2.stop()
  }

  test("schema evolution: files predating a column decode as null through the connector") {
    val d = docs(300)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 64)
    val wider = docs(300).withColumn("rank",
      pmod(xxhash64(col("url")), lit(9)))
      .withColumn("url", concat(col("url"), lit("#v2")))
    assert(EncodePipeline.appendCommit(wider, "url", out, partitions = 2,
      blockSize = 64, batchId = 77L))
    val back = spark.read.format("graft").load(out) // schema.json now carries rank
    assert(back.schema.fieldNames.contains("rank"))
    assert(back.count() === 600L)
    assert(back.filter(col("rank").isNull).count() === 300L)
    assert(back.filter(col("rank").isNotNull).count() === 300L)
  }

  test("bloom block skipping in the V2 scan: equality probes decode only surviving blocks") {
    val d = docs(1200).select(col("url"), xxhash64(col("url")).as("fp"),
      (pmod(xxhash64(col("url")), lit(10000)) / 100.0).as("score"), col("lang"))
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 4, blockSize = 64,
      bloomCols = Seq("fp", "score"))
    val head = d.select("fp", "score").head()
    val (target, tScore) = (head.getLong(0), head.getDouble(1))

    ReaderDiag.blocksDecoded.set(0)
    val hit = spark.read.format("graft").load(out).filter(col("fp") === target).collect()
    assert(hit.length === 1)
    val bloomBlocks = ReaderDiag.blocksDecoded.get()

    ReaderDiag.blocksDecoded.set(0)
    val all = spark.read.format("graft").load(out).filter(col("lang").isNotNull).collect()
    assert(all.length === 1200)
    val totalBlocks = ReaderDiag.blocksDecoded.get()
    assert(bloomBlocks < totalBlocks / 4, s"decoded $bloomBlocks of $totalBlocks blocks")

    // In-list probes OR within the list, AND across conjuncts
    val t2 = d.orderBy(col("url").desc).select("fp").head().getLong(0)
    ReaderDiag.blocksDecoded.set(0)
    val two = spark.read.format("graft").load(out)
      .filter(col("fp").isin(target, t2)).collect()
    assert(two.length === 2)
    assert(ReaderDiag.blocksDecoded.get() < totalBlocks / 2)

    // double equality probes travel as bit patterns (canonBloomLong)
    ReaderDiag.blocksDecoded.set(0)
    val byScore = spark.read.format("graft").load(out)
      .filter(col("score") === tScore).collect()
    assert(byScore.map(_.getAs[Long]("fp")).contains(target))
    assert(byScore.forall(_.getAs[Double]("score") == tScore))
    assert(ReaderDiag.blocksDecoded.get() < totalBlocks, "score probe read everything")

    // absent probe: zone maps can't prune the xxhash domain, blooms can
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out).filter(col("fp") === 12345L).isEmpty)
    assert(ReaderDiag.blocksDecoded.get() <= totalBlocks / 4)
  }

  test("block zone maps in the V2 scan: pushed ranges skip blocks by blob bounds") {
    // the did SORT KEY makes consecutive blocks cover disjoint value slices;
    // mod-4 placement makes every PART span the whole domain, so plan-time
    // zone pruning keeps all parts and only block bounds can skip. The key
    // encodes as delta (sorted) — the decode-based bounds path.
    val d = spark.range(0, 1600)
      .select((col("id") * 7 + 100000).as("did"),
        concat(lit("https://h"), lpad(col("id").cast("string"), 6, "0"),
          lit(".example.com/p")).as("url"),
        (col("id") % 5).cast("string").as("lang"))
    val out = tmpDir()
    EncodePipeline.run(d.toDF(), "did", out, partitions = 4, blockSize = 64,
      customPart = Some(pmod(col("did"), lit(4)).cast("int")))
    val lo = 100000L + 7 * 1500L // top ~6% of the key domain
    val expect = d.filter(col("did") >= lo).count()
    assert(expect > 0)
    ReaderDiag.blocksDecoded.set(0)
    val got = spark.read.format("graft").load(out).filter(col("did") >= lo).collect()
    assert(got.length.toLong === expect)
    val rangeBlocks = ReaderDiag.blocksDecoded.get()
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out).filter(col("lang").isNotNull)
      .collect().length === 1600)
    val totalBlocks = ReaderDiag.blocksDecoded.get()
    assert(rangeBlocks < totalBlocks / 2, s"kept $rangeBlocks of $totalBlocks")
    // a between probe composes two one-sided conjuncts into one block range
    val (bLo, bHi) = (100000L + 7 * 400L, 100000L + 7 * 500L)
    val expectB = d.filter(col("did") >= bLo && col("did") <= bHi).count()
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out)
      .filter(col("did") >= bLo && col("did") <= bHi).collect().length.toLong === expectB)
    assert(ReaderDiag.blocksDecoded.get() < totalBlocks / 2)
    // string bounds: sort the SAME data by url — prefix-coded sorted blocks
    // answer a LIKE-prefix probe from their decoded bounds, skipping blocks
    val out2 = tmpDir()
    EncodePipeline.run(d.toDF(), "url", out2, partitions = 4, blockSize = 64,
      customPart = Some(pmod(xxhash64(col("url")), lit(4)).cast("int")))
    val somePrefix = "https://h0008" // ids 000800-000899: a narrow url slice
    val expectP = d.filter(col("url").startsWith(somePrefix)).count()
    assert(expectP > 0)
    ReaderDiag.blocksDecoded.set(0)
    val gotP = spark.read.format("graft").load(out2)
      .filter(col("url").startsWith(somePrefix)).collect()
    assert(gotP.length.toLong === expectP)
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out2).filter(col("lang").isNotNull)
      .collect().length === 1600)
    val total2 = ReaderDiag.blocksDecoded.get()
    // re-run the prefix probe AFTER measuring total (counter reuse)
    ReaderDiag.blocksDecoded.set(0)
    spark.read.format("graft").load(out2)
      .filter(col("url").startsWith(somePrefix)).collect()
    assert(ReaderDiag.blocksDecoded.get() < total2 / 2,
      s"prefix kept ${ReaderDiag.blocksDecoded.get()} of $total2")
  }

  test("IN-list and IS NULL block probes skip blocks in the V2 scan") {
    // key-sorted parts: nulls of `maybe` concentrate in the low-did blocks,
    // IN-list values sit in a narrow did hull — both probes should reject
    // most blocks of every part while full scans decode all of them
    val d = spark.range(0, 1600)
      .select((col("id") * 7 + 100000).as("did"),
        when(col("id") < 64, lit(null).cast("long"))
          .otherwise(col("id") * 3).as("maybe"),
        (col("id") % 5).cast("string").as("lang"))
    val out = tmpDir()
    EncodePipeline.run(d.toDF(), "did", out, partitions = 4, blockSize = 64,
      customPart = Some(pmod(col("did"), lit(4)).cast("int")))
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out).filter(col("lang").isNotNull)
      .collect().length === 1600)
    val total = ReaderDiag.blocksDecoded.get()

    // IN-list over the sorted key: [min,max] hull bounds reject disjoint blocks
    val ins = Seq(100000L + 7 * 100, 100000L + 7 * 120, 100000L + 7 * 140)
    val expectIn = d.filter(col("did").isin(ins: _*)).count()
    assert(expectIn === 3L)
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out).filter(col("did").isin(ins: _*))
      .collect().length.toLong === expectIn)
    assert(ReaderDiag.blocksDecoded.get() < total / 2,
      s"IN kept ${ReaderDiag.blocksDecoded.get()} of $total")

    // IS NULL: blocks whose null-wrapper popcount is zero are skipped
    val expectNull = d.filter(col("maybe").isNull).count()
    assert(expectNull === 64L)
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out).filter(col("maybe").isNull)
      .collect().length.toLong === expectNull)
    assert(ReaderDiag.blocksDecoded.get() < total / 2,
      s"IS NULL kept ${ReaderDiag.blocksDecoded.get()} of $total")
  }

  test("writer bloomCols option: format(\"graft\") table creation carries block blooms") {
    val d = docs(800).select(col("url"), xxhash64(col("url")).as("fp"), col("lang"))
    val out = tmpDir() + "/t"
    d.write.format("graft").option("key", "url").option("partitions", "4")
      .option("blockSize", "64").option("bloomCols", "fp").save(out)
    val target = d.select("fp").head().getLong(0)
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out)
      .filter(col("fp") === target).count() === 1L)
    val kept = ReaderDiag.blocksDecoded.get()
    ReaderDiag.blocksDecoded.set(0)
    assert(spark.read.format("graft").load(out)
      .filter(col("lang").isNotNull).count() === 800L)
    val total = ReaderDiag.blocksDecoded.get()
    assert(kept < total / 4, s"decoded $kept of $total blocks")
    // appends inherit the bm_fp convention from the committed data schema
    EncodePipeline.appendCommit(d.limit(64), "url", out, partitions = 4,
      blockSize = 64, batchId = 1L)
    def walk(f: java.io.File): Array[java.io.File] =
      if (f.isDirectory) f.listFiles().flatMap(walk) else Array(f)
    val files = walk(new java.io.File(out + "/data"))
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val newest = files.maxBy(_.lastModified())
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(newest.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try assert(rdr.getFileMetaData.getSchema.containsField("bm_fp"))
    finally rdr.close()
  }

  test("a garbage schema.json fails the load with a parse error naming the file") {
    val out = tmpDir()
    EncodePipeline.run(docs(200), "url", out, partitions = 2, blockSize = 64)
    // written through the table's file system, so its checksum matches
    val p = new org.apache.hadoop.fs.Path(s"$out/schema.json")
    val o = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try o.write("{not a schema".getBytes("UTF-8")) finally o.close()
    val e = intercept[Exception](spark.read.format("graft").load(out).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(m => m.contains("cannot parse") && m.contains(s"$out/schema.json")), msgs)
  }

  test("an unreadable dicts/ fails the read; a table without dicts/ still reads") {
    val d = docs(300)
    val out = tmpDir()
    EncodePipeline.run(d, "url", out, partitions = 2, blockSize = 64)
    assert(!new java.io.File(s"$out/dicts").exists())
    assert(spark.read.format("graft").load(out).collect().length === 300)
    val dicts = new java.io.File(s"$out/dicts")
    assert(dicts.mkdirs())
    java.nio.file.Files.write(new java.io.File(dicts, "part-00000-garbage.parquet").toPath,
      "not a parquet file".getBytes("UTF-8"))
    val e = intercept[Exception](spark.read.format("graft").load(out).collect())
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => String.valueOf(t.getMessage).contains("garbage")), e)
  }

  test("a data page that fails its checksum fails the read with an error naming the file") {
    val out = tmpDir()
    EncodePipeline.run(docs(400), "url", out, partitions = 2, blockSize = 64)
    val path = new org.apache.hadoop.fs.Path(EncodePipeline.currentFiles(spark, out).head._2)
    val conf = spark.sparkContext.hadoopConfiguration
    // the last byte of the e_text chunk lies in its last data page's payload
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    val chunk = try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.head.getColumns.asScala
        .find(_.getPath.toDotString == "e_text").get
    } finally reader.close()
    val at = (chunk.getStartingPos + chunk.getTotalSize - 1).toInt
    val fs = path.getFileSystem(conf)
    val bytes = {
      val in = fs.open(path)
      try in.readAllBytes() finally in.close()
    }
    bytes(at) = (bytes(at) ^ 0x5a).toByte
    // written through the file system, so only the page checksum disagrees
    val o = fs.create(path, true)
    try o.write(bytes) finally o.close()
    val e = intercept[Exception](spark.read.format("graft").load(out).select("text").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(path.getName)), msgs)
  }

  test("task input metrics count the column chunks a scan reads") {
    val out = tmpDir()
    EncodePipeline.run(docs(2000), "url", out, partitions = 2, blockSize = 128)
    val conf = spark.sparkContext.hadoopConfiguration
    // the e_text chunks of every data file: what a read of `text` fetches
    val chunks = EncodePipeline.currentFiles(spark, out).map { case (_, f) =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "e_text").map(_.getTotalSize).sum
      } finally reader.close()
    }.sum
    val (rows, read) = Jobs.inputBytes(spark)(
      spark.read.format("graft").load(out).select("text").collect())
    assert(rows.length === 2000)
    assert(read >= chunks, s"tasks reported $read bytes read; the text chunks hold $chunks")
  }
}
