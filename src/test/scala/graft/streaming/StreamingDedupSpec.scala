package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkTestBase

/** Streaming dedup over MemoryStream micro-batches: first occurrences pass,
  * duplicates are suppressed (built-in watermark path) or reported as
  * running duplicate mass (stateful path). */
class StreamingDedupSpec extends SparkTestBase {

  /** checkpoints on tmpfs: state-store file creates spawn a chmod process
    * each (see SparkTestBase) — keep them off slow disk */
  private def shmCheckpoint(): String = {
    val d = new java.io.File("/dev/shm/graft-test-ckpt")
    d.mkdirs()
    java.nio.file.Files.createTempDirectory(d.toPath, "q").toFile.getAbsolutePath
  }

  test("dropDuplicatesWithinWatermark path emits one row per distinct text") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingDedup.exactWithinWatermark(docs, "text", "ts", "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup_wm")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, "alpha", t0), (2L, "alpha", t0), (3L, "beta", t0))
    q.processAllAvailable()
    in.addData((4L, "alpha", t0), (5L, "gamma", t0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT text FROM dedup_wm").collect().map(_.getString(0)).sorted
    assert(rows.toSeq === Seq("alpha", "beta", "gamma"))
  }

  test("stateful path reports running suppressed-duplicate mass per content hash") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one state partition: each state-store file create spawns a chmod
    // process (no Hadoop native IO here) and hypervisor steal storms turn
    // spawns into seconds — the semantics under test don't need parallelism
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val out = StreamingDedup.exactStateful(docs, "doc_id", "text", ttlMs = 0L) // NoTimeout: see scaladoc
    val q = out.writeStream.format("memory").queryName("dedup_state")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, "alpha"), (2L, "alpha"), (3L, "beta"))
    q.processAllAvailable()
    in.addData((4L, "alpha"))
    q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val rows = spark.sql("SELECT id, dups FROM dedup_state").as[(Long, Long)].collect().toSet
    // first alpha emits (1, 0); in-batch duplicate emits (1, 1);
    // cross-batch duplicate emits (1, 2) from restored state; beta emits (3, 0)
    assert(rows === Set((1L, 0L), (1L, 1L), (1L, 2L), (3L, 0L)))
  }

  test("streaming minhash near-dup catches planted pairs across micro-batches, matching batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    // deterministic corpus: doc 3 is a one-token edit of doc 1 (j ≈ 0.95);
    // docs 2/4/5 are unrelated word soups
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi rest").split(" ")
    def text(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }
    val base = text(1, 40)
    val nearDup = base.split(" ").updated(20, "OMEGA").mkString(" ")
    val batch1 = Seq((1L, base), (2L, text(5, 40)))
    val batch2 = Seq((3L, nearDup), (4L, text(9, 40)), (5L, text(13, 40)))

    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val out = StreamingDedup.minhashNearDupPairs(docs, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5, ttlMs = 0L)
    val q = out.writeStream.format("memory").queryName("near_dup")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in.addData(batch1: _*)
    q.processAllAvailable()
    in.addData(batch2: _*) // the near-dup arrives in a LATER micro-batch
    q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val streamed = spark.sql("SELECT DISTINCT id_a, id_b FROM near_dup")
      .as[(Long, Long)].collect().toSet
    // the same pairs the batch operator (exact-verify) finds on the union
    val all = (batch1 ++ batch2).toDF("doc_id", "text")
    val batchPairs = graft.operators.TextOps
      .minhashDupPairs(all, "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(streamed === Set((1L, 3L)))
    assert(streamed === batchPairs)
    // estimate quality: the emitted est4 is near the true jaccard (≈ 0.9+)
    val est = spark.sql("SELECT max(est4) FROM near_dup").head().getLong(0)
    assert(est >= 8000, s"est4 $est")
  }

  test("verified streaming near-dup: exact jaccard over a corpus snapshot drops weak candidates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi rest").split(" ")
    def text(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }
    val base = text(21, 40)
    val nearDup = base.split(" ").updated(18, "OMEGA").mkString(" ") // true j ≈ 0.9
    val all = Seq((1L, base), (2L, text(22, 40)), (3L, nearDup), (4L, text(23, 40)))
    val corpus = all.toDF("doc_id", "text")

    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    // threshold 0.85: the planted pair's EXACT j4 clears it, and any weak
    // estimate-only candidate would be dropped by the verify join
    val out = StreamingDedup.minhashNearDupVerified(docs, corpus, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.85, ttlMs = 0L)
    val q = out.writeStream.format("memory").queryName("near_dup_v")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in.addData(all.take(2): _*)
    q.processAllAvailable()
    in.addData(all.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val rows = spark.sql("SELECT DISTINCT id_a, id_b, j4 FROM near_dup_v")
      .as[(Long, Long, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).toSet === Set((1L, 3L)))
    // the j4 is the EXACT batch-verify value, not the signature estimate
    val exact = graft.operators.TextOps
      .minhashDupPairs(corpus, "doc_id", "text", shingleN = 3, k = 64, bands = 16, threshold = 0.85)
      .select("id_a", "id_b", "j4").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { case (a, b, j4) => assert(j4 === exact((a, b))) }
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("stateful path handles negative ids (presence is not a -1 sentinel)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val out = StreamingDedup.exactStateful(docs, "doc_id", "text", ttlMs = 0L)
    val q = out.writeStream.format("memory").queryName("dedup_neg")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    // hash-derived ids are legitimately negative; a -1L "no first yet"
    // sentinel would treat the restored state as absent every batch and
    // re-emit later duplicates as fresh firsts with a reset count
    in.addData((-7L, "alpha"))
    q.processAllAvailable()
    in.addData((8L, "alpha"), (9L, "alpha"))
    q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val rows = spark.sql("SELECT id, dups FROM dedup_neg").as[(Long, Long)].collect().toSet
    assert(rows === Set((-7L, 0L), (-7L, 1L), (-7L, 2L)))
  }

  test("distinct near-dup wrapper emits each planted pair exactly once across bands and batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
      "nu xi omicron pi rho sigma tau upsilon phi chi psi rest").split(" ")
    def text(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
    }
    val base = text(1, 40)
    // IDENTICAL text: the pair shares every band → 16 raw emissions without
    // the wrapper — the exactly-once claim is maximally stressed
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:01:00")

    // event-time path: watermark-bounded pair-dedup state
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingDedup.minhashNearDupPairsDistinct(docs, "doc_id", "text",
      tsCol = Some("ts"), delay = "10 minutes",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5, ttlMs = 0L)
    val q = out.writeStream.format("memory").queryName("near_dup_once")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in.addData((1L, base, t0), (2L, text(5, 40), t0))
    q.processAllAvailable()
    in.addData((3L, base, t1)) // duplicate arrives in a later micro-batch
    q.processAllAvailable()
    in.addData((3L, base, t1)) // replayed row: pair must NOT re-emit
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT id_a, id_b FROM near_dup_once")
      .as[(Long, Long)].collect()
    assert(rows.toSeq === Seq((1L, 3L))) // exactly ONE row, not one per band

    // no-event-time path: plain dropDuplicates collapse
    val in2 = MemoryStream[(Long, String)]
    val out2 = StreamingDedup.minhashNearDupPairsDistinct(
      in2.toDF().toDF("doc_id", "text"), "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5, ttlMs = 0L)
    val q2 = out2.writeStream.format("memory").queryName("near_dup_once2")
      .option("checkpointLocation", shmCheckpoint())
      .outputMode(OutputMode.Append()).start()
    in2.addData((1L, base), (2L, text(5, 40)))
    q2.processAllAvailable()
    in2.addData((3L, base))
    q2.processAllAvailable()
    q2.stop()
    spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    val rows2 = spark.sql("SELECT id_a, id_b FROM near_dup_once2")
      .as[(Long, Long)].collect()
    assert(rows2.toSeq === Seq((1L, 3L)))
  }
}
