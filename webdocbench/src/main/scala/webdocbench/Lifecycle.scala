package webdocbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.plans.EncodePipeline

/** `lifecycle`: a small table that receives a fixed sequence of table
  * operations each round: an append; a copy-on-write delete; a merge-on-read
  * delete and merge; reads of the current and of past generations; delete
  * folding, compaction, vacuum and manifest rewrite. Updates and the
  * copy-on-write merge are left out: each costs 20 to 54 Spark jobs, several
  * seconds in a fresh JVM, and the run budget has no room for them; the
  * operations kept drive the same part rewrites, delete vectors and
  * appends. Manifest reads
  * and writes and the Spark job count dominate; every commit invalidates
  * the program's metadata cache. A model of the same operations in plain
  * Scala in the harness gives the expected table, time-travel reads and row
  * counts. */
object Lifecycle {
  val Rows = 2000L
  val Partitions = 2
  val AppendRows = 100
  val DeleteRows = 50
  val MergeRows = 30

  def run(ctx: Ctx, seconds: Int): Workload.Outcome = {
    val spark = ctx.spark
    val seed = ctx.seed
    // a small table: a few shuffle partitions, as a user would set for it
    spark.conf.set("spark.sql.shuffle.partitions", Partitions.toString)
    val input = Gen.frame(spark, seed, 0, Rows, Partitions).persist(StorageLevel.MEMORY_ONLY)
    val raw = input.agg(sum(Gen.rawBytesCol)).head().getLong(0)
    val schema: StructType = input.schema
    val dir = ctx.dir("lifecycle")

    val setup = ctx.setup(3) { k =>
      if (k > 0) ctx.delete(dir)
      ctx.build(EncodePipeline.run(input, "url", dir, Partitions))
    }

    var model: Map[String, Doc] = (0L until Rows).map(i => Gen.doc(seed, i)).map(d => d.url -> d).toMap
    val snapshots = scala.collection.mutable.Map.empty[Int, Map[String, Doc]]
    var nextId = Rows
    def fresh(n: Int): Seq[Doc] = { val ds = (nextId until nextId + n).map(Gen.doc(seed, _)); nextId += n; ds }
    def gen(): Int = EncodePipeline.currentGen(spark, dir)
    /** the generation now current, with the model's state at it */
    def snapshot(): Int = { val g = gen(); snapshots(g) = model; g }
    def read(at: Option[Int]): Seq[Doc] = ctx.sources(at.fold("current")(_ => "at")) {
      val r = at.fold(spark.read)(g => spark.read.option("gen", g.toLong))
      r.format("graft").load(dir).collect().toSeq.map(Checks.rowToDoc)
    }
    def byUrl(urls: Seq[String]): Column = col("url").isin(urls: _*)
    // batch-keyed calls get their id from nextBatchId, as the data source's
    // appends do: mergeByKeyLazy's own default reads only the live manifest,
    // and once a copy-on-write rewrite has followed an append it names a
    // batch that already committed, so the call silently does nothing
    def batch(): Long = EncodePipeline.nextBatchId(spark, dir)

    def round(r: Int): Unit = {
      val rnd = new scala.util.Random(Gen.mix(seed ^ (0x1fcL + r)))
      def pick(n: Int): Seq[String] = rnd.shuffle(model.keys.toVector.sorted).take(n)

      val docs = fresh(AppendRows)
      ctx.op("append", "appendCommit")(ctx.plans("appendCommit")(
        EncodePipeline.appendCommit(Gen.asDocs(spark, docs), "url", dir, Partitions, batchId = batch())))
        .foreach { landed =>
          ctx.check(if (landed) Nil else Seq(s"round $r append was not committed"))
          model ++= docs.map(d => d.url -> d)
        }
      val gAppend = snapshot()

      def delete(form: String): Unit = {
        val del = pick(DeleteRows)
        ctx.op("dml", s"delete_$form")(ctx.plans(s"delete_$form") {
          if (form == "mor") EncodePipeline.deleteWhereLazy(spark, dir, schema, byUrl(del))
          else EncodePipeline.deleteWhere(spark, dir, schema, "url", byUrl(del))
        }).foreach { n =>
          ctx.check(Checks.countDiff(s"round $r delete_$form", del.size, n))
          model --= del
        }
      }

      // a copy-on-write delete, then a merge-on-read delete and merge
      delete("cow")
      val gCow = snapshot()
      delete("mor")
      val merged = pick(MergeRows).map(u => model(u).copy(text = s"merged $r " + model(u).text)) ++
        fresh(MergeRows)
      ctx.op("dml", "merge_mor")(ctx.plans("merge_mor")(
        EncodePipeline.mergeByKeyLazy(spark, dir, schema, "url", Gen.asDocs(spark, merged), Partitions,
          batchId = batch()))).foreach { case (replaced, inserted) =>
        ctx.check(Checks.countDiff(s"round $r merge_mor replaced", MergeRows, replaced) ++
          Checks.countDiff(s"round $r merge_mor inserted", MergeRows, inserted))
        model ++= merged.map(d => d.url -> d)
      }

      // the current table and the generations that closed the append and
      // the copy-on-write delete: together they check every phase's result
      ctx.op("read", "current")(read(None))
        .foreach(rows => ctx.check(Checks.docsDiff(s"round $r read current", model.values, rows)))
      Seq(gAppend, gCow).foreach { g =>
        ctx.op("read", "at")(read(Some(g)))
          .foreach(rows => ctx.check(Checks.docsDiff(s"round $r read at gen $g", snapshots(g).values, rows)))
      }

      // maintenance: fold merge-on-read deletes, compact, expire, rewrite manifests
      // the fold removes the rows of the merge-on-read delete and the
      // originals the merge replaced
      ctx.op("maintenance", "materialize_deletes")(ctx.plans("materializeDeletes")(
        EncodePipeline.materializeDeletes(spark, dir, schema, "url")))
        .foreach(n => ctx.check(Checks.countDiff(s"round $r materialize_deletes", DeleteRows + MergeRows, n)))
      ctx.op("maintenance", "compact")(ctx.plans("compact")(EncodePipeline.compact(spark, dir, schema)))
      ctx.op("maintenance", "vacuum")(ctx.plans("vacuum")(EncodePipeline.vacuum(spark, dir)))
      ctx.op("maintenance", "rewrite_manifests")(ctx.plans("rewriteManifests")(
        EncodePipeline.rewriteManifests(spark, dir)))
      snapshots.clear()
      ctx.op("read", "current")(read(None))
        .foreach(rows => ctx.check(Checks.docsDiff(s"round $r read after maintenance", model.values, rows)))
    }

    round(-1) // warm-up: every operation's first call loads classes and compiles code
    ctx.loop(seconds)(round)

    val bytes = ctx.tableBytes(dir)
    val liveRaw = model.values.map(Gen.rawBytes).sum
    Workload.Outcome(setup, raw, input, Partitions, dir, model.keys.min,
      Workload.idRange(Rows / 4, Rows / 20), liveRaw.toDouble / bytes, Nil)
  }
}
