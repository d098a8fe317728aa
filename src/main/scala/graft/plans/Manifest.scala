package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.core.{Codecs, Kmv}

/** An immutable driver-side snapshot of one table's manifest: every row of
  * `outDir/meta` as read, built once per listing signature of that
  * directory (see [[EncodePipeline]]'s metadata-directory cache). Planning
  * facts — the generation-resolved row set, surviving parts, current files,
  * generation and batch counters, table statistics — are answered here in
  * plain Scala, so planning a read starts no Spark job (the Iceberg model:
  * manifests are driver-resident).
  *
  * `table` names the table in errors, `rows` are the stored rows,
  * `srcFiles(i)` the manifest file row i came from (commit instants derive
  * from it). Columns absent from older manifest eras read as null. */
final class Manifest(val table: String, val schema: StructType, rows: Array[Row],
                     srcFiles: Array[String]) {
  private val index: Map[String, Int] = schema.fieldNames.zipWithIndex.toMap
  def has(c: String): Boolean = index.contains(c)
  private[plans] def at(c: String): Int = index.getOrElse(c, -1)

  private[plans] val iPart = at("__part")
  private[plans] val iCol = at("column")
  private[plans] val iFiles = at("data_files")
  private val iGen = at("gen")
  private val iAdd = at("additive")
  private val iRef = at("ref")
  private val iPubFrom = at("publish_from")
  private val iPubTo = at("publish_to")

  @inline private[plans] def isNull(r: Row, i: Int): Boolean = i < 0 || r.isNullAt(i)
  private def intOr(r: Row, i: Int, dflt: Int): Int = if (isNull(r, i)) dflt else r.getInt(i)
  /** a numeric cell as a long; None when null or absent */
  private[plans] def longAt(r: Row, i: Int): Option[Long] =
    if (isNull(r, i)) None else Some(r.get(i).asInstanceOf[Number].longValue)
  private[plans] def part(r: Row): Int = r.getInt(iPart)
  private[plans] def column(r: Row): String = if (isNull(r, iCol)) null else r.getString(iCol)
  /** the row's generation: pre-generation (null) rows read as 0 */
  private def genOf(r: Row): Int = intOr(r, iGen, 0)
  private def additive(r: Row): Boolean = !isNull(r, iAdd) && r.getBoolean(iAdd)

  /** the data files row `r` records — the one way any code finds a table's
    * data files. A marker row (part < 0) records none. A data row from
    * before file tracking records no list: it throws, naming
    * [[EncodePipeline.analyzeTable]], the upgrade that records one. */
  private[plans] def filesOf(r: Row): Seq[String] =
    if (!isNull(r, iFiles)) r.getSeq[String](iFiles)
    else if (part(r) < 0) Nil
    else throw new IllegalStateException(s"graft table $table: part ${part(r)} has manifest " +
      "rows from before data-file tracking, which record no file list; upgrade the table " +
      "with EncodePipeline.analyzeTable or CALL <catalog>.system.analyze")

  /** the stored rows, unresolved (the raw manifest) */
  val raw: IndexedSeq[Row] = scala.collection.immutable.ArraySeq.unsafeWrapArray(rows)

  /** the table's highest committed generation (0 before generation tagging) */
  lazy val currentGen: Int = if (rows.isEmpty) 0 else rows.iterator.map(genOf).max

  /** next free append batch id: max committed + 1, 0 when none is tracked */
  lazy val nextBatchId: Long =
    if (!has("batch_id")) 0L
    else raw.map(longAt(_, at("batch_id")).getOrElse(-1L)).foldLeft(-1L)(math.max) + 1L

  /** committed transaction → the generation of its snapshot marker */
  lazy val txnGens: Map[String, Int] = {
    val i = at("txn")
    rows.iterator.filterNot(isNull(_, i)).map(r => r.getString(i) -> genOf(r)).toMap
  }

  /** rollback markers (marker gen N, target T), in commit order */
  lazy val rollbackMarkers: Seq[(Int, Int)] = {
    val i = at("rollback_to")
    raw.filterNot(isNull(_, i)).map(r => (genOf(r), r.getInt(i))).sortBy(_._1)
  }

  /** generations at which delete-vector history was folded */
  lazy val foldGens: Seq[Int] = {
    val i = at("dv_folded")
    raw.filter(r => !isNull(r, i) && r.getBoolean(i)).map(genOf).sorted
  }

  /** the generations of main history — main rows and publish markers, not
    * a branch's unpublished commits — newest first */
  lazy val mainGens: Seq[Int] = raw.filter(r => iRef < 0 || r.isNullAt(iRef) || !isNull(r, iPubTo))
    .map(genOf).distinct.sorted.reverse

  /** what publishing `branch` (creation base `base`) lands — None when it
    * has nothing unpublished ([[EncodePipeline.fastForward]]). The branch's
    * last sync point is the generation of its last publish marker (its
    * base before any). */
  def publishPlan(branch: String, base: Int): Option[Manifest.PublishPlan] = {
    if (iRef < 0) return None // no branch commits ever
    def ofBranch(r: Row) = !r.isNullAt(iRef) && r.getString(iRef) == branch
    def isPub(r: Row) = !isNull(r, iPubTo)
    val pubs = raw.filter(r => ofBranch(r) && isPub(r))
    val from = (base +: pubs.map(_.getInt(iPubTo))).max
    val sync = (base +: pubs.map(genOf)).max
    val staged = raw.filter(r => ofBranch(r) && !isPub(r) && genOf(r) > from).map(genOf)
    // main commits since the sync point: main rows, or other branches'
    // publish markers (those changed main too)
    val mainAfter = raw.filter(r => genOf(r) > sync &&
      (r.isNullAt(iRef) || (isPub(r) && !ofBranch(r))))
    staged.maxOption.map(to => Manifest.PublishPlan(from, to, sync, mainAfter.nonEmpty,
      // only commits that re-list content (parts >= 0) raise a floor that
      // could hide the staged rows; a pure marker generation does not
      mainAfter.exists(r => !additive(r) && part(r) >= 0)))
  }

  /** manifest file → the highest generation it holds */
  lazy val genOfSrcFile: Map[String, Int] =
    srcFiles.indices.groupBy(srcFiles(_)).map { case (f, is) => f -> is.map(i => genOf(rows(i))).max }

  /** publish markers among `rs`: (branch, from exclusive, to inclusive) */
  private def publishes(rs: Iterable[Row]): Seq[(String, Int, Int)] =
    if (iPubTo < 0) Nil
    else rs.iterator.filterNot(isNull(_, iPubTo)).map(r =>
      (if (r.isNullAt(iRef)) null else r.getString(iRef),
        intOr(r, iPubFrom, -1), r.getInt(iPubTo))).toSeq.distinct

  /** a branch content row that one of `pubs` publishes */
  private def published(r: Row, pubs: Seq[(String, Int, Int)]): Boolean = {
    val (ref, g) = (r.getString(iRef), genOf(r))
    pubs.exists { case (p, from, to) => p == ref && g > from && g <= to }
  }

  /** whether `r` sits in a registered branch's live window: its ref names a
    * branch of `branches` (name → creation base) and its generation is
    * above that base. Rows a dropped incarnation of the name left behind
    * are outside every window. */
  private[plans] def inBranchWindow(r: Row, branches: Map[String, Int]): Boolean =
    iRef >= 0 && !r.isNullAt(iRef) && branches.get(r.getString(iRef)).exists(genOf(r) > _)

  /** whether a LIVE row holds append batch `id` — the replay rule. Live
    * means a main row, a row in a registered branch's window (`branches`:
    * name → creation base), or a branch row a publish marker covers. Rows
    * a dropped branch left behind are not live, so re-staging their batch
    * is not a replay. */
  def holdsBatch(id: Long, branches: Map[String, Int]): Boolean = {
    val i = at("batch_id")
    lazy val pubs = publishes(raw)
    raw.exists(r => longAt(r, i).contains(id) &&
      (iRef < 0 || r.isNullAt(iRef) || inBranchWindow(r, branches) || published(r, pubs)))
  }

  /** the current main view, which planning reads on every query */
  private lazy val latest = new ManifestView(this, resolve(None, None))

  /** the rows visible at generation `upTo` (None = latest) on main, or on
    * `branch` = (name, creation base generation) — see [[resolve]]. Only
    * the current main view is kept; time-travel and branch views are
    * resolved on each call, so the snapshot's footprint does not grow with
    * the number of read points. */
  def view(upTo: Option[Int], branch: Option[(String, Int)]): ManifestView =
    if (branch.isEmpty && upTo.forall(_ >= currentGen)) latest
    else new ManifestView(this, resolve(upTo, branch))

  /** rough driver-heap footprint: the stored rows and their source files,
    * plus as much again for the kept current view (rows with a null
    * generation re-emitted as 0, its file lists and per-part sums) */
  lazy val approxBytes: Long =
    2 * rows.iterator.map(Manifest.approxBytes).sum + srcFiles.iterator.map(Manifest.approxBytes).sum

  /** Generation resolution — the one statement of the rule. Commits come
    * in two kinds:
    *   - REPLACING (compaction, copy-on-write DML, tombstones, rollback —
    *     no `additive` column or additive=false): the commit re-lists the
    *     part's ENTIRE file set, so per part only the highest replacing
    *     generation ≤ upTo (the part's "floor") is current;
    *   - ADDITIVE (appendCommit / commitDelta inserts, additive=true): the
    *     commit adds files on top of whatever is current, so its rows stay
    *     visible at every read generation in [its gen, the next replacing
    *     commit).
    * Pre-generation rows read as gen 0 replacing; legacy appends (written
    * before the additive flag, sharing the floor's gen) read as replacing
    * AT the floor, which is the same visible set. Several rows of the same
    * generation per part (multi-wave runs) all stay current. A manifest
    * without a `gen` column (never compacted) is returned as stored.
    *
    * Branch visibility (write-audit-publish, Iceberg branch refs): rows
    * committed to a BRANCH carry ref = <name> and stay invisible to main
    * readers until a publish marker (ref = <name>, publish_from exclusive,
    * publish_to inclusive — [[EncodePipeline.fastForward]]) covers their
    * generation. Markers are cumulative facts, matched regardless of the
    * floor rule but scoped to gen ≤ upTo, so time travel below a publish
    * hides the branch and a rollback across one unpublishes it. A branch
    * read also sees its own rows inside its registered window (gen > base);
    * rows a dropped incarnation of the same name left behind stay
    * invisible. Marker rows never surface as content. */
  private def resolve(upTo: Option[Int], branch: Option[(String, Int)]): IndexedSeq[Row] = {
    if (iGen < 0) return raw
    val inRange = upTo.fold(raw)(g => raw.filter(genOf(_) <= g))
    val visible =
      if (iRef < 0) inRange
      else {
        def isMain(r: Row) = r.isNullAt(iRef)
        if (iPubTo < 0 && branch.isEmpty) inRange.filter(isMain)
        else {
          val (pubs, own) = (publishes(inRange), branch.toMap)
          def content(r: Row) = !r.isNullAt(iRef) && isNull(r, iPubTo)
          inRange.filter(r => isMain(r) || (content(r) &&
            (published(r, pubs) || inBranchWindow(r, own))))
        }
      }
    // the part's floor: its highest replacing generation (a part born from
    // appends alone has none — floor 0)
    val floor = scala.collection.mutable.HashMap.empty[Int, Int]
    visible.foreach { r =>
      if (!additive(r)) {
        val p = part(r)
        val g = genOf(r)
        if (floor.get(p).forall(_ < g)) floor(p) = g
      }
    }
    visible.filter { r =>
      val f = floor.getOrElse(part(r), 0)
      val g = genOf(r)
      g >= f && (additive(r) || g == f)
    }.map(r => // pre-generation rows are emitted with generation 0
      if (r.isNullAt(iGen)) Row.fromSeq(r.toSeq.updated(iGen, 0)) else r)
  }

  /** `rs` (rows of this manifest) as a driver-local relation */
  def toDF(spark: SparkSession, rs: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema)
}

object Manifest {
  /** the per-row source-file column the metadata-directory reader attaches */
  val SrcFile = "__src_file"

  /** table `table`'s manifest from rows read with a [[SrcFile]] column */
  def fromDir(table: String, schema: StructType, rows: Array[Row]): Manifest = {
    val i = schema.fieldIndex(SrcFile)
    val keep = schema.fields.indices.filter(_ != i)
    new Manifest(table, StructType(keep.map(schema.fields(_))),
      rows.map(r => Row.fromSeq(keep.map(r.get))),
      rows.map(_.getString(i)))
  }

  /** a branch publish: generations (from exclusive, to inclusive) become
    * main-visible; `mainAdvanced` = main committed since the branch's sync
    * point, `mainReplaced` = one of those commits replaced content */
  final case class PublishPlan(from: Int, to: Int, syncPoint: Int,
                               mainAdvanced: Boolean, mainReplaced: Boolean)

  /** whether the rollback `markers` (marker gen N, target T) abandon a
    * delete vector committed at generation `g`: a rollback undoes every
    * vector committed strictly inside (T, N) */
  def abandoned(markers: Seq[(Int, Int)], g: Int): Boolean =
    markers.exists { case (n, t) => g > t && g < n }

  /** rough driver-heap footprint of a cell value */
  def approxBytes(v: Any): Long = v match {
    case null => 8L
    case s: String => 40L + 2L * s.length
    case b: Array[Byte] => 16L + b.length
    case r: Row => 16L + r.toSeq.iterator.map(approxBytes).sum
    case s: scala.collection.Seq[_] => 32L + s.iterator.map(approxBytes).sum
    case _ => 16L
  }

  /** one column's statistics over a set of its blocks — one block, one
    * data file, or one part's new files — as the (part, column) manifest
    * row records them (Iceberg `DataFile` metrics at the block grain):
    * rows, blocks, raw and encoded bytes, codecs; for long-kind columns the
    * header-derived representable bounds `lo`/`hi` and the exact attained
    * `min`/`max`, non-null `count` and `sum` (None = unknown: a block's or
    * the total's sum overflows); for string and binary columns the
    * truncated bounds `strLo`/`strHi` (null = no values; a null `strHi`
    * beside a `strLo` = unbounded above); null count; KMV `sketch`
    * (poison = unknown). [[merge]] is associative and commutative, so
    * block statistics roll up to a file's, and files' to a part's, in any
    * order. */
  final case class Stats(rows: Long, blocks: Long, rawBytes: Long, encodedBytes: Long,
                         codecs: Set[String], lo: Option[Long], hi: Option[Long],
                         min: Option[Long], max: Option[Long], count: Long, sum: Option[Long],
                         strLo: Array[Byte], strHi: Array[Byte], nulls: Long, sketch: Array[Byte]) {
    private def unboundedHi = strLo != null && strHi == null

    def merge(o: Stats): Stats = {
      def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
      Stats(rows + o.rows, blocks + o.blocks, rawBytes + o.rawBytes,
        encodedBytes + o.encodedBytes, codecs ++ o.codecs,
        (lo ++ o.lo).reduceOption(_ min _), (hi ++ o.hi).reduceOption(_ max _),
        (min ++ o.min).reduceOption(_ min _), (max ++ o.max).reduceOption(_ max _), count + o.count,
        for (a <- sum; b <- o.sum; s <- scala.util.Try(Math.addExact(a, b)).toOption) yield s,
        if (strLo == null || (o.strLo != null && cmp(o.strLo, strLo) < 0)) o.strLo else strLo,
        if (unboundedHi || o.unboundedHi) null
        else if (strHi == null || (o.strHi != null && cmp(o.strHi, strHi) > 0)) o.strHi else strHi,
        nulls + o.nulls, Kmv.merge(sketch, o.sketch))
    }

    /** the manifest cells after `__part` and `column` ([[statsSchema]]
      * order), with `files` as the `data_files` cell when given; an
      * unknown sketch is a null cell */
    def cells(files: Option[Seq[String]]): Seq[Any] = {
      def opt(v: Option[Long]): Any = v.getOrElse(null)
      Seq(rows, blocks, rawBytes, encodedBytes, codecs.toSeq.sorted,
        opt(lo), opt(hi), opt(min), opt(max),
        if (count == 0L) null else opt(sum), if (count == 0L) null else count,
        strLo, strHi, nulls) ++ files :+ (if (Kmv.isPoison(sketch)) null else sketch)
    }
  }

  object Stats {
    /** the statistics of one encoded block of `rows` values (`raw` input
      * bytes) of a long-kind (`long`) or string/binary column: the kernels
      * the `blob_*` SQL functions call, read from the blob's headers where
      * they can be. None of them resolves a shared dictionary. */
    def ofBlock(long: Boolean, blob: Array[Byte], rows: Int, raw: Long): Stats = {
      val range = if (long) Option(Codecs.rangeOfLong(blob)) else None
      val st = if (long) Option(Codecs.statsOfLong(blob)) else None
      val (strLo, strHi) = Option(if (long) null else Codecs.rangeOfStr(blob)).getOrElse((null, null))
      Stats(rows, 1L, raw, blob.length, Set(Codecs.codecOf(blob)),
        range.map(_._1), range.map(_._2), st.map(_.min), st.map(_.max),
        st.fold(0L)(_.count), st.fold(Option(0L))(s => Option.when(s.sumValid)(s.sum)),
        strLo, strHi, Codecs.nullCountOf(blob), Option(Kmv.ofBlob(blob)).getOrElse(Kmv.poison))
    }

    /** the statistics of a block of `rows` rows with no blob for the
      * column, as a file written before ALTER TABLE ADD COLUMNS added it
      * reads: `rows` nulls, so no bytes, codec or values and no distinct
      * value, which is how the reader decodes the block */
    def absent(rows: Int): Stats = Stats(rows, 1L, 0L, 0L, Set.empty, None, None, None, None,
      0L, Some(0L), null, null, rows, Kmv.empty)
  }

  /** the schema of (part, column) statistics rows: with `files`, each row
    * lists the data files it describes */
  def statsSchema(partNullable: Boolean, files: Boolean): StructType = StructType(Seq(
    StructField("__part", IntegerType, partNullable), StructField("column", StringType, nullable = false),
    StructField("rows", LongType), StructField("blocks", LongType, nullable = false),
    StructField("raw_bytes", LongType), StructField("encoded_bytes", LongType),
    StructField("codecs", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("value_lo", LongType), StructField("value_hi", LongType),
    StructField("value_min", LongType), StructField("value_max", LongType),
    StructField("value_sum", LongType), StructField("value_count", LongType),
    StructField("str_lo", BinaryType), StructField("str_hi", BinaryType),
    StructField("null_value_count", LongType)) ++
    (if (files) Seq(StructField("data_files", ArrayType(StringType, containsNull = false),
      nullable = false)) else Nil) :+
    StructField("ndv_sketch", BinaryType))

  /** a data file as the task that wrote it reports it: the path the
    * manifest records, its part, and each column's statistics over its
    * blocks */
  final case class FileStats(path: String, part: Int, columns: Seq[(String, Stats)])

  /** per-(part, column) statistics merged over a view's rows (no
    * particular order), the grain table statistics and scan estimates
    * merge from; `unknownNulls` counts the rows with no recorded null
    * count */
  final case class PartColumn(part: Int, column: String, stats: Stats, unknownNulls: Long)

  /** one column's totals over a set of parts: the rule by which manifest
    * sums become column statistics ([[ManifestView.columnTotals]]) */
  final case class ColumnTotal(rows: Long, nulls: Long,
                               // every row recorded its null count
                               nullsKnown: Boolean,
                               vMin: Option[Long], vMax: Option[Long], vCount: Long,
                               // exact total; None when a part with values
                               // has no recorded sum
                               vSum: Option[BigInt],
                               // merged-sketch NDV estimate (count, exact);
                               // None when unknown
                               ndv: Option[(Long, Boolean)])

  /** the totals of a column without manifest rows */
  val NoRows: ColumnTotal = ColumnTotal(0L, 0L, nullsKnown = true, None, None, 0L,
    Some(BigInt(0)), None)
}

/** the manifest rows visible at one (generation, branch) read point, and the
  * planning facts derived from them */
final class ManifestView private[plans] (m: Manifest, val rows: IndexedSeq[Row]) {
  import Manifest._

  def toDF(spark: SparkSession, rs: Seq[Row] = rows): DataFrame = m.toDF(spark, rs)

  /** every committed part id (marker rows included), ascending */
  lazy val parts: Array[Int] = rows.map(m.part).distinct.sorted.toArray

  /** the parts with a `column` row `admits`. Zone maps are read only where
    * the rows record their files: a view with rows from before file
    * tracking throws ([[files]]), since those rows' bounds may be unknown. */
  private def partsWhere(column: String)(admits: Row => Boolean): Array[Int] = {
    files
    rows.iterator.filter(r => m.column(r) == column && admits(r))
      .map(m.part).toSeq.distinct.sorted.toArray
  }

  /** parts whose long zone maps intersect [lo, hi]. The exact attained
    * stats (value_min/value_max) win over the representable codec-domain
    * bounds (value_lo/value_hi); deletes only shrink a blob's value set, so
    * attained bounds stay valid supersets. Pre-stats rows fall back. */
  def survivingLong(column: String, lo: Long, hi: Long): Array[Int] = {
    val (iMin, iMax, iLo, iHi) = (m.at("value_min"), m.at("value_max"),
      m.at("value_lo"), m.at("value_hi"))
    if (iLo < 0 && iMin < 0) return partsWhere(column)(_ => true) // no zone maps at all
    partsWhere(column) { r =>
      val l = m.longAt(r, iMin).orElse(m.longAt(r, iLo))
      val h = m.longAt(r, iMax).orElse(m.longAt(r, iHi))
      l.exists(_ <= hi) && h.exists(_ >= lo)
    }
  }

  /** parts whose truncated string zone maps intersect [lo, hi]
    * (unsigned-lexicographic; a null probe bound = unbounded on that side,
    * a null str_hi = unbounded above). A part with str_lo null holds no
    * values for the column and is skipped. */
  def survivingStr(column: String, lo: Array[Byte], hi: Array[Byte]): Array[Int] = {
    val (iLo, iHi) = (m.at("str_lo"), m.at("str_hi"))
    if (iLo < 0) return partsWhere(column)(_ => true)
    // unsigned-lexicographic: Spark's BINARY ordering
    def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
    partsWhere(column) { r =>
      !r.isNullAt(iLo) && (hi == null || cmp(r.getAs[Array[Byte]](iLo), hi) <= 0) &&
        (m.isNull(r, iHi) || lo == null || cmp(r.getAs[Array[Byte]](iHi), lo) >= 0)
    }
  }

  /** parts that may hold nulls for `column`: every part except those
    * PROVABLY null-free — rows for the column exist, cover every row of the
    * part (a commit that predates the column is all-null for it and has no
    * row to say so), and all recorded null_value_counts are 0 */
  def survivingIsNull(column: String): Array[Int] = {
    if (!m.has("null_value_count")) return parts
    val proved = partColumns.filter(pc => pc.column == column && pc.unknownNulls == 0 &&
      pc.stats.nulls == 0 && pc.stats.rows == partTotals(pc.part)._1).map(_.part).toSet
    parts.filterNot(proved)
  }

  /** (part, file path) of every data file the rows record, once each
    * ([[Manifest.filesOf]]: throws on a view with rows from before file
    * tracking) */
  lazy val files: Seq[(Int, String)] =
    rows.flatMap(r => m.filesOf(r).map(m.part(r) -> _)).distinct

  /** path of every data file the rows record, once each */
  lazy val dataFiles: Seq[String] = files.map(_._2).distinct

  /** parts holding one of the data files `suffixes` ("__part=p/name") */
  def partsHolding(suffixes: Set[String]): Seq[Int] =
    files.collect { case (p, f) if suffixes(EncodePipeline.fileSuffix(f)) => p }
      .distinct.sorted

  /** parts [[EncodePipeline.compact]] rewrites: at least `minFiles` distinct
    * data files (append fragmentation) or a column with more blocks than
    * ceil(rows / blockSize) (under-filled blocks). A part's rows are
    * (column × commit)-grained. */
  def compactCandidates(blockSize: Int, minFiles: Int): Seq[Int] = {
    val underFilled = partColumns.collect {
      case pc if pc.stats.blocks > math.ceil(pc.stats.rows.toDouble / blockSize) => pc.part }.toSet
    rows.groupBy(m.part).toSeq.collect { case (p, rs)
      if rs.flatMap(m.filesOf).distinct.size >= minFiles || underFilled(p) => p }.sorted
  }

  /** [[EncodePipeline.compactSmallFiles]]'s plan. A commit is the rows
    * sharing one part's file list; it is small when it holds fewer than
    * `blockSize` rows or, with `maxSmallBytes` > 0, at most that many
    * encoded bytes. Parts with at least `minSmall` small commits are
    * packed. Returns (packed parts, the files of their small commits, their
    * other rows, which carry forward). */
  def smallFilePlan(blockSize: Int, maxSmallBytes: Long,
                    minSmall: Int): (Seq[Int], Seq[String], Seq[Row]) = {
    def files(r: Row) = m.filesOf(r)
    def small(rs: Seq[Row]) =
      rs.flatMap(m.longAt(_, m.at("rows"))).maxOption.exists(_ < blockSize) ||
        maxSmallBytes > 0L && {
          val bytes = rs.flatMap(m.longAt(_, m.at("encoded_bytes")))
          bytes.nonEmpty && bytes.sum <= maxSmallBytes
        }
    val byPart = rows.groupBy(m.part)
    val smallSets = byPart.map { case (p, rs) =>
      p -> rs.groupBy(files).collect { case (fs, cs) if small(cs) => fs }.toSet
    }.filter(_._2.size >= minSmall)
    val packed = smallSets.keys.toSeq.sorted
    (packed, smallSets.values.flatten.flatten.toSeq.distinct,
      packed.flatMap(p => byPart(p).filterNot(r => smallSets(p)(files(r)))))
  }

  /** the attained [min, max] of long `column` over the data parts; None
    * when no row has values or one with values recorded no bounds */
  def attainedBounds(column: String): Option[(Long, Long)] = {
    val (iMin, iMax, iRows, iNulls) =
      (m.at("value_min"), m.at("value_max"), m.at("rows"), m.at("null_value_count"))
    if (iMin < 0) return None
    val rs = rows.filter(r => m.part(r) >= 0 && m.column(r) == column &&
      m.longAt(r, iRows).exists(_ > 0))
    val statless = rs.exists(r => m.isNull(r, iMin) &&
      m.longAt(r, iNulls).getOrElse(0L) < m.longAt(r, iRows).get)
    if (statless) None
    else for (lo <- rs.flatMap(m.longAt(_, iMin)).minOption;
              hi <- rs.flatMap(m.longAt(_, iMax)).maxOption) yield (lo, hi)
  }

  /** suffixes ("__part=p/name") of every data file */
  lazy val fileSuffixes: Set[String] = inventory.keySet

  /** per-(part, column) statistics ([[Manifest.Stats.merge]] over the
    * rows' cells). A row with values but no recorded sum makes the sum
    * unknown; a null or absent sketch is poison. */
  lazy val partColumns: Seq[PartColumn] = {
    val Seq(iRows, iBlocks, iRaw, iEnc, iLo, iHi, iMin, iMax, iSum, iCnt, iNulls, iSk) =
      Seq("rows", "blocks", "raw_bytes", "encoded_bytes", "value_lo", "value_hi", "value_min",
        "value_max", "value_sum", "value_count", "null_value_count", "ndv_sketch").map(m.at)
    def stats(r: Row): Stats = {
      def long(i: Int) = m.longAt(r, i).getOrElse(0L)
      val count = long(iCnt)
      Stats(long(iRows), long(iBlocks), long(iRaw), long(iEnc), Set.empty,
        m.longAt(r, iLo), m.longAt(r, iHi), m.longAt(r, iMin), m.longAt(r, iMax), count,
        if (count > 0L && m.isNull(r, iSum)) None else Some(long(iSum)), null, null,
        long(iNulls), if (m.isNull(r, iSk)) Kmv.poison else r.getAs[Array[Byte]](iSk))
    }
    rows.groupBy(r => (m.part(r), m.column(r))).toSeq.map { case ((p, c), rs) =>
      PartColumn(p, c, rs.map(stats).reduce(_ merge _), rs.count(m.isNull(_, iNulls)))
    }
  }

  /** per-column totals over the parts `keepPart` admits. A column's NDV
    * unions its KMV sketches; a null sketch (unenumerable blocks, rows
    * from before the sketch era) poisons it, since unknown must never
    * undercount. */
  def columnTotals(keepPart: Int => Boolean): Map[String, ColumnTotal] =
    partColumns.filter(pc => pc.column != null && keepPart(pc.part)).groupBy(_.column)
      .map { case (c, pcs) =>
        val ss = pcs.map(_.stats)
        val sums = ss.map(s => if (s.count == 0L) Some(BigInt(0)) else s.sum.map(BigInt(_)))
        c -> ColumnTotal(ss.map(_.rows).sum, ss.map(_.nulls).sum,
          pcs.forall(_.unknownNulls == 0),
          ss.flatMap(_.min).minOption, ss.flatMap(_.max).maxOption, ss.map(_.count).sum,
          if (sums.contains(None)) None else Some(sums.flatten.sum),
          Option(Kmv.estimate(ss.map(_.sketch).reduce(Kmv.merge))))
      }

  /** per part: (rows = its widest column's row count, raw bytes summed over
    * columns) — the scan's size estimate */
  lazy val partTotals: Map[Int, (Long, Long)] =
    partColumns.groupBy(_.part).map { case (p, cs) =>
      p -> (cs.map(_.stats.rows).max, cs.map(_.stats.rawBytes).sum)
    }

  /** file inventory (suffix → path) of every data file */
  lazy val inventory: Map[String, String] =
    dataFiles.map(f => EncodePipeline.fileSuffix(f) -> f).toMap
}
