package webdocbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output checks, computed apart from the program: plain Spark over the
  * generated rows, or plain Scala in the harness. Each returns the problems
  * it found; empty means the output is correct. */
object Checks {
  val Columns = Seq("url", "warc_ts", "html", "text", "lang")

  /** order-independent per-column fingerprint: row count plus, per column,
    * the sums of the two 32-bit halves of xxhash64 (no overflow below 2^31
    * rows). It decodes every value of every column, so `scan` times it as
    * its full-table aggregate. */
  def fingerprint(df: DataFrame): DataFrame = {
    val parts: Seq[Column] = count(lit(1)) +: Columns.flatMap { c =>
      val h = xxhash64(col(c))
      Seq(sum(h.bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(h, 32)))
    }
    df.agg(parts.head, parts.tail: _*)
  }

  /** `actual` holds exactly the rows of `expected`: same row count, equal
    * per-column hash sums, and byte-identical `text` for every `url` */
  def tableDiff(expected: DataFrame, actual: DataFrame): Seq[String] = {
    val e = fingerprint(expected).head()
    val a = fingerprint(actual).head()
    val counts =
      if (e.getLong(0) != a.getLong(0)) Seq(s"row count ${a.getLong(0)} != expected ${e.getLong(0)}")
      else Nil
    val sums = Columns.zipWithIndex.collect {
      case (c, i) if e.getLong(1 + 2 * i) != a.getLong(1 + 2 * i) ||
          e.getLong(2 + 2 * i) != a.getLong(2 + 2 * i) => s"column $c hash sum differs"
    }
    val textMismatch = expected.select(col("url"), col("text").as("e_text"))
      .join(actual.select(col("url"), col("text").as("a_text")), Seq("url"), "full_outer")
      .filter(!(col("e_text") <=> col("a_text")))
      .count()
    val texts = if (textMismatch > 0) Seq(s"$textMismatch urls with missing or differing text") else Nil
    counts ++ sums ++ texts
  }

  def rowToDoc(r: Row): Doc =
    Doc(r.getAs[String]("url"), r.getAs[java.sql.Timestamp]("warc_ts"),
      r.getAs[Array[Byte]]("html"), r.getAs[String]("text"), r.getAs[String]("lang"))

  def sameDoc(a: Doc, b: Doc): Boolean =
    a.url == b.url && a.warc_ts == b.warc_ts && java.util.Arrays.equals(a.html, b.html) &&
      a.text == b.text && a.lang == b.lang

  /** `actual` rows equal the `expected` rows exactly, keyed by url */
  def docsDiff(what: String, expected: Iterable[Doc], actual: Iterable[Doc]): Seq[String] = {
    val exp = expected.map(d => d.url -> d).toMap
    val act = actual.groupBy(_.url)
    val dup = act.count(_._2.size > 1)
    val missing = exp.keySet.count(u => !act.contains(u))
    val extra = act.keySet.count(u => !exp.contains(u))
    val differ = act.count { case (u, ds) => exp.get(u).exists(e => !sameDoc(e, ds.head)) }
    Seq(dup -> "duplicated", missing -> "missing", extra -> "unexpected", differ -> "differing")
      .collect { case (n, kind) if n > 0 => s"$what: $n $kind rows" }
  }

  def countDiff(what: String, expected: Long, actual: Long): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what returned $actual, expected $expected")
}
