package webdocbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One crawled web page, in the column order of the program's WebDoc table. */
case class Doc(url: String, warc_ts: java.sql.Timestamp, html: Array[Byte],
               text: String, lang: String)

/** The benchmark's own WebDoc generator. Row `i` is a pure function of
  * (seed, i), so the same seed gives the same rows at any parallelism, and
  * the program never sees the seed, only the rows. Kept apart from the
  * program's own test-data generator so that a change to the program cannot
  * change the benchmark's inputs. */
object Gen {
  final val BaseMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  final val StepMicros = 1000000L          // one page per second of crawl time
  final val Hosts = 997

  @inline def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }
  @inline private def unit(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble
  @inline private def below(h: Long, n: Long): Long = java.lang.Long.remainderUnsigned(h, n)

  private val langs = Array("en", "de", "fr", "es", "zh", "ja", "ru")
  private val langCum = Array(600, 750, 850, 930, 970, 990, 1000) // permille

  private val vocab: Array[String] = (
    "the of and to in is was for on that with as by at from it an be this are or " +
      "which has had were their one all we can more data page web site news about " +
      "time year people world over new other into out up down work life just like " +
      "make know take see come think look want give use find tell ask seem feel try " +
      "leave call good great small large long little own old right big high low " +
      "different early young important few public bad same able market value price " +
      "report system service product company business customer online free search " +
      "home contact privacy policy terms copyright reserved share follow read next"
    ).split("\\s+")
  private val nonAscii = Array("日本語のテキスト", "données françaises", "señal española",
    "русский текст", "中文内容")

  private def h(seed: Long, i: Long, salt: Long): Long = mix(mix(seed ^ salt) ^ i)

  /** cubed uniform: a few hosts hold most pages (the web's host skew) */
  def host(seed: Long, i: Long): Int = {
    val u = unit(h(seed, i, 0x1111L))
    (u * u * u * Hosts).toInt.min(Hosts - 1)
  }

  def url(seed: Long, i: Long): String =
    s"https://www.host${host(seed, i)}.example.org/p/${java.lang.Long.toHexString(h(seed, i, 0x2222L) & 0xffffffL)}/$i"

  def tsMicros(seed: Long, i: Long): Long =
    BaseMicros + i * StepMicros + below(h(seed, i, 0x3333L), StepMicros)

  def lang(seed: Long, i: Long): String = {
    val r = below(h(seed, i, 0x4444L), 1000L)
    var k = 0
    while (langCum(k) <= r) k += 1
    langs(k)
  }

  def text(seed: Long, i: Long): String = {
    var x = h(seed, i, 0x5555L)
    val nWords = 30 + below(x, 90L).toInt
    val sb = new java.lang.StringBuilder(nWords * 6)
    var k = 0
    while (k < nWords) {
      x = mix(x)
      val u = unit(x)
      if (k > 0) sb.append(' ')
      sb.append(vocab(((u * u) * vocab.length).toInt.min(vocab.length - 1)))
      k += 1
    }
    if (below(mix(x), 100L) == 0) sb.append(' ').append(nonAscii(below(x, nonAscii.length.toLong).toInt))
    sb.toString
  }

  def html(i: Long, text: String): Array[Byte] =
    (s"<html><head><title>page $i</title></head><body><p>$text</p></body></html>").getBytes(UTF_8)

  def timestamp(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  def doc(seed: Long, i: Long): Doc = {
    val t = text(seed, i)
    Doc(url(seed, i), timestamp(tsMicros(seed, i)), html(i, t), t, lang(seed, i))
  }

  /** raw bytes of a row: UTF-8 string payloads, binary payload, 8 per timestamp */
  def rawBytes(d: Doc): Long =
    d.url.getBytes(UTF_8).length + 8L + d.html.length + d.text.getBytes(UTF_8).length +
      d.lang.getBytes(UTF_8).length

  val rawBytesCol = octet_length(col("url")) + lit(8L) + octet_length(col("html")) +
    octet_length(col("text")) + octet_length(col("lang"))

  /** rows [lo, hi) as a DataFrame (not cached) */
  def frame(spark: SparkSession, seed: Long, lo: Long, hi: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(lo, hi, 1, parts).map(i => doc(seed, i)).toDF()
  }

  /** given rows as a DataFrame */
  def asDocs(spark: SparkSession, docs: Seq[Doc]): DataFrame = {
    import spark.implicits._
    docs.toDS().toDF()
  }
}
