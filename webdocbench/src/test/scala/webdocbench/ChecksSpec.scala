package webdocbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Each of the benchmark's output checks must reject a deliberately
  * corrupted result and accept the uncorrupted one. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val seed = 7L
  private val docs = (0L until 300L).map(Gen.doc(seed, _))

  private lazy val spark = SparkSession.builder().master("local[1]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  override def afterAll(): Unit = spark.stop()

  /** one byte of the row's text changed, as a faulty decoder would */
  private def flipOneTextByte(d: Doc): Doc = {
    val b = d.text.getBytes(UTF_8)
    b(b.length / 2) = (b(b.length / 2) ^ 0x01).toByte
    d.copy(text = new String(b, UTF_8))
  }

  test("the checks accept correct output") {
    assert(Checks.docsDiff("table", docs, docs.reverse).isEmpty)
    assert(Checks.tableDiff(Gen.asDocs(spark, docs), Gen.asDocs(spark, docs.reverse)).isEmpty)
    assert(Checks.countDiff("delete", 50, 50).isEmpty)
  }

  test("one flipped byte in a decoded text value is rejected") {
    val bad = docs.updated(123, flipOneTextByte(docs(123)))
    assert(bad(123).text != docs(123).text)
    assert(Checks.docsDiff("table", docs, bad) === Seq("table: 1 differing rows"))
    val found = Checks.tableDiff(Gen.asDocs(spark, docs), Gen.asDocs(spark, bad))
    assert(found.contains("column text hash sum differs"))
    assert(found.contains("1 urls with missing or differing text"))
  }

  test("a dropped row is rejected") {
    val bad = docs.patch(42, Nil, 1)
    assert(Checks.docsDiff("table", docs, bad) === Seq("table: 1 missing rows"))
    val found = Checks.tableDiff(Gen.asDocs(spark, docs), Gen.asDocs(spark, bad))
    assert(found.contains(s"row count ${docs.size - 1} != expected ${docs.size}"))
  }

  test("a wrong count returned by a lifecycle operation is rejected") {
    assert(Checks.countDiff("delete_cow", 50, 49) === Seq("delete_cow returned 49, expected 50"))
    assert(Checks.countDiff("merge_mor inserted", 30, 0).nonEmpty)
  }

  test("a time-travel read one generation off is rejected") {
    // generations as the lifecycle workload's model records them
    val g0 = docs
    val g1 = g0.drop(50)                                                  // a delete
    val g2 = g1.take(5).map(d => d.copy(text = d.text + " ~u")) ++ g1.drop(5) // an update
    val snapshots = Seq(g0, g1, g2)
    for (g <- 1 until snapshots.size) {
      assert(Checks.docsDiff(s"read at $g", snapshots(g), snapshots(g)).isEmpty)
      assert(Checks.docsDiff(s"read at $g", snapshots(g), snapshots(g - 1)).nonEmpty)
      assert(Checks.docsDiff(s"read at ${g - 1}", snapshots(g - 1), snapshots(g)).nonEmpty)
    }
  }
}
