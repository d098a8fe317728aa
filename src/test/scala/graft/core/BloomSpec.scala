package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** Block-grain Bloom filter kernels: the no-false-negative contract (a FALSE
  * from `maybe` PROVES absence — what block skipping relies on), sizing, and
  * blob construction across every codec family incl. null wrappers. */
class BloomSpec extends AnyFunSuite {

  test("sizeFor: power-of-two bytes, >= 16 bits/value, floor 1024 bits") {
    assert(Bloom.sizeFor(1) === 128)       // 1024-bit floor
    assert(Bloom.sizeFor(64) === 128)      // 64*16 = 1024
    assert(Bloom.sizeFor(65) === 256)      // next pow2
    assert(Bloom.sizeFor(4096) === 8192)   // 65536 bits
    val b = Bloom.sizeFor(1000000)
    assert((b & (b - 1)) === 0 && b * 8L >= 16000000L)
  }

  test("no false negatives, ever: every added value answers maybe=true") {
    val r = new scala.util.Random(23)
    val vs = Array.fill(5000)(r.nextLong())
    val bm = new Array[Byte](Bloom.sizeFor(vs.length))
    vs.foreach(v => Bloom.add(bm, Bloom.hashLong(v)))
    assert(vs.forall(v => Bloom.maybe(bm, Bloom.hashLong(v))))
  }

  test("false-positive rate is in the designed ballpark (~0.24% at 16 bits/value)") {
    val r = new scala.util.Random(29)
    val present = Array.fill(4096)(r.nextLong())
    val bm = new Array[Byte](Bloom.sizeFor(present.length))
    present.foreach(v => Bloom.add(bm, Bloom.hashLong(v)))
    val trials = 200000
    var fp = 0
    var i = 0
    while (i < trials) { // absent with overwhelming probability
      if (Bloom.maybe(bm, Bloom.hashLong(r.nextLong()))) fp += 1
      i += 1
    }
    val rate = fp.toDouble / trials
    assert(rate < 0.01, s"fp rate $rate") // design 0.0024; 4x headroom
  }

  test("empty/null filter makes no claim") {
    assert(Bloom.maybe(null, 123L))
    assert(Bloom.maybe(Array.emptyByteArray, 123L))
  }

  test("ofBlob: long blobs across codecs answer present-true / absent-mostly-false") {
    val r = new scala.util.Random(31)
    val shapes = Seq(
      Array.fill(2048)(r.nextLong() & BitPack.maskFor(40)),          // bitpack
      Array.tabulate(2048)(i => 1000000L + i * 3),                   // delta/for
      Array.fill(2048)((r.nextInt(8) + 1).toLong),                   // rle
      Array.fill(2048)(java.lang.Double.doubleToRawLongBits(
        r.nextInt(100000) / 100.0)),                                 // alp
      Array.fill(2048)(java.lang.Double.doubleToRawLongBits(
        r.nextFloat().toDouble))                                     // tzfor
    )
    shapes.foreach { vs =>
      val blob = Codecs.encodeLongs(vs)
      val bm = Bloom.ofBlob(blob)
      assert(bm != null, Codecs.codecOf(blob))
      assert(vs.forall(v => Bloom.maybe(bm, Bloom.hashLong(v))), Codecs.codecOf(blob))
      val absentHits = (1 to 1000).count(_ =>
        Bloom.maybe(bm, Bloom.hashLong(r.nextLong() | (1L << 62))))
      assert(absentHits < 100, s"${Codecs.codecOf(blob)}: $absentHits/1000 fp")
    }
  }

  test("ofBlob: string blobs, null wrappers skip nulls, all-null gives no filter") {
    val vs: Array[Array[Byte]] = Array("alpha", "beta", "gamma", "alpha", "delta")
      .map(_.getBytes(UTF_8))
    val bm = Bloom.ofBlob(Codecs.encodeStrs(vs))
    assert(Bloom.maybe(bm, Bloom.hashBytes("gamma".getBytes(UTF_8))))
    // 1024-bit filter over 4 distinct values: an absent probe must miss
    assert(!Bloom.maybe(bm, Bloom.hashBytes("omega".getBytes(UTF_8))))
    // null wrapper: null slots are not added (their hash is no claim)
    val withNulls = Codecs.encodeStrsN(Array("x".getBytes(UTF_8), null, "y".getBytes(UTF_8)))._1
    val bmN = Bloom.ofBlob(withNulls)
    assert(Bloom.maybe(bmN, Bloom.hashBytes("x".getBytes(UTF_8))))
    assert(!Bloom.maybe(bmN, Bloom.hashBytes("z".getBytes(UTF_8))))
    // all-null block: no values, no filter
    assert(Bloom.ofBlob(Codecs.encodeLongsN(Array(0L, 0L), Array(true, true))) === null)
    assert(Bloom.ofBlob(Codecs.encodeStrsN(Array[Array[Byte]](null, null))._1) === null)
  }

  test("ofBlob survives the page-compression layer") {
    val vs = Array.tabulate(4096)(i => (i % 97).toLong)
    val paged = Codecs.pageWrap(Codecs.encodeLongs(vs))
    val bm = Bloom.ofBlob(paged)
    assert(bm != null)
    assert(Bloom.maybe(bm, Bloom.hashLong(42L)))
    assert(!Bloom.maybe(bm, Bloom.hashLong(424242L)))
  }
}
