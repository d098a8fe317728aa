package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Golden vectors ported from the reference's unit tests
  * (/root/reference/tests/pint_test.cpp — cited per test) plus randomized
  * properties (seeded, deterministic) checking every SWAR op against a slow
  * per-lane reference model.
  */
class SwarSpec extends AnyFunSuite {

  // ---- slow per-lane reference model -------------------------------------
  private def perLane(spec: LaneSpec, a: Long, b: Long)(f: (Long, Long, Int) => Long): Long = {
    val out = new Array[Long](spec.count)
    var i = 0
    while (i < spec.count) {
      out(i) = f(spec.get(a, i), spec.get(b, i), spec.widths(i))
      i += 1
    }
    spec.pack(out)
  }
  private def uMax(w: Int) = BitPack.maskFor(w)
  private def sMax(w: Int) = BitPack.maskFor(w - 1)
  private def sMin(w: Int) = -(1L << (w - 1))
  private def clamp(v: Long, lo: Long, hi: Long) = math.max(lo, math.min(hi, v))
  private def sext(v: Long, w: Int) = BitPack.signExtend(v, w)

  /** deterministic random (spec, a, b) cases incl. 1-bit lanes and full words */
  private def cases(n: Int = 2000): Iterator[(LaneSpec, Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Iterator.fill(n) {
      val lanes = 1 + rnd.nextInt(8)
      val ws = new Array[Int](lanes)
      var budget = 64
      var i = 0
      while (i < lanes) {
        val maxW = math.max(1, math.min(budget - (lanes - 1 - i), 17))
        ws(i) = 1 + rnd.nextInt(maxW)
        budget -= ws(i)
        i += 1
      }
      val s = LaneSpec(ws)
      (s, rnd.nextLong() & s.fullMask, rnd.nextLong() & s.fullMask)
    }
  }

  private def checkAll(name: String)(f: (LaneSpec, Long, Long) => Unit): Unit =
    cases().foreach { case (s, a, b) =>
      withClue(s"$name widths=${s.widths.mkString(",")} a=$a b=$b: ")(f(s, a, b))
    }

  // ---- golden vectors (pint_test.cpp) ------------------------------------

  test("pack LSB-first (pint_test.cpp:89-97)") {
    val s = LaneSpec(5, 6, 5)
    assert(s.pack(1, 20, 10) === (1L | (20L << 5) | (10L << 11)))
  }

  test("pack truncates on overflow (pint_test.cpp:99-107)") {
    val s = LaneSpec(5, 6, 5)
    assert(s.pack(33, 66, 234) === ((33L & 0x1f) | ((66L & 0x3f) << 5) | ((234L & 0x1f) << 11)))
  }

  test("get zero-extends, getSigned sign-extends (pint_test.cpp:111-131)") {
    val s = LaneSpec(5, 6, 5)
    val w = s.pack(1, -3, -10)
    assert(s.getAll(w).toSeq === Seq(1L, 61L, 22L))
    assert(s.getAllSigned(w).toSeq === Seq(1L, -3L, -10L))
  }

  test("slice projects a lane sub-range (pint_test.cpp:135-146)") {
    val s = LaneSpec(1, 2, 3, 4, 5)
    val w = s.pack(1, 2, 3, 4, 5)
    val (sub, sw) = s.slice(w, 2, 4)
    assert(sub.widths.toSeq === Seq(3, 4))
    assert(sw === LaneSpec(3, 4).pack(3, 4))
  }

  test("addWrap overflow wraps per lane (pint_test.cpp:161-170)") {
    val s = LaneSpec(5, 6, 5)
    assert(s.addWrap(s.pack(1, 60, 10), s.pack(31, 20, 27)) === s.pack(32 % 32, 80 % 64, 37 % 32))
  }

  test("addWrap 1-bit lanes (pint_test.cpp:183-192)") {
    val s = LaneSpec(1, 1, 1)
    assert(s.addWrap(s.pack(1, 0, 1), s.pack(0, 0, 1)) === s.pack(1, 0, 0))
  }

  test("addSatU clamps to lane max (pint_test.cpp:205-215)") {
    val s = LaneSpec(3, 3, 3)
    assert(s.addSatU(s.pack(1, 2, 3), s.pack(7, 4, 6)) === s.pack(7, 6, 7))
  }

  test("addSatS clamps to signed min, variable widths (pint_test.cpp:343-352)") {
    val s = LaneSpec(4, 5, 4)
    assert(s.addSatS(s.pack(-1, -12, -3), s.pack(-8, -14, -6)) === s.pack(-8, -16, -8))
  }

  test("subWrap underflow wraps (pint_test.cpp:389-398)") {
    val s = LaneSpec(3, 3, 3)
    assert(s.subWrap(s.pack(1, 4, 2), s.pack(7, 2, 6)) === s.pack(2, 2, 4))
  }

  test("subSatU clamps at zero (pint_test.cpp:424-433)") {
    val s = LaneSpec(5, 6, 5)
    assert(s.subSatU(s.pack(4, 2, 1), s.pack(3, 20, 10)) === s.pack(1, 0, 0))
  }

  test("subSatS clamps to exact signed max (pint_test.cpp:470-479)") {
    val s = LaneSpec(4, 6, 4)
    assert(s.subSatS(s.pack(4, 0, 7), s.pack(-6, -32, 1)) === s.pack(7, 31, 6))
  }

  test("min/max unsigned interleaved (pint_test.cpp:516-525,549-558)") {
    val s = LaneSpec(4, 6, 4)
    val a = s.pack(4, 5, 3); val b = s.pack(1, 15, 3)
    assert(s.minU(a, b) === s.pack(1, 5, 3))
    assert(s.maxU(a, b) === s.pack(4, 15, 3))
  }

  test("min/max signed mixed signs (pint_test.cpp:584-593,617-626)") {
    val s = LaneSpec(4, 6, 4)
    val a = s.pack(-1, 5, 0); val b = s.pack(4, -2, 7)
    assert(s.minS(a, b) === s.pack(-1, -2, 0))
    assert(s.maxS(a, b) === s.pack(4, 5, 7))
  }

  test("shiftLeft partial exceed (pint_test.cpp:630-703)") {
    val s = LaneSpec(4, 4, 4)
    assert(s.shiftLeft(s.pack(1, 2, 3), 3) === s.pack(8, 0, 8))
  }

  test("shiftLeft overshift zeroes (pint_test.cpp:666-670, volatile amount)") {
    val s = LaneSpec(4, 4, 4)
    var amt = 0 // runtime value, like the reference's volatile shift amount
    amt += 5
    assert(s.shiftLeft(s.pack(1, 2, 3), amt) === 0L)
  }

  test("shiftRightU partial (pint_test.cpp:760-768)") {
    val s = LaneSpec(3, 7, 6)
    assert(s.shiftRightU(s.pack(5, 106, 42), 4) === s.pack(0, 6, 2))
  }

  test("storage-width selection tiers (pint_test.cpp:61-87)") {
    assert(LaneSpec.storageBits(1) === 8)
    assert(LaneSpec.storageBits(8) === 8)
    assert(LaneSpec.storageBits(9) === 16)
    assert(LaneSpec.storageBits(16) === 16)
    assert(LaneSpec.storageBits(17) === 32)
    assert(LaneSpec.storageBits(32) === 32)
    assert(LaneSpec.storageBits(33) === 64)
    assert(LaneSpec.storageBits(64) === 64)
  }

  // ---- properties: SWAR == per-lane reference ----------------------------

  test("property: pack/get round-trip") {
    checkAll("roundtrip") { (s, a, _) => assert(s.pack(s.getAll(a)) === a) }
  }

  test("property: addWrap == per-lane (a+b) mod 2^w") {
    checkAll("addWrap") { (s, a, b) =>
      assert(s.addWrap(a, b) === perLane(s, a, b)((x, y, w) => (x + y) & uMax(w)))
    }
  }

  test("property: subWrap == per-lane (a-b) mod 2^w") {
    checkAll("subWrap") { (s, a, b) =>
      assert(s.subWrap(a, b) === perLane(s, a, b)((x, y, w) => (x - y) & uMax(w)))
    }
  }

  test("property: addSatU == per-lane min(a+b, max)") {
    checkAll("addSatU") { (s, a, b) =>
      assert(s.addSatU(a, b) === perLane(s, a, b)((x, y, w) => math.min(x + y, uMax(w))))
    }
  }

  test("property: subSatU == per-lane max(a-b, 0)") {
    checkAll("subSatU") { (s, a, b) =>
      assert(s.subSatU(a, b) === perLane(s, a, b)((x, y, _) => math.max(x - y, 0L)))
    }
  }

  test("property: addSatS == per-lane clamp(a+b)") {
    checkAll("addSatS") { (s, a, b) =>
      assert(s.addSatS(a, b) === perLane(s, a, b)((x, y, w) =>
        clamp(sext(x, w) + sext(y, w), sMin(w), sMax(w))))
    }
  }

  test("property: subSatS == per-lane clamp(a-b)") {
    checkAll("subSatS") { (s, a, b) =>
      assert(s.subSatS(a, b) === perLane(s, a, b)((x, y, w) =>
        clamp(sext(x, w) - sext(y, w), sMin(w), sMax(w))))
    }
  }

  test("property: minU/maxU == per-lane unsigned min/max") {
    checkAll("minmaxU") { (s, a, b) =>
      assert(s.minU(a, b) === perLane(s, a, b)((x, y, _) => math.min(x, y)))
      assert(s.maxU(a, b) === perLane(s, a, b)((x, y, _) => math.max(x, y)))
    }
  }

  test("property: minS/maxS == per-lane signed min/max") {
    checkAll("minmaxS") { (s, a, b) =>
      assert(s.minS(a, b) === perLane(s, a, b)((x, y, w) => math.min(sext(x, w), sext(y, w))))
      assert(s.maxS(a, b) === perLane(s, a, b)((x, y, w) => math.max(sext(x, w), sext(y, w))))
    }
  }

  test("property: shifts == per-lane shift with lane clipping") {
    val rnd = new scala.util.Random(7)
    cases(1000).foreach { case (s, a, _) =>
      val amt = rnd.nextInt(70)
      withClue(s"shift widths=${s.widths.mkString(",")} a=$a amt=$amt: ") {
        assert(s.shiftLeft(a, amt) === perLane(s, a, a)((x, _, w) =>
          if (amt >= w) 0L else (x << amt) & uMax(w)))
        assert(s.shiftRightU(a, amt) === perLane(s, a, a)((x, _, w) =>
          if (amt >= w) 0L else x >>> amt))
      }
    }
  }
}
