package graft.core

/** The per-column lightweight-compression codec suite. Each block of column
  * values encodes to a self-describing binary blob:
  *
  *   byte 0 = codec id, then a codec-specific little-endian header + payload.
  *
  * Long-column codecs generalize the reference's packed-integer kernels
  * (pack/unpack pint.hpp:390-407,799-822; min/max for frame-of-reference
  * pint.hpp:936-966; wrapping add/sub for delta chains pint.hpp:826-884):
  *
  *   CONST_LONG  all values equal — store once
  *   BITPACK     values bit-packed at width = bitsNeeded(max) (unsigned)
  *   FOR         frame-of-reference: ref = min, pack (v - ref)
  *   DELTA       first value + zig-zag deltas bit-packed (sorted/clustered)
  *   RLE_LONG    run-length: FoR-packed run values + packed run lengths
  *
  * Byte/string-column codecs (the north rule's dict/RLE/FSST suite):
  *
  *   CONST_STR   all equal
  *   RAW_STR     packed lengths + concatenated bytes
  *   DICT        sorted distinct dictionary + bit-packed codes
  *   RLE_DICT    dictionary + run-length-encoded codes
  *   FSST        trained symbol table + compressed bytes (Fsst.scala)
  *
  * `encode` (auto) picks the codec with minimal estimated encoded bytes —
  * the runtime analog of the reference's compile-time storage-width /
  * mask-strategy selection (pint.hpp:724-734, 443-456).
  */
object Codecs {
  // codec ids (byte 0 of every blob)
  final val ConstLong = 1
  final val BitPackId = 2
  final val ForId = 3
  final val DeltaId = 4
  final val RleLong = 5
  final val NullLong = 6 // wrapper: null bitmap + inner long blob of non-nulls
  // Float-bearing long blocks (doubles travel the long path as raw IEEE-754
  // bit patterns via double_bits — see EncodePipeline.toStorage):
  final val AlpLong = 7 // ALP-style decimal scaling: round(d*10^e) FOR-packed + bit-exact exception patches
  final val TzForId = 8 // common-trailing-zero shift then FOR (float-upcast mantissas: 64 -> ~35 bits)
  final val ConstStr = 16
  final val RawStr = 17
  final val DictId = 18
  final val RleDict = 19
  final val FsstId = 20
  final val NullStr = 21 // wrapper: null bitmap + inner string blob of non-nulls
  final val PrefixStr = 22 // front coding (Parquet DELTA_BYTE_ARRAY analog)
  // shared-dictionary codes: the dictionary lives OUTSIDE the blob, once per
  // (partition, column) in the table's manifest side-structure (dicts/);
  // blobs carry only packed codes + the dictionary's content id. Decoding
  // needs a resolver (EncodePipeline.decodeTable wires it); stand-alone
  // blob consumers get a loud error, never silent corruption.
  final val SharedDictStr = 23
  final val SharedRleDict = 24

  def codecName(id: Int): String = id match {
    case ConstLong => "const"
    case BitPackId => "bitpack"
    case ForId     => "for"
    case DeltaId   => "delta"
    case RleLong   => "rle"
    case AlpLong   => "alp"
    case TzForId   => "tzfor"
    case ConstStr  => "const"
    case RawStr    => "raw"
    case DictId    => "dict"
    case RleDict   => "rle_dict"
    case FsstId    => "fsst"
    case PrefixStr => "prefix"
    case SharedDictStr => "shared_dict"
    case SharedRleDict => "shared_rle_dict"
    case NullLong | NullStr => "nulls"
    case other     => s"unknown($other)"
  }

  def codecOf(blob0: Array[Byte]): String = {
    val blob = pageUnwrap(blob0)
    val id = blob(0) & 0xff
    if (id == NullLong || id == NullStr) {
      // unwrap: [id][count:int][bitmap ceil(count/8)][inner blob?]
      val count = (blob(1) & 0xff) | ((blob(2) & 0xff) << 8) |
        ((blob(3) & 0xff) << 16) | ((blob(4) & 0xff) << 24)
      val innerOff = 5 + ((count + 7) >> 3)
      if (innerOff >= blob.length) "nulls" else codecName(blob(innerOff) & 0xff) + "+nulls"
    } else codecName(id)
  }

  /** inner codec id of a STORED blob (page + null wrapper unwrapped);
    * -1 for an all-null wrapper with no inner blob. Readers use it to
    * decide whether a zone probe ([[rangeOfLong]]/[[rangeOfStr]]) is
    * header-only for this codec or would decode the payload. */
  def innerCodecIdOf(blob0: Array[Byte]): Int = innerCodecId(pageUnwrap(blob0))

  /** is a zone-bounds probe ([[rangeOfLong]]/[[rangeOfStr]]) cheap enough to
    * run per block before deciding to decode? Header-only codecs obviously;
    * ALSO the decode-based long codecs (delta/alp/tzfor decode at GB/s — the
    * probe column decodes twice on admitted blocks, a small price for
    * skipping every OTHER column on rejected ones) and PREFIX strings (the
    * sorted-url shape is the main block-range use case). Only raw/FSST text
    * scans are excluded: bounds over high-entropy text reject nothing and
    * the decode is the most expensive in the suite. */
  def rangeIsCheap(innerId: Int): Boolean = innerId match {
    case RawStr | FsstId => false
    case _ => true
  }

  /** inner codec id through the null wrapper (input must be page-unwrapped);
    * -1 for an all-null wrapper with no inner blob. */
  private[core] def innerCodecId(blob: Array[Byte]): Int = {
    val id = blob(0) & 0xff
    if (id != NullLong && id != NullStr) return id
    val count = (blob(1) & 0xff) | ((blob(2) & 0xff) << 8) |
      ((blob(3) & 0xff) << 16) | ((blob(4) & 0xff) << 24)
    val innerOff = 5 + ((count + 7) >> 3)
    if (innerOff >= blob.length) -1 else blob(innerOff) & 0xff
  }

  // ==================== page compression (transparent) ====================
  // A Parquet-style second stage: the lightweight codecs above exploit
  // per-column structure (order, cardinality, runs, shared substrings); a
  // general-purpose compression pass over the WINNING blob then captures the
  // cross-value redundancy they intentionally leave behind (FSST code
  // sequences of Zipf-distributed words, dictionary bytes, packed-length
  // streams). Same separation as Parquet's encoding vs page compression:
  // codecOf/codecName report the inner codec — compression is a property of
  // the stored page, not a codec choice — and EVERY blob consumer
  // (decode/view/zone kernels/stats) unwraps at entry, so mixed-era tables
  // (blobs written before this layer existed) read unchanged.
  //
  // Layout: [id][innerLen:int4 LE][compressed stream of the inner blob],
  // id 31 = zstd (the writer default), id 30 = raw DEFLATE (readable forever
  // for blobs written before the zstd switch — mixed-era tables).
  // Applied OUTERMOST only: null wrappers and shared-dict payloads are never
  // wrapped separately, so kernels that offset into a wrapper's inner blob
  // keep seeing plain codec ids. Wrapping is skipped when the blob is small
  // (< PageMinBytes) or compression saves less than 1/16 of the bytes — a
  // page that barely compresses is not worth the inflate on every probe.
  //
  // Why zstd (the jar ships with Spark itself — no new dependency): measured
  // on the FSST-compressed webtext page (see BENCH/BASELINE.md), zstd L3
  // wraps at 116 MB/s and unwraps at 544 MB/s inner-normalized vs DEFLATE
  // L3's 25.6 / 122 — 4.5x both ways — for 1.47x vs 1.65x residual ratio.
  // A read-mostly 100 TB store takes the 4.5x cheaper reads; DEFLATE's
  // extra ~10% of page bytes does not buy back a 4x decode-CPU regression.
  final val PageZlib = 30
  final val PageZstd = 31
  final val PageMinBytes = 64
  /** zstd level 3: the measured ratio/throughput knee on FSST-compressed
    * webtext pages (L1 1.35x at 568 MB/s, L3 1.47x at 116 MB/s, L6 1.56x at
    * 48 MB/s, L9+ flat — see BENCH/BASELINE.md; decompression speed is
    * level-independent). */
  final val PageLevel = 3

  private val inflaters = ThreadLocal.withInitial[java.util.zip.Inflater](() =>
    new java.util.zip.Inflater(true))

  @inline private def isPageId(id: Int): Boolean = id == PageZlib || id == PageZstd

  /** operational knob (read once per JVM): -Dgraft.page.codec=zstd (default)
    * | zlib (legacy writer) | none (disable the page stage — e.g. a cluster
    * whose scans are CPU-bound rather than IO-bound). READERS are unaffected:
    * every page kind already written stays decodable regardless of the
    * writer setting. */
  private val pageCodecDefault: String =
    sys.env.getOrElse("GRAFT_PAGE_CODEC",
      System.getProperty("graft.page.codec", "zstd")).toLowerCase

  /** wrap `blob` in a compressed page if it saves ≥1/16 of the bytes;
    * returns `blob` itself otherwise (and when already wrapped —
    * idempotent). zstd by default; see [[pageCodecDefault]]. */
  def pageWrap(blob: Array[Byte]): Array[Byte] = pageCodecDefault match {
    case "none" => blob
    case "zlib" => pageWrapAt(blob, 3)
    case _      => pageWrapZstdAt(blob, PageLevel)
  }

  /** bench-only: wrap at an explicit zstd level (KernelBench sizes the
    * PageLevel knee with this). */
  private[graft] def pageWrapZstdAt(blob: Array[Byte], level: Int): Array[Byte] = {
    if (blob.length < PageMinBytes || isPageId(blob(0) & 0xff)) return blob
    val budget = blob.length - (blob.length >> 4) // must save ≥ 1/16 incl. header
    val out = new Array[Byte](budget)
    out(0) = PageZstd.toByte
    out(1) = blob.length.toByte
    out(2) = (blob.length >> 8).toByte
    out(3) = (blob.length >> 16).toByte
    out(4) = (blob.length >> 24).toByte
    val n =
      try com.github.luben.zstd.Zstd.compressByteArray(
        out, 5, budget - 5, blob, 0, blob.length, level)
      catch { case _: com.github.luben.zstd.ZstdException => -1L } // dst too small
    if (n <= 0 || com.github.luben.zstd.Zstd.isError(n)) return blob // keep it plain
    java.util.Arrays.copyOf(out, 5 + n.toInt)
  }

  /** bench-only / mixed-era fixture: wrap as a raw-DEFLATE (PageZlib) page
    * at an explicit level — the pre-zstd writer format, kept for the
    * KernelBench comparison and the era-compat tests. */
  private[graft] def pageWrapAt(blob: Array[Byte], level: Int): Array[Byte] = {
    if (blob.length < PageMinBytes || isPageId(blob(0) & 0xff)) return blob
    val d = new java.util.zip.Deflater(level, true)
    val budget = blob.length - (blob.length >> 4)
    val out = new Array[Byte](budget)
    out(0) = PageZlib.toByte
    out(1) = blob.length.toByte
    out(2) = (blob.length >> 8).toByte
    out(3) = (blob.length >> 16).toByte
    out(4) = (blob.length >> 24).toByte
    d.setInput(blob)
    d.finish()
    var pos = 5
    while (!d.finished() && pos < budget) {
      pos += d.deflate(out, pos, budget - pos)
    }
    val fit = d.finished()
    d.end()
    if (!fit) return blob // didn't fit the budget — keep it plain
    java.util.Arrays.copyOf(out, pos)
  }

  // Last-unwrap memo, per thread: a projection that evaluates several
  // kernels over the same blob (the manifest-stats row computes range +
  // stats + null-count per column; a pushdown filter probes eq + range)
  // receives a FRESH byte array from each UnsafeRow.getBinary call, so the
  // memo matches by content (memcmp of the ~1/3-size page, ~20x cheaper
  // than re-inflating). Consumers never mutate blobs or inner buffers, so
  // sharing the unwrapped array is safe.
  private val unwrapMemo = new ThreadLocal[Array[Array[Byte]]]

  /** inflate a DEFLATE page back to the inner blob; identity on plain blobs.
    * The inner length comes from an UNTRUSTED header: it is bounds-checked
    * and the stream must reproduce exactly that many bytes. */
  def pageUnwrap(blob: Array[Byte]): Array[Byte] = {
    if (blob.isEmpty || !isPageId(blob(0) & 0xff)) return blob
    val memo = unwrapMemo.get()
    if (memo != null && java.util.Arrays.equals(memo(0), blob)) return memo(1)
    val inner = pageInflate(blob)
    unwrapMemo.set(Array(blob, inner))
    inner
  }

  private[graft] def pageInflate(blob: Array[Byte]): Array[Byte] = {
    require(blob.length >= 5, s"page blob too short: ${blob.length}")
    val innerLen = (blob(1) & 0xff) | ((blob(2) & 0xff) << 8) |
      ((blob(3) & 0xff) << 16) | ((blob(4) & 0xff) << 24)
    require(innerLen > 0, s"corrupt page header: innerLen=$innerLen")
    val out = new Array[Byte](innerLen)
    if ((blob(0) & 0xff) == PageZstd) {
      val n =
        try com.github.luben.zstd.Zstd.decompressByteArray(
          out, 0, innerLen, blob, 5, blob.length - 5)
        catch {
          case e: com.github.luben.zstd.ZstdException =>
            throw new IllegalArgumentException(s"corrupt zstd page: ${e.getMessage}")
        }
      require(n == innerLen, s"corrupt zstd page: inflated $n of $innerLen bytes")
    } else {
      val inf = inflaters.get()
      inf.reset()
      inf.setInput(blob, 5, blob.length - 5)
      var pos = 0
      while (pos < innerLen && !inf.finished()) {
        val n = inf.inflate(out, pos, innerLen - pos)
        if (n == 0 && inf.needsInput()) // truncated stream
          throw new IllegalArgumentException(s"corrupt page: stream ended at $pos of $innerLen")
        pos += n
      }
      require(pos == innerLen, s"corrupt page: inflated $pos of $innerLen bytes")
    }
    out
  }

  /** true when the stored blob carries a compressed page layer (zstd or the
    * legacy DEFLATE era). */
  def isPageCompressed(blob: Array[Byte]): Boolean =
    blob.nonEmpty && isPageId(blob(0) & 0xff)

  // ======================== Long columns ========================

  /** Distribution stats driving codec choice (gathered in one pass).
    * `orAll` (bitwise OR of every value) gives the block's COMMON trailing
    * zero count — the [[TzForId]] viability signal: float-upcast doubles
    * share ≥29 zero mantissa bits, so their OR does too. */
  final case class LongStats(count: Int, min: Long, max: Long, runs: Int,
                             maxZigzagDelta: Long, sorted: Boolean,
                             orAll: Long = -1L) {
    def widthDelta: Int = BitPack.bitsNeeded(maxZigzagDelta)
    /** trailing zeros common to every value (0 when orAll defaulted). */
    def commonTz: Int = {
      val tz = java.lang.Long.numberOfTrailingZeros(orAll)
      if (tz >= 64) 0 else tz // all-zero block: const wins anyway
    }
  }

  def analyzeLongs(vs: Array[Long]): LongStats = {
    require(vs.nonEmpty, "empty block")
    var mn = vs(0); var mx = vs(0); var runs = 1
    var maxZz = 0L; var sorted = true; var orAll = vs(0)
    var i = 1
    while (i < vs.length) {
      val v = vs(i)
      if (v < mn) mn = v
      if (v > mx) mx = v
      if (v != vs(i - 1)) runs += 1
      if (v < vs(i - 1)) sorted = false
      val zz = BitPack.zigzag(v - vs(i - 1)) // wrapping delta round-trips by construction
      if (java.lang.Long.compareUnsigned(zz, maxZz) > 0) maxZz = zz
      orAll |= v
      i += 1
    }
    LongStats(vs.length, mn, mx, runs, maxZz, sorted, orAll)
  }

  /** Estimated blob bytes per codec; Long.MaxValue = not applicable. */
  def estimateLong(s: LongStats): Map[Int, Long] = {
    // max >= min, so max-min only goes negative on 64-bit overflow
    val range = s.max - s.min
    val forW = if (range < 0) 64 else BitPack.bitsNeeded(range)
    val bp = if (s.min < 0) Long.MaxValue // bitpack stores raw unsigned; negatives need 64 bits -> FOR wins anyway
             else 1L + 4 + 1 + BitPack.packedByteLen(s.count, BitPack.bitsNeeded(s.max)).toLong
    Map(
      ConstLong -> (if (s.runs == 1) 13L else Long.MaxValue),
      BitPackId -> bp,
      ForId -> (1L + 4 + 1 + 8 + BitPack.packedByteLen(s.count, forW).toLong),
      DeltaId -> (1L + 4 + 1 + 8 + BitPack.packedByteLen(s.count - 1, s.widthDelta).toLong),
      RleLong -> {
        val valW = forW
        val lenW = 32 // conservative before run-length pass; exact at encode
        1L + 4 + 4 + 1 + 1 + 8 + BitPack.packedByteLen(s.runs, valW).toLong +
          BitPack.packedByteLen(s.runs, lenW).toLong
      },
      TzForId -> {
        // conservative width upper bound: (max>>>tz)-(min>>>tz) never needs
        // more than forW+1-tz bits when the signed range is sane, 64-tz when
        // it sign-crosses (the float-bit-pattern case, where FOR itself is
        // stuck at width 64). Exact width computed at encode (always <= this).
        val tz = s.commonTz
        if (tz < 1) Long.MaxValue
        else {
          val w = math.min(64 - tz, math.max(1, (if (range < 0) 65 else forW + 1) - tz))
          1L + 4 + 1 + 1 + 8 + BitPack.packedByteLen(s.count, w).toLong
        }
      }
    )
  }

  // ==================== float-in-long codecs (ALP) ====================
  // Doubles reach the long family as raw IEEE-754 bit patterns (DoubleBits).
  // ALP (Afroozeh & Boncz, VLDB 2023 — "ALP: Adaptive Lossless floating-Point
  // compression"; public paper, clean-room implementation) observes that real
  // data is overwhelmingly decimal: d == round(d*10^e)/10^e bit-exactly for
  // some small e, so the block stores the INTEGERS round(d*10^e), which then
  // compress like any other int stream (FOR+bitpack here). Values that fail
  // the bit-exactness test become patch-list exceptions (raw bits). The probe
  // is sampled and gated so non-double long blocks pay ~8 reinterprets.

  private final val AlpMaxExp = 14
  private val alpPow10: Array[Double] = Array.tabulate(AlpMaxExp + 1)(e => math.pow(10.0, e))
  /** |round(d*10^e)| must stay comfortably inside 2^52 so enc.toDouble is
    * exact and the round-trip check is meaningful. */
  private final val AlpMaxEnc = 1L << 51

  /** A viable ALP encoding of a block, produced by [[probeAlp]]: the scaled
    * integers (exception slots pre-filled with a valid neighbor so FOR stays
    * tight), the exception patch list, and the exact encoded byte count used
    * by the codec selector. */
  final case class AlpPlan(e: Int, enc: Array[Long], excPos: Array[Int],
                           excBits: Array[Long], bytes: Long)

  /** Try ALP on a block of double BIT PATTERNS; null when not viable (not
    * doubles, no exponent reaches 95% sample exactness, or >1/16 exceptions). */
  def probeAlp(vs: Array[Long]): AlpPlan = {
    val n = vs.length
    if (n < 8) return null
    // cheap gate: plausible decimal doubles. Genuine small longs reinterpret
    // to denormals (~1e-320) and timestamps to ~1e-195 — both rejected.
    val gateN = math.min(8, n)
    val gStride = math.max(1, n / gateN)
    var g = 0; var i = 0
    while (i < gateN) {
      val d = java.lang.Double.longBitsToDouble(vs(i * gStride))
      val a = math.abs(d)
      if (d == 0.0 || (a == a && a >= 1e-10 && a < 1e15)) g += 1 // a==a rejects NaN
      i += 1
    }
    if (g < gateN) return null
    // pick the smallest exponent that makes >=95% of a 64-value sample
    // bit-exact (smallest e = smallest integers = fewest packed bits)
    val sampleN = math.min(64, n)
    val stride = math.max(1, n / sampleN)
    var bestE = -1
    var e = 0
    while (e <= AlpMaxExp && bestE < 0) {
      val p = alpPow10(e)
      var hits = 0; var k = 0
      while (k < sampleN) {
        val bits = vs(k * stride)
        val scaled = java.lang.Double.longBitsToDouble(bits) * p
        if (math.abs(scaled) < AlpMaxEnc.toDouble) {
          val enc = Math.round(scaled)
          if (java.lang.Double.doubleToRawLongBits(enc.toDouble / p) == bits) hits += 1
        }
        k += 1
      }
      if (hits * 20 >= sampleN * 19) bestE = e else e += 1
    }
    if (bestE < 0) return null
    // full pass: scaled ints + exceptions (bit-exactness decides, never stats)
    val p = alpPow10(bestE)
    val enc = new Array[Long](n)
    val excP = new java.util.ArrayList[Integer]()
    var fill = 0L; var haveFill = false
    i = 0
    while (i < n) {
      val bits = vs(i)
      val scaled = java.lang.Double.longBitsToDouble(bits) * p
      var ok = false; var ev = 0L
      if (math.abs(scaled) < AlpMaxEnc.toDouble) {
        ev = Math.round(scaled)
        ok = java.lang.Double.doubleToRawLongBits(ev.toDouble / p) == bits
      }
      if (ok) {
        enc(i) = ev
        if (!haveFill) { fill = ev; haveFill = true }
      } else {
        excP.add(i)
        enc(i) = fill // patched below if this preceded the first valid value
      }
      i += 1
    }
    val nExc = excP.size
    if (!haveFill || nExc.toLong * 16 > n) return null
    val excPos = new Array[Int](nExc)
    val excBits = new Array[Long](nExc)
    var k = 0
    while (k < nExc) {
      val pos = excP.get(k).intValue()
      excPos(k) = pos
      excBits(k) = vs(pos)
      enc(pos) = fill // early exceptions (before first valid) refilled
      k += 1
    }
    var mn = enc(0); var mx = enc(0)
    i = 1
    while (i < n) { val v = enc(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
    val width = BitPack.bitsNeeded(mx - mn) // |enc| < 2^51: range never wraps
    val bytes = 1L + 4 + 1 + 4 + 1 + 8 + BitPack.packedByteLen(n, width) + 12L * nExc
    AlpPlan(bestE, enc, excPos, excBits, bytes)
  }

  private def encodeAlp(vs: Array[Long], plan: AlpPlan): Array[Byte] = {
    val n = vs.length
    var mn = plan.enc(0)
    var i = 1
    while (i < n) { if (plan.enc(i) < mn) mn = plan.enc(i); i += 1 }
    var mx = plan.enc(0)
    i = 1
    while (i < n) { if (plan.enc(i) > mx) mx = plan.enc(i); i += 1 }
    val width = BitPack.bitsNeeded(mx - mn)
    val shifted = new Array[Long](n)
    i = 0
    while (i < n) { shifted(i) = plan.enc(i) - mn; i += 1 }
    val w = new ByteWriter(n * 2 + 32)
    w.writeByte(AlpLong); w.writeInt(n); w.writeByte(plan.e)
    w.writeInt(plan.excPos.length); w.writeByte(width); w.writeLong(mn)
    w.writeBytes(BitPack.pack(shifted, width))
    var k = 0
    while (k < plan.excPos.length) { w.writeInt(plan.excPos(k)); k += 1 }
    k = 0
    while (k < plan.excBits.length) { w.writeLong(plan.excBits(k)); k += 1 }
    w.toArray
  }

  /** Auto-select and encode (the codec selector, SURVEY.md §7.4). The ALP
    * candidate joins the estimate race only when its gated probe finds a
    * viable exponent — its `bytes` is exact, the others are estimates. */
  def encodeLongs(vs: Array[Long]): Array[Byte] = {
    val s = analyzeLongs(vs)
    val est = estimateLong(s)
    val alp = if (s.runs > 1) probeAlp(vs) else null // const subsumes 1-run blocks
    val best =
      if (alp != null && alp.bytes < est.values.min) AlpLong
      else est.minBy(_._2)._1
    if (best == AlpLong) encodeAlp(vs, alp)
    else encodeLongsAs(vs, best, Some(s))
  }

  def encodeLongsAs(vs: Array[Long], id: Int, stats: Option[LongStats] = None): Array[Byte] = {
    val s = stats.getOrElse(analyzeLongs(vs))
    val w = new ByteWriter(vs.length + 16)
    id match {
      case ConstLong =>
        w.writeByte(ConstLong); w.writeInt(s.count); w.writeLong(vs(0))
      case BitPackId =>
        require(s.min >= 0, "bitpack requires non-negative values; use FOR")
        val width = BitPack.bitsNeeded(s.max)
        w.writeByte(BitPackId); w.writeInt(s.count); w.writeByte(width)
        w.writeBytes(BitPack.pack(vs, width))
      case ForId =>
        val range = s.max - s.min
        val width = if (range < 0) 64 else BitPack.bitsNeeded(range)
        w.writeByte(ForId); w.writeInt(s.count); w.writeByte(width); w.writeLong(s.min)
        val shifted = new Array[Long](vs.length)
        var i = 0
        while (i < vs.length) { shifted(i) = vs(i) - s.min; i += 1 }
        w.writeBytes(BitPack.pack(shifted, width))
      case DeltaId =>
        val width = if (s.count == 1) 1 else s.widthDelta
        w.writeByte(DeltaId); w.writeInt(s.count); w.writeByte(width); w.writeLong(vs(0))
        val deltas = new Array[Long](vs.length - 1)
        var i = 1
        while (i < vs.length) { deltas(i - 1) = BitPack.zigzag(vs(i) - vs(i - 1)); i += 1 }
        w.writeBytes(BitPack.pack(deltas, width))
      case AlpLong =>
        val plan = probeAlp(vs)
        require(plan != null, "block is not ALP-encodable (not decimal doubles)")
        return encodeAlp(vs, plan)
      case TzForId =>
        val tz = s.commonTz
        require(tz >= 1 && tz < 64, s"tzfor needs common trailing zeros (got $tz)")
        val shifted = new Array[Long](vs.length)
        var i = 0
        while (i < vs.length) { shifted(i) = vs(i) >>> tz; i += 1 }
        var mn = shifted(0); var mx = shifted(0)
        i = 1
        while (i < vs.length) {
          val v = shifted(i)
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        // >>>tz with tz>=1 keeps everything in [0, 2^63): signed math is safe
        val width = BitPack.bitsNeeded(mx - mn)
        i = 0
        while (i < vs.length) { shifted(i) -= mn; i += 1 }
        w.writeByte(TzForId); w.writeInt(s.count); w.writeByte(tz)
        w.writeByte(width); w.writeLong(mn)
        w.writeBytes(BitPack.pack(shifted, width))
      case RleLong =>
        val runVals = new Array[Long](s.runs)
        val runLens = new Array[Long](s.runs)
        var r = -1
        var i = 0
        while (i < vs.length) {
          if (r < 0 || vs(i) != runVals(r)) { r += 1; runVals(r) = vs(i); runLens(r) = 1 }
          else runLens(r) += 1
          i += 1
        }
        val range = s.max - s.min
        val valW = if (range < 0) 64 else BitPack.bitsNeeded(range)
        var maxLen = 0L
        runLens.foreach(l => if (l > maxLen) maxLen = l)
        val lenW = BitPack.bitsNeeded(maxLen)
        val shifted = runVals.map(_ - s.min)
        w.writeByte(RleLong); w.writeInt(s.count); w.writeInt(s.runs)
        w.writeByte(valW); w.writeByte(lenW); w.writeLong(s.min)
        w.writeBytes(BitPack.pack(shifted, valW))
        w.writeBytes(BitPack.pack(runLens, lenW))
      case other => throw new IllegalArgumentException(s"not a long codec id: $other")
    }
    w.toArray
  }

  def decodeLongs(blob0: Array[Byte]): Array[Long] = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case ConstLong =>
        val v = r.readLong()
        Array.fill(count)(v)
      case BitPackId =>
        val width = r.readByte() & 0xff
        BitPack.unpack(r.readBytes(r.remaining), width, count)
      case ForId =>
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        val out = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var i = 0
        while (i < out.length) { out(i) += ref; i += 1 }
        out
      case DeltaId =>
        val width = r.readByte() & 0xff
        val first = r.readLong()
        val deltas = BitPack.unpack(r.readBytes(r.remaining), width, count - 1)
        val out = new Array[Long](count)
        out(0) = first
        var i = 1
        while (i < count) { out(i) = out(i - 1) + BitPack.unzigzag(deltas(i - 1)); i += 1 }
        out
      case RleLong =>
        val nRuns = r.readInt()
        val valW = r.readByte() & 0xff
        val lenW = r.readByte() & 0xff
        val ref = r.readLong()
        val valBytes = r.readBytes(BitPack.packedByteLen(nRuns, valW))
        val runVals = BitPack.unpack(valBytes, valW, nRuns)
        val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, nRuns)
        val out = new Array[Long](count)
        var i = 0; var o = 0
        while (i < nRuns) {
          val v = runVals(i) + ref
          var k = runLens(i)
          while (k > 0) { out(o) = v; o += 1; k -= 1 }
          i += 1
        }
        out
      case AlpLong =>
        val e = r.readByte() & 0xff
        require(e <= AlpMaxExp, s"corrupt alp blob: exponent $e")
        val nExc = r.readInt()
        require(nExc >= 0 && nExc <= count, s"corrupt alp blob: $nExc exceptions of $count")
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        val enc = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, width)), width, count)
        val p = alpPow10(e)
        val out = new Array[Long](count)
        var i = 0
        while (i < count) {
          // identical op sequence to the encode-time exactness check
          out(i) = java.lang.Double.doubleToRawLongBits((enc(i) + ref).toDouble / p)
          i += 1
        }
        var k = 0
        val excPos = new Array[Int](nExc)
        while (k < nExc) {
          val pos = r.readInt()
          require(pos >= 0 && pos < count, s"corrupt alp blob: exception at $pos of $count")
          excPos(k) = pos; k += 1
        }
        k = 0
        while (k < nExc) { out(excPos(k)) = r.readLong(); k += 1 }
        out
      case TzForId =>
        val tz = r.readByte() & 0xff
        require(tz >= 1 && tz < 64, s"corrupt tzfor blob: shift $tz")
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        val out = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var i = 0
        while (i < out.length) { out(i) = (out(i) + ref) << tz; i += 1 }
        out
      case other => throw new IllegalArgumentException(s"not a long codec id: $other")
    }
  }

  // ======================== Byte/string columns ========================

  final case class StrStats(count: Int, totalBytes: Long, ndv: Int, runs: Int,
                            dictBytes: Long, maxLen: Int,
                            prefixSaved: Long, maxLcp: Int)

  /** 64-bit content hash (splitmix-mixed 8-byte words) for ndv estimation
    * (and [[Bloom]] membership hashing — the two must agree forever: bloom
    * bits written at encode time are probed by later readers). */
  @inline private[core] def hash64(b: Array[Byte]): Long = hash64Range(b, 0, b.length)

  /** [[hash64]] over a slice — bit-identical to hashing the copied range, so
    * view-based consumers (Kmv over StrView) and copy-based ones agree. */
  @inline private[core] def hash64Range(b: Array[Byte], off: Int, len: Int): Long = {
    var h = 0x9e3779b97f4a7c15L ^ len
    var i = 0
    while (i + 8 <= len) { h = Bits.mix(h ^ Bits.loadLongLE(b, off + i)); i += 8 }
    if (i < len) {
      var w = 0L; var k = 0
      while (i + k < len) { w |= (b(off + i + k) & 0xffL) << (k * 8); k += 1 }
      h = Bits.mix(h ^ w)
    }
    h
  }

  /** Exact string index built in ONE hashing pass (open addressing over
    * 64-bit content hashes with full-equality confirmation): per-value
    * first-occurrence codes, the distinct values, and all the block stats.
    * Shared by the codec selector AND the dict encoders, so the auto path
    * hashes every value exactly once (the r2 shape hashed twice: an
    * estimate-only set in analyze, then a boxed HashMap in encode). */
  /** plain result holder — built by strIndex() (the hot loop lives in a
    * regular method on locals; a loop in a constructor JITs poorly and
    * field traffic through `this` measured 28× slower) */
  final class StrIndex(val count: Int, val codeOf: Array[Int],
                       val distinct: Array[Array[Byte]], val ndv: Int,
                       val totalBytes: Long, val dictBytes: Long,
                       val runs: Int, val maxLen: Int,
                       val prefixSaved: Long, val maxLcp: Int) {
    def stats: StrStats =
      StrStats(count, totalBytes, ndv, runs, dictBytes, maxLen, prefixSaved, maxLcp)
  }

  def strIndex(vs: Array[Array[Byte]]): StrIndex = {
    require(vs.nonEmpty, "empty block")
    // The table is sized to the DISTINCT count, growing by rehash — a
    // low-cardinality block (the common case: langs, hosts, event types)
    // must not pay a 2×rowcount zeroing bill.
    val codeOf = new Array[Int](vs.length)
    var cap = 64
    var mask = cap - 1
    var slotHash = new Array[Long](cap) // 0 = empty (hash 0 remapped to 1)
    var slotCode = new Array[Int](cap)
    var dist = new Array[Array[Byte]](64)
    var hashOfCode = new Array[Long](64)
    var nd = 0
    var total = 0L; var db = 0L; var rn = 1; var ml = 0
    var pfxSaved = 0L; var maxLcp = 0
    var i = 0
    while (i < vs.length) {
      val v = vs(i)
      total += v.length
      if (v.length > ml) ml = v.length
      if (i > 0) {
        // longest common prefix vs the previous value — drives the
        // front-coding (prefix) codec estimate; equal arrays ⟺ lcp = len
        val prev = vs(i - 1)
        val lim = math.min(v.length, prev.length)
        var l = 0
        while (l < lim && v(l) == prev(l)) l += 1
        pfxSaved += l
        if (l > maxLcp) maxLcp = l
        if (!(l == v.length && v.length == prev.length)) rn += 1
      }
      var h = hash64(v)
      if (h == 0L) h = 1L
      var idx = (h & mask).toInt
      var code = -1
      while (code < 0) {
        if (slotHash(idx) == 0L) {
          if (nd * 2 >= cap) {
            // grow + rehash from the per-code hashes (no value re-hashing)
            cap <<= 1; mask = cap - 1
            slotHash = new Array[Long](cap)
            slotCode = new Array[Int](cap)
            var c = 0
            while (c < nd) {
              var j = (hashOfCode(c) & mask).toInt
              while (slotHash(j) != 0L) j = (j + 1) & mask
              slotHash(j) = hashOfCode(c); slotCode(j) = c
              c += 1
            }
            idx = (h & mask).toInt
          } else {
            if (nd == dist.length) {
              dist = java.util.Arrays.copyOf(dist, nd * 2)
              hashOfCode = java.util.Arrays.copyOf(hashOfCode, nd * 2)
            }
            slotHash(idx) = h; slotCode(idx) = nd
            dist(nd) = v; hashOfCode(nd) = h
            db += v.length; code = nd; nd += 1
          }
        } else if (slotHash(idx) == h && java.util.Arrays.equals(dist(slotCode(idx)), v)) {
          code = slotCode(idx)
        } else idx = (idx + 1) & mask
      }
      codeOf(i) = code
      i += 1
    }
    new StrIndex(vs.length, codeOf, dist, nd, total, db, rn, ml, pfxSaved, maxLcp)
  }

  def estimateStr(s: StrStats, fsstRatio: Double): Map[Int, Long] = {
    val codeW = BitPack.bitsNeeded(math.max(s.ndv - 1, 1))
    val lenW = BitPack.bitsNeeded(s.maxLen)
    val dictOverhead = s.dictBytes + BitPack.packedByteLen(s.ndv, lenW).toLong + 16
    Map(
      ConstStr -> (if (s.ndv == 1) 9L + s.dictBytes else Long.MaxValue),
      RawStr -> (6L + BitPack.packedByteLen(s.count, lenW).toLong + s.totalBytes),
      DictId -> (if (s.ndv <= s.count / 2 || s.dictBytes * 4 < s.totalBytes)
        dictOverhead + BitPack.packedByteLen(s.count, codeW).toLong else Long.MaxValue),
      RleDict -> (if (s.runs <= s.count / 2)
        dictOverhead + 8 + BitPack.packedByteLen(s.runs, codeW).toLong +
          BitPack.packedByteLen(s.runs, 32).toLong else Long.MaxValue),
      FsstId -> (if (s.totalBytes >= 64)
        (s.totalBytes * fsstRatio).toLong + 300 + BitPack.packedByteLen(s.count, lenW).toLong
      else Long.MaxValue),
      // front coding: suffix bytes + two packed length streams. Only a
      // candidate when adjacent values actually share prefixes (sorted or
      // clustered blocks — urls sorted within a partition are the target).
      PrefixStr -> (if (s.prefixSaved > s.count)
        8L + BitPack.packedByteLen(s.count, BitPack.bitsNeeded(math.max(s.maxLcp, 1))).toLong +
          BitPack.packedByteLen(s.count, lenW).toLong + (s.totalBytes - s.prefixSaved)
      else Long.MaxValue)
    )
  }

  /** Build the FSST training sample for a block: every step-th value up to
    * the byte budget. */
  private def fsstSample(vs: Array[Array[Byte]], budget: Int = 1 << 14): Array[Byte] = {
    val w = new ByteWriter(budget)
    var i = 0
    val step = math.max(1, vs.length / 64)
    while (i < vs.length && w.size < budget) { w.writeBytes(vs(i)); i += step }
    w.toArray
  }

  /** Train once on a sample and report (compression ratio estimate, table);
    * the same table is reused for the full encode when FSST wins. */
  def sampleFsstRatioAndTable(vs: Array[Array[Byte]]): (Double, Fsst.SymbolTable) = {
    val sample = fsstSample(vs)
    if (sample.length < 64) return (1.0, Fsst.SymbolTable.empty)
    val table = Fsst.train(sample)
    val comp = table.compress(sample)
    (math.min(1.0, (comp.length.toDouble + table.serializedSize) / sample.length), table)
  }

  def encodeStrs(vs: Array[Array[Byte]]): Array[Byte] =
    encodeStrsCached(vs, null)._1

  /** Auto-select with an optional cached FSST table from a previous block of
    * the same (partition, column). Reusing the table skips training — web
    * pages within a host-salted partition share vocabulary — while the blob
    * stays fully self-describing (every FSST blob embeds its table). Returns
    * the blob plus the table to cache for the next block (null when FSST was
    * not chosen). Determinism: callers must scope the cache to one partition.
    */
  def encodeStrsCached(vs: Array[Array[Byte]],
                       cached: Fsst.SymbolTable): (Array[Byte], Fsst.SymbolTable) = {
    val ix = strIndex(vs)
    val s = ix.stats
    val (ratio, table) =
      if (s.totalBytes < 64 || s.ndv <= 1) (1.0, Fsst.SymbolTable.empty)
      else if (cached != null && cached.symbols.nonEmpty) {
        // estimate with the cached table on this block's sample (no training)
        val sample = fsstSample(vs)
        val comp = cached.compress(sample)
        (math.min(1.0, (comp.length.toDouble + cached.serializedSize) / math.max(sample.length, 1)), cached)
      } else sampleFsstRatioAndTable(vs)
    val best = estimateStr(s, ratio).minBy(_._2)._1
    if (best == FsstId && table.symbols.nonEmpty)
      (encodeFsstWith(vs, table), table)
    else if (best == DictId || best == RleDict)
      (encodeDictWith(vs.length, ix, best), null) // reuse the index — one hash pass total
    else (encodeStrsAs(vs, best), null)
  }

  /** FSST-encode a block with an already-trained table. One shared scratch
    * buffer for the whole block (worst-case 2x total bytes) instead of a
    * per-value 2x allocation + exact-size copy — the ingest hot path. */
  def encodeFsstWith(vs: Array[Array[Byte]], table: Fsst.SymbolTable): Array[Byte] = {
    val n = vs.length
    var total = 0L
    var i = 0
    while (i < n) { total += vs(i).length; i += 1 }
    require(total * 2 + 8 <= Int.MaxValue, s"FSST block too large ($total bytes)")
    val buf = new Array[Byte]((total * 2 + 8).toInt)
    val lens = new Array[Long](n)
    var o = 0
    i = 0
    while (i < n) {
      val w = table.compressInto(vs(i), 0, vs(i).length, buf, o)
      lens(i) = w
      o += w
      i += 1
    }
    val w = new ByteWriter(o + 64)
    w.writeByte(FsstId); w.writeInt(n)
    table.writeTo(w)
    var maxLen = 0L
    lens.foreach(l => if (l > maxLen) maxLen = l)
    val lenW = BitPack.bitsNeeded(maxLen)
    w.writeByte(lenW)
    w.writeBytes(BitPack.pack(lens, lenW))
    w.writeBytesRange(buf, 0, o)
    w.toArray
  }

  private def writeLens(w: ByteWriter, vs: Array[Array[Byte]]): Unit = {
    val lens = vs.map(_.length.toLong)
    var maxLen = 0L
    lens.foreach(l => if (l > maxLen) maxLen = l)
    val lenW = BitPack.bitsNeeded(maxLen)
    w.writeByte(lenW)
    w.writeBytes(BitPack.pack(lens, lenW))
  }

  private def readLens(r: ByteReader, count: Int): Array[Int] = {
    val lenW = r.readByte() & 0xff
    BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, lenW)), lenW, count).map(_.toInt)
  }

  def encodeStrsAs(vs: Array[Array[Byte]], id: Int): Array[Byte] = {
    val w = new ByteWriter(64)
    id match {
      case ConstStr =>
        w.writeByte(ConstStr); w.writeInt(vs.length); w.writeInt(vs(0).length)
        w.writeBytes(vs(0))
      case RawStr =>
        w.writeByte(RawStr); w.writeInt(vs.length)
        writeLens(w, vs)
        vs.foreach(w.writeBytes)
      case DictId | RleDict =>
        return encodeDictWith(vs.length, strIndex(vs), id)
      case FsstId =>
        return encodeFsstWith(vs, Fsst.train(fsstSample(vs)))
      case PrefixStr =>
        // front coding (Parquet DELTA_BYTE_ARRAY): per value, the longest
        // common prefix with its predecessor is stored as a length; only
        // the suffix bytes are written. Wins on sorted/clustered blocks
        // (urls sorted within a partition share long scheme://host/ runs).
        val n = vs.length
        val lcps = new Array[Long](n)
        val sufs = new Array[Long](n)
        var maxL = 0L; var maxS = 0L
        var i = 0
        while (i < n) {
          var l = 0
          if (i > 0) {
            val prev = vs(i - 1); val v = vs(i)
            val lim = math.min(v.length, prev.length)
            while (l < lim && v(l) == prev(l)) l += 1
          }
          lcps(i) = l
          sufs(i) = vs(i).length - l
          if (lcps(i) > maxL) maxL = lcps(i)
          if (sufs(i) > maxS) maxS = sufs(i)
          i += 1
        }
        val lcpW = BitPack.bitsNeeded(math.max(maxL, 1))
        val sufW = BitPack.bitsNeeded(math.max(maxS, 1))
        w.writeByte(PrefixStr); w.writeInt(n)
        w.writeByte(lcpW); w.writeByte(sufW)
        w.writeBytes(BitPack.pack(lcps, lcpW))
        w.writeBytes(BitPack.pack(sufs, sufW))
        i = 0
        while (i < n) {
          val v = vs(i)
          val off = lcps(i).toInt
          var j = off
          while (j < v.length) { w.writeByte(v(j)); j += 1 }
          i += 1
        }
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
    w.toArray
  }

  /** dict / rle-dict encode from an already-built StrIndex — no second
    * hashing pass, no boxing. Byte-identical layout to the r2 encoder:
    * the dictionary is the distinct set sorted unsigned-lexicographic,
    * codes are positions in the sorted order. */
  private def encodeDictWith(count: Int, ix: StrIndex, id: Int): Array[Byte] = {
    val ndv = ix.ndv
    // sort the first-occurrence codes by value; remap old code → sorted code
    val order = Array.range(0, ndv).sortWith { (a, b) =>
      java.util.Arrays.compareUnsigned(ix.distinct(a), ix.distinct(b)) < 0
    }
    val dict = new Array[Array[Byte]](ndv)
    val remap = new Array[Long](ndv)
    var i = 0
    while (i < ndv) { dict(i) = ix.distinct(order(i)); remap(order(i)) = i; i += 1 }
    val codes = new Array[Long](count)
    i = 0
    while (i < count) { codes(i) = remap(ix.codeOf(i)); i += 1 }
    val codeW = BitPack.bitsNeeded(math.max(ndv - 1, 1))
    val w = new ByteWriter(64)
    w.writeByte(id); w.writeInt(count); w.writeInt(ndv)
    writeLens(w, dict)
    dict.foreach(w.writeBytes)
    w.writeByte(codeW)
    if (id == DictId) {
      w.writeBytes(BitPack.pack(codes, codeW))
    } else {
      // RLE over the code stream
      var runs = 1
      i = 1
      while (i < codes.length) { if (codes(i) != codes(i - 1)) runs += 1; i += 1 }
      val runVals = new Array[Long](runs); val runLens = new Array[Long](runs)
      var r = -1; i = 0
      while (i < codes.length) {
        if (r < 0 || codes(i) != runVals(r)) { r += 1; runVals(r) = codes(i); runLens(r) = 1 }
        else runLens(r) += 1
        i += 1
      }
      var maxLen = 0L
      runLens.foreach(l => if (l > maxLen) maxLen = l)
      val lenW = BitPack.bitsNeeded(maxLen)
      w.writeInt(runs); w.writeByte(lenW)
      w.writeBytes(BitPack.pack(runVals, codeW))
      w.writeBytes(BitPack.pack(runLens, lenW))
    }
    w.toArray
  }

  def decodeStrs(blob: Array[Byte]): Array[Array[Byte]] = decodeStrs(blob, null)

  /** parsed shared-blob header (everything after [id][count], before the
    * code stream): the dictionary reference, the block's code interval, and
    * the INLINE truncated value bounds — stored at encode time so header-only
    * operations (rangeOfStr, zone reject) never need dictionary resolution. */
  private final case class SharedHdr(dictId: Long, ndv: Int, minC: Int, maxC: Int,
                                     lo: Array[Byte], hi: Array[Byte])

  private def readSharedHdr(r: ByteReader): SharedHdr = {
    val dictId = r.readLong(); val ndv = r.readShort()
    val minC = r.readShort(); val maxC = r.readShort()
    val lo = r.readBytes(r.readByte() & 0xff)
    val hiLen = r.readByte() & 0xff
    val hi = if (hiLen == 0xff) null else r.readBytes(hiLen)
    SharedHdr(dictId, ndv, minC, maxC, lo, hi)
  }

  /** expands the code stream into ABSOLUTE dictionary codes (un-rebases by
    * minC; both the plain and the RLE form); the reader must be positioned
    * at [codeW] (i.e. after readSharedHdr) */
  private def readSharedCodes(r: ByteReader, id: Int, count: Int, minC: Int): Array[Long] = {
    val codeW = r.readByte() & 0xff
    if (id == SharedDictStr) {
      val out = BitPack.unpack(r.readBytes(r.remaining), codeW, count)
      var i = 0
      while (i < count) { out(i) += minC; i += 1 }
      out
    } else {
      val runs = r.readInt()
      val lenW = r.readByte() & 0xff
      val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(runs, codeW)), codeW, runs)
      val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, runs)
      val out = new Array[Long](count)
      var i = 0; var o = 0
      while (i < runs) {
        var k = runLens(i)
        while (k > 0) { out(o) = runVals(i) + minC; o += 1; k -= 1 }
        i += 1
      }
      out
    }
  }

  def decodeStrs(blob0: Array[Byte], resolver: DictResolver): Array[Array[Byte]] = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case SharedDictStr | SharedRleDict =>
        val h = readSharedHdr(r)
        val dt = resolveDict(resolver, h.dictId, id, h.ndv)
        val codes = readSharedCodes(r, id, count, h.minC)
        codes.map(c => dt.values(c.toInt))
      case ConstStr =>
        val len = r.readInt()
        val v = r.readBytes(len)
        Array.fill(count)(v)
      case RawStr =>
        val lens = readLens(r, count)
        lens.map(r.readBytes)
      case DictId | RleDict =>
        val ndv = r.readInt()
        val dictLens = readLens(r, ndv)
        val dict = dictLens.map(r.readBytes)
        val codeW = r.readByte() & 0xff
        val codes: Array[Long] =
          if (id == DictId) BitPack.unpack(r.readBytes(r.remaining), codeW, count)
          else {
            val runs = r.readInt()
            val lenW = r.readByte() & 0xff
            val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(runs, codeW)), codeW, runs)
            val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, runs)
            val out = new Array[Long](count)
            var i = 0; var o = 0
            while (i < runs) {
              var k = runLens(i)
              while (k > 0) { out(o) = runVals(i); o += 1; k -= 1 }
              i += 1
            }
            out
          }
        codes.map(c => dict(c.toInt))
      case FsstId =>
        val table = Fsst.SymbolTable.readFrom(r)
        val lens = readLens(r, count)
        val out = new Array[Array[Byte]](count)
        var i = 0
        while (i < count) {
          val start = r.pos
          out(i) = table.decompress(r.buf, start, start + lens(i))
          r.pos += lens(i)
          i += 1
        }
        out
      case PrefixStr =>
        val lcpW = r.readByte() & 0xff
        val sufW = r.readByte() & 0xff
        val lcps = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, lcpW)), lcpW, count)
        val sufs = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, sufW)), sufW, count)
        val out = new Array[Array[Byte]](count)
        var i = 0
        while (i < count) {
          val lcp = lcps(i).toInt; val suf = sufs(i).toInt
          val v = new Array[Byte](lcp + suf)
          if (lcp > 0) System.arraycopy(out(i - 1), 0, v, 0, lcp)
          System.arraycopy(blob, r.pos, v, lcp, suf)
          r.pos += suf
          out(i) = v
          i += 1
        }
        out
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
  }

  /** zero-copy view of a decoded string block: value i is
    * buf[offs(i), offs(i)+lens(i)); lens(i) == -1 marks a null. For
    * const/raw/dict codecs buf IS the blob (or its dictionary region) —
    * decode allocates nothing per value; FSST rebuilds the whole block into
    * ONE shared buffer. Callers wrap slices as
    * UTF8String.fromBytes(buf, off, len) — the restore path's hottest loop
    * previously copied every value into its own byte[]. */
  final class StrView(val n: Int, val buf: Array[Byte],
                      val offs: Array[Int], val lens: Array[Int])

  def decodeStrsView(blob: Array[Byte]): StrView = decodeStrsViewFrom(pageUnwrap(blob), 0)

  private def decodeStrsViewFrom(blob: Array[Byte], start: Int): StrView = {
    val r = new ByteReader(blob)
    r.pos = start
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case SharedDictStr | SharedRleDict =>
        // values are slices of the resolved dictionary's concatenated view
        // buffer — per-value cost is two array stores, like inline dict
        val h = readSharedHdr(r)
        val dt = resolveDict(null, h.dictId, id, h.ndv)
        val codes = readSharedCodes(r, id, count, h.minC)
        val dOffs = dt.viewOffs; val dLens = dt.viewLens
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        var i = 0
        while (i < count) {
          val c = codes(i).toInt
          offs(i) = dOffs(c); lens(i) = dLens(c)
          i += 1
        }
        new StrView(count, dt.viewBuf, offs, lens)
      case NullStr =>
        val bm = r.readBytes((count + 7) >> 3)
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        var nNulls = 0
        var i = 0
        while (i < count) {
          if ((bm(i >> 3) & (1 << (i & 7))) != 0) { lens(i) = -1; nNulls += 1 }
          i += 1
        }
        if (nNulls == count) return new StrView(count, blob, offs, lens)
        val inner = decodeStrsViewFrom(blob, r.pos)
        var k = 0; i = 0
        while (i < count) {
          if (lens(i) != -1) { offs(i) = inner.offs(k); lens(i) = inner.lens(k); k += 1 }
          i += 1
        }
        new StrView(count, inner.buf, offs, lens)
      case ConstStr =>
        val len = r.readInt()
        val off = r.pos
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        java.util.Arrays.fill(offs, off)
        java.util.Arrays.fill(lens, len)
        new StrView(count, blob, offs, lens)
      case RawStr =>
        val lens = readLens(r, count)
        val offs = new Array[Int](count)
        var o = r.pos
        var i = 0
        while (i < count) { offs(i) = o; o += lens(i); i += 1 }
        new StrView(count, blob, offs, lens)
      case DictId | RleDict =>
        val ndv = r.readInt()
        val dictLens = readLens(r, ndv)
        val dictOffs = new Array[Int](ndv)
        var i = 0
        while (i < ndv) { dictOffs(i) = r.pos; r.pos += dictLens(i); i += 1 }
        val codeW = r.readByte() & 0xff
        val codes: Array[Long] =
          if (id == DictId) BitPack.unpack(r.readBytes(r.remaining), codeW, count)
          else {
            val runs = r.readInt()
            val lenW = r.readByte() & 0xff
            val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(runs, codeW)), codeW, runs)
            val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, runs)
            val out = new Array[Long](count)
            var j = 0; var o = 0
            while (j < runs) {
              var k = runLens(j)
              while (k > 0) { out(o) = runVals(j); o += 1; k -= 1 }
              j += 1
            }
            out
          }
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        i = 0
        while (i < count) {
          val c = codes(i).toInt
          offs(i) = dictOffs(c); lens(i) = dictLens(c)
          i += 1
        }
        new StrView(count, blob, offs, lens)
      case FsstId =>
        val table = Fsst.SymbolTable.readFrom(r)
        val compLens = readLens(r, count)
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        // one shared output buffer, grown with word-store slack; the
        // per-value arrays the copy path allocated are gone entirely
        var buf = new Array[Byte](1 << 16)
        var used = 0
        var i = 0
        while (i < count) {
          val need = used + compLens(i) * 8 + 8
          if (need > buf.length)
            buf = java.util.Arrays.copyOf(buf, math.max(need, buf.length * 2))
          val n = table.decompressInto(blob, r.pos, r.pos + compLens(i), buf, used)
          offs(i) = used; lens(i) = n
          used += n
          r.pos += compLens(i)
          i += 1
        }
        new StrView(count, buf, offs, lens)
      case PrefixStr =>
        val lcpW = r.readByte() & 0xff
        val sufW = r.readByte() & 0xff
        val lcps = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, lcpW)), lcpW, count)
        val sufs = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, sufW)), sufW, count)
        var total = 0L
        var i = 0
        while (i < count) { total += lcps(i) + sufs(i); i += 1 }
        // untrusted header: packed lengths could sum past Int.MaxValue and
        // wrap in toInt — fail loudly instead (r4 ADVICE)
        require(total <= Int.MaxValue, s"PREFIX blob decoded size $total exceeds 2 GiB")
        // every value fully materialized once into ONE shared buffer
        // (prefix copied from its predecessor's slice, suffix from the blob)
        val buf = new Array[Byte](total.toInt)
        val offs = new Array[Int](count)
        val lens = new Array[Int](count)
        var used = 0
        i = 0
        while (i < count) {
          val lcp = lcps(i).toInt; val suf = sufs(i).toInt
          offs(i) = used; lens(i) = lcp + suf
          if (lcp > 0) System.arraycopy(buf, offs(i - 1), buf, used, lcp)
          System.arraycopy(blob, r.pos, buf, used + lcp, suf)
          r.pos += suf
          used += lcp + suf
          i += 1
        }
        new StrView(count, buf, offs, lens)
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
  }

  // ======================== NULL support ========================
  // Every codec path above is null-free (mirroring the reference, which has
  // no null concept). Nullable columns wrap the same blobs:
  //   [NullLong|NullStr][count:int][bitmap ceil(count/8), bit i set = NULL]
  //   [inner blob over the non-null values — absent when all values null]
  // The bitmap is itself bit-packed — the engine's own discipline — and the
  // wrapper is only emitted when a block actually contains nulls, so
  // null-free data pays zero overhead and stays byte-identical to v1 blobs.

  /** encode with nulls; `nulls` may be null or all-false (then = encodeLongs).
    * Only the first vs.length entries of `nulls` are read. */
  def encodeLongsN(vs: Array[Long], nulls: Array[Boolean]): Array[Byte] =
    pageWrap(encodeLongsNRaw(vs, nulls))

  private def encodeLongsNRaw(vs: Array[Long], nulls: Array[Boolean]): Array[Byte] = {
    val n = vs.length
    var nNulls = 0
    if (nulls != null) { var i = 0; while (i < n) { if (nulls(i)) nNulls += 1; i += 1 } }
    if (nNulls == 0) return encodeLongs(vs)
    val bm = new Array[Byte]((n + 7) >> 3)
    val nonNull = new Array[Long](n - nNulls)
    var i = 0; var k = 0
    while (i < n) {
      if (nulls(i)) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
      else { nonNull(k) = vs(i); k += 1 }
      i += 1
    }
    val w = new ByteWriter(n + 16)
    w.writeByte(NullLong); w.writeInt(n); w.writeBytes(bm)
    if (k > 0) w.writeBytes(encodeLongs(nonNull))
    w.toArray
  }

  /** decode possibly-null-wrapped longs: (values, isNull or null). Values at
    * null positions are 0 (callers must consult the flag array). */
  def decodeLongsN(blob0: Array[Byte]): (Array[Long], Array[Boolean]) = {
    val blob = pageUnwrap(blob0)
    if ((blob(0) & 0xff) != NullLong) return (decodeLongs(blob), null)
    val r = new ByteReader(blob)
    r.readByte()
    val n = r.readInt()
    val bm = r.readBytes((n + 7) >> 3)
    val isNull = new Array[Boolean](n)
    var nNulls = 0
    var i = 0
    while (i < n) {
      if ((bm(i >> 3) & (1 << (i & 7))) != 0) { isNull(i) = true; nNulls += 1 }
      i += 1
    }
    val out = new Array[Long](n)
    if (nNulls < n) {
      val inner = decodeLongs(r.readBytes(r.remaining))
      var k = 0; i = 0
      while (i < n) { if (!isNull(i)) { out(i) = inner(k); k += 1 }; i += 1 }
    }
    (out, isNull)
  }

  /** encode strings/binary where `vs` may contain null entries; returns the
    * blob plus the FSST table to cache (as encodeStrsCached). */
  def encodeStrsN(vs: Array[Array[Byte]], cached: Fsst.SymbolTable = null): (Array[Byte], Fsst.SymbolTable) = {
    val (blob, table) = encodeStrsNRaw(vs, cached)
    (pageWrap(blob), table)
  }

  private def encodeStrsNRaw(vs: Array[Array[Byte]], cached: Fsst.SymbolTable): (Array[Byte], Fsst.SymbolTable) = {
    val n = vs.length
    var nNulls = 0
    var i = 0
    while (i < n) { if (vs(i) == null) nNulls += 1; i += 1 }
    if (nNulls == 0) return encodeStrsCached(vs, cached)
    val bm = new Array[Byte]((n + 7) >> 3)
    val nonNull = new Array[Array[Byte]](n - nNulls)
    var k = 0; i = 0
    while (i < n) {
      if (vs(i) == null) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte
      else { nonNull(k) = vs(i); k += 1 }
      i += 1
    }
    val w = new ByteWriter(64)
    w.writeByte(NullStr); w.writeInt(n); w.writeBytes(bm)
    if (k > 0) {
      val (inner, table) = encodeStrsCached(nonNull, cached)
      w.writeBytes(inner)
      (w.toArray, table)
    } else (w.toArray, null)
  }

  /** decode possibly-null-wrapped strings: null entries restored in place. */
  def decodeStrsN(blob0: Array[Byte]): Array[Array[Byte]] = {
    val blob = pageUnwrap(blob0)
    if ((blob(0) & 0xff) != NullStr) return decodeStrs(blob)
    val r = new ByteReader(blob)
    r.readByte()
    val n = r.readInt()
    val bm = r.readBytes((n + 7) >> 3)
    val out = new Array[Array[Byte]](n)
    var nNulls = 0
    var i = 0
    while (i < n) { if ((bm(i >> 3) & (1 << (i & 7))) != 0) nNulls += 1; i += 1 }
    if (nNulls < n) {
      val inner = decodeStrs(r.readBytes(r.remaining))
      var k = 0; i = 0
      while (i < n) { if ((bm(i >> 3) & (1 << (i & 7))) == 0) { out(i) = inner(k); k += 1 }; i += 1 }
    }
    out
  }

  // ==================== shared (per-partition) dictionaries ====================
  // A dict/rle-dict block of a low-cardinality column repeats its dictionary
  // every ~4k values. When a table is written through EncodePipeline.run with
  // sharedDict on, the FULL partition's distinct set is computed up front
  // (sorted unsigned-lexicographic, like the inline dict), stored ONCE in the
  // manifest side-structure, and blocks reference it by content id — codes
  // only, no per-block dictionary bytes. Blocks whose values miss the shared
  // dictionary (or where an inline codec is smaller) fall back to the normal
  // self-describing encoding, so mixed blobs coexist freely.
  //
  // Blob layout (both ids; dictionaries are capped at 65535 entries, so the
  // code fields are shorts and the 16-byte-truncated bound lengths bytes —
  // the whole fixed header is 22 bytes, small enough that shared blobs win
  // the size competition even against tiny inline dictionaries):
  //   [id][count:int][dict_id:long][ndv:short][minCode:short][maxCode:short]
  //   [loLen:byte][lo bytes][hiLen:byte|0xff=unbounded][hi bytes][codeW:byte]
  //   SharedDictStr: [packed (code - minCode)]
  //   SharedRleDict: [runs:int][lenW:byte][packed (runVal - minCode)][packed runLens]
  // Codes are REBASED to minCode: a block that touches a narrow slice of the
  // partition dictionary (sorted input → clustered values) packs at
  // bitsNeeded(maxCode - minCode), not bitsNeeded(ndv - 1).
  // lo/hi are the block's truncated value bounds (truncLo/truncHi of the
  // values at minCode/maxCode, computed at encode time while the dictionary
  // is in hand) — so header-only operations (rangeOfStr for the manifest,
  // zone reject in countEq/countBetween) never need dictionary resolution;
  // minCode/maxCode make zone ACCEPT exact once the dictionary is resolved.

  /** Resolver from a blob's dict_id to its dictionary; null falls back to
    * the JVM-wide registry below, and shared blobs fail loudly when the
    * dictionary is found in neither. */
  type DictResolver = Long => DictTable

  /** JVM-wide content-addressed dictionary registry. Decode paths register
    * the dictionaries they ship (broadcast) here, so stand-alone kernel
    * expressions (blob_count_eq_str & co) evaluating later on the same
    * executor resolve shared blobs without plumbing. Content ids are pure
    * functions of the values — registration is idempotent and two tables
    * sharing an id share the dictionary by construction. Bounded: only
    * capped dictionaries (EncodePipeline maxNdv/maxBytes) are ever built. */
  private val sharedDicts = new java.util.concurrent.ConcurrentHashMap[Long, DictTable]()
  def registerDict(id: Long, dt: DictTable): Unit = sharedDicts.putIfAbsent(id, dt)
  def registerDicts(m: scala.collection.Map[Long, DictTable]): Unit =
    m.foreach { case (k, v) => registerDict(k, v) }

  /** A shared dictionary: values sorted unsigned-lexicographic, no
    * duplicates. Broadcast-friendly; the concatenated view buffer and the
    * search path are per-JVM lazies. */
  final class DictTable(val values: Array[Array[Byte]]) extends Serializable {
    val ndv: Int = values.length
    @transient private var _buf: Array[Byte] = _
    @transient private var _offs: Array[Int] = _
    @transient private var _lens: Array[Int] = _
    private def ensureView(): Unit = synchronized {
      if (_buf == null) {
        var total = 0L
        values.foreach(v => total += v.length)
        require(total <= Int.MaxValue, s"shared dictionary too large ($total bytes)")
        val b = new Array[Byte](total.toInt)
        val o = new Array[Int](ndv); val l = new Array[Int](ndv)
        var used = 0; var i = 0
        while (i < ndv) {
          o(i) = used; l(i) = values(i).length
          System.arraycopy(values(i), 0, b, used, l(i))
          used += l(i); i += 1
        }
        _offs = o; _lens = l; _buf = b // buf last: publication guard
      }
    }
    def viewBuf: Array[Byte] = { if (_buf == null) ensureView(); _buf }
    def viewOffs: Array[Int] = { if (_buf == null) ensureView(); _offs }
    def viewLens: Array[Int] = { if (_buf == null) ensureView(); _lens }
    /** binary search (values sorted unsigned-lex); -1 when absent */
    def codeOf(v: Array[Byte]): Int = {
      var lo = 0; var hi = ndv - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = java.util.Arrays.compareUnsigned(values(mid), v)
        if (c == 0) return mid
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      -1
    }
    /** code of the smallest value >= v (ndv when none) */
    def ceilCode(v: Array[Byte]): Int = {
      var lo = 0; var hi = ndv
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(values(mid), v) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    /** code of the largest value <= v (-1 when none) */
    def floorCode(v: Array[Byte]): Int = ceilCode2(v) - 1
    private def ceilCode2(v: Array[Byte]): Int = { // smallest code with value > v
      var lo = 0; var hi = ndv
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (java.util.Arrays.compareUnsigned(values(mid), v) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  /** deterministic 64-bit content id of a dictionary (order-sensitive) */
  def dictContentId(values: Array[Array[Byte]]): Long = {
    var h = 0x9e3779b97f4a7c15L ^ values.length
    var i = 0
    while (i < values.length) {
      val v = values(i)
      var x = v.length.toLong
      var j = 0
      while (j < v.length) { x = x * 131 + (v(j) & 0xff); j += 1 }
      h = Bits.mix(h ^ x)
      i += 1
    }
    h
  }

  private def resolveDict(resolver: DictResolver, dictId: Long, id: Int, ndv: Int): DictTable = {
    val dt = if (resolver != null) resolver(dictId) else sharedDicts.get(dictId)
    require(dt != null,
      s"shared dictionary 0x${java.lang.Long.toHexString(dictId)} (codec ${codecName(id)}) " +
        "not available in this JVM — decode via EncodePipeline.decodeShared, or register " +
        "the table's dictionaries first (EncodePipeline.loadDicts / Codecs.registerDicts)")
    require(dt.ndv >= ndv, s"shared dictionary $dictId has ${dt.ndv} entries, blob expects >= $ndv")
    dt
  }

  /** encode a (non-null) block against a shared dictionary; returns null if
    * any value is absent from the dictionary (caller falls back inline). */
  private def encodeSharedWith(vs: Array[Array[Byte]], dictId: Long, dt: DictTable): Array[Byte] = {
    if (dt.ndv > 0xffff) return null // header fields are shorts by contract
    val n = vs.length
    val codes = new Array[Long](n)
    var minC = Int.MaxValue; var maxC = -1; var runs = 1
    var i = 0
    while (i < n) {
      val c = dt.codeOf(vs(i))
      if (c < 0) return null
      codes(i) = c
      if (c < minC) minC = c
      if (c > maxC) maxC = c
      if (i > 0 && codes(i) != codes(i - 1)) runs += 1
      i += 1
    }
    // rebase to the block's code interval: clustered blocks (sorted input)
    // touch a narrow dictionary slice and pack far below bitsNeeded(ndv-1)
    i = 0
    while (i < n) { codes(i) -= minC; i += 1 }
    val codeW = BitPack.bitsNeeded(math.max(maxC - minC, 1))
    val w = new ByteWriter(64)
    // rle wins when the run streams are smaller than the plain code stream
    var maxRunLen = 0L
    val plainBytes = BitPack.packedByteLen(n, codeW)
    val rleBytes = {
      var cur = 1L; var mx = 1L
      var j = 1
      while (j < n) {
        if (codes(j) == codes(j - 1)) cur += 1 else cur = 1
        if (cur > mx) mx = cur
        j += 1
      }
      maxRunLen = mx
      5 + BitPack.packedByteLen(runs, codeW) + BitPack.packedByteLen(runs, BitPack.bitsNeeded(maxRunLen))
    }
    val useRle = rleBytes < plainBytes
    w.writeByte(if (useRle) SharedRleDict else SharedDictStr)
    w.writeInt(n); w.writeLong(dictId); w.writeShort(dt.ndv)
    w.writeShort(minC); w.writeShort(maxC)
    // inline truncated value bounds (the dictionary is in hand only at
    // encode time; headers must answer rangeOfStr/zone-reject stand-alone)
    val lo = truncLo(dt.values(minC), 16)
    val hi = truncHi(dt.values(maxC), 16)
    w.writeByte(lo.length); w.writeBytes(lo)
    if (hi == null) w.writeByte(0xff) else { w.writeByte(hi.length); w.writeBytes(hi) }
    w.writeByte(codeW)
    if (!useRle) w.writeBytes(BitPack.pack(codes, codeW))
    else {
      val lenW = BitPack.bitsNeeded(maxRunLen)
      val runVals = new Array[Long](runs); val runLens = new Array[Long](runs)
      var r2 = -1
      i = 0
      while (i < n) {
        if (r2 < 0 || codes(i) != runVals(r2)) { r2 += 1; runVals(r2) = codes(i); runLens(r2) = 1 }
        else runLens(r2) += 1
        i += 1
      }
      w.writeInt(runs); w.writeByte(lenW)
      w.writeBytes(BitPack.pack(runVals, codeW))
      w.writeBytes(BitPack.pack(runLens, lenW))
    }
    w.toArray
  }

  /** nullable-block encode that CONSIDERS the shared dictionary: encodes
    * both ways (inline auto-select is the correctness baseline; the shared
    * form exists only when every value resolves) and keeps the smaller
    * blob. The inline pass is cheap for shared-eligible columns — they are
    * low-cardinality by construction; text/html never get here. */
  def encodeStrsNSharedOpt(vs: Array[Array[Byte]], cached: Fsst.SymbolTable,
                           dictId: Long, dt: DictTable): (Array[Byte], Fsst.SymbolTable) = {
    val n = vs.length
    var nNulls = 0
    var i = 0
    while (i < n) { if (vs(i) == null) nNulls += 1; i += 1 }
    val nonNull =
      if (nNulls == 0) vs
      else {
        val nn = new Array[Array[Byte]](n - nNulls)
        var k = 0; i = 0
        while (i < n) { if (vs(i) != null) { nn(k) = vs(i); k += 1 }; i += 1 }
        nn
      }
    val shared = if (nonNull.length == 0) null else encodeSharedWith(nonNull, dictId, dt)
    // compete on PRE-page sizes (the page layer compresses either winner),
    // wrap whichever blob is stored
    val (inline, table) = encodeStrsNRaw(vs, cached)
    if (shared == null) return (pageWrap(inline), table)
    val sharedFull =
      if (nNulls == 0) shared
      else {
        // wrap in the standard null bitmap (same layout as encodeStrsN)
        val bm = new Array[Byte]((n + 7) >> 3)
        i = 0
        while (i < n) { if (vs(i) == null) bm(i >> 3) = (bm(i >> 3) | (1 << (i & 7))).toByte; i += 1 }
        val w = new ByteWriter(shared.length + 16)
        w.writeByte(NullStr); w.writeInt(n); w.writeBytes(bm); w.writeBytes(shared)
        w.toArray
      }
    if (sharedFull.length < inline.length) (pageWrap(sharedFull), table)
    else (pageWrap(inline), table)
  }

  // ================= encoded-domain predicate evaluation =================
  // Count/containment of a value WITHOUT materializing the block — the
  // encoded-domain analog of predicate pushdown:
  //  - const: one compare decides the whole block
  //  - dict / rle_dict: search the (small) dictionary, then count codes /
  //    sum run lengths — the payload strings are never rebuilt
  //  - fsst: the encoder is a deterministic function, so equal raw bytes ⟺
  //    equal compressed bytes: compress the target ONCE and compare spans
  //  - bitpack / for: header range check ([0,2^w) / [ref, ref+2^w)) skips
  //    whole blocks zone-map-style before any decode
  //  - null wrappers recurse on the inner blob

  /** number of values in a string blob equal to `target` */
  def countEqStr(blob0: Array[Byte], target: Array[Byte]): Long = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case NullStr =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) 0L else countEqStr(r.readBytes(r.remaining), target)
      case ConstStr =>
        val len = r.readInt()
        if (len == target.length && java.util.Arrays.equals(r.readBytes(len), target)) count.toLong else 0L
      case RawStr =>
        val lens = readLens(r, count)
        var n = 0L
        var i = 0
        while (i < count) {
          if (lens(i) == target.length &&
              java.util.Arrays.equals(blob, r.pos, r.pos + lens(i), target, 0, target.length)) n += 1
          r.pos += lens(i)
          i += 1
        }
        n
      case DictId | RleDict =>
        val ndv = r.readInt()
        val dictLens = readLens(r, ndv)
        var targetCode = -1
        var i = 0
        while (i < ndv) {
          if (targetCode < 0 && dictLens(i) == target.length &&
              java.util.Arrays.equals(blob, r.pos, r.pos + dictLens(i), target, 0, target.length))
            targetCode = i
          r.pos += dictLens(i)
          i += 1
        }
        if (targetCode < 0) return 0L
        val codeW = r.readByte() & 0xff
        if (id == DictId) {
          val codes = BitPack.unpack(r.readBytes(r.remaining), codeW, count)
          var n = 0L; var j = 0
          while (j < count) { if (codes(j) == targetCode) n += 1; j += 1 }
          n
        } else {
          val runs = r.readInt()
          val lenW = r.readByte() & 0xff
          val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(runs, codeW)), codeW, runs)
          val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, runs)
          var n = 0L; var j = 0
          while (j < runs) { if (runVals(j) == targetCode) n += runLens(j); j += 1 }
          n
        }
      case FsstId =>
        val table = Fsst.SymbolTable.readFrom(r)
        val comp = table.compress(target)
        val lens = readLens(r, count)
        var n = 0L
        var i = 0
        while (i < count) {
          if (lens(i) == comp.length &&
              java.util.Arrays.equals(blob, r.pos, r.pos + lens(i), comp, 0, comp.length)) n += 1
          r.pos += lens(i)
          i += 1
        }
        n
      case SharedDictStr | SharedRleDict =>
        // zone reject from the INLINE bounds first — no dictionary needed
        // for the common "target outside this block's range" case
        val h = readSharedHdr(r)
        if (java.util.Arrays.compareUnsigned(target, h.lo) < 0 ||
            (h.hi != null && java.util.Arrays.compareUnsigned(target, h.hi) > 0)) return 0L
        val dt = resolveDict(null, h.dictId, id, h.ndv)
        val tc = dt.codeOf(target)
        if (tc < h.minC || tc > h.maxC) return 0L // covers tc == -1 (absent)
        val codes = readSharedCodes(r, id, count, h.minC)
        var n = 0L; var j = 0
        while (j < count) { if (codes(j) == tc) n += 1; j += 1 }
        n
      case PrefixStr =>
        // front-coded equality without materializing values: a value equals
        // the target iff its length matches AND its retained prefix agrees
        // with the target up to lcp AND its suffix bytes equal the target's
        // tail. Track how far the target matches the running value prefix.
        val lcpW = r.readByte() & 0xff
        val sufW = r.readByte() & 0xff
        val lcps = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, lcpW)), lcpW, count)
        val sufs = BitPack.unpack(r.readBytes(BitPack.packedByteLen(count, sufW)), sufW, count)
        var n = 0L
        // matchedPfx = length of the longest prefix of `target` that the
        // PREVIOUS value shares with target
        var matchedPfx = 0
        var i = 0
        while (i < count) {
          val lcp = lcps(i).toInt; val suf = sufs(i).toInt
          // this value's shared-with-target prefix: limited by the part it
          // retained from the previous value
          var m = math.min(matchedPfx, lcp)
          // the match can only extend into the suffix region if it reached
          // it — positions m..lcp-1 are known mismatches otherwise
          if (m == lcp) {
            var j = 0
            while (lcp + j < target.length && j < suf && blob(r.pos + j) == target(lcp + j)) j += 1
            m = lcp + j
          }
          if (lcp + suf == target.length && m == target.length) n += 1
          matchedPfx = m
          r.pos += suf
          i += 1
        }
        n
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
  }

  /** true iff `shifted` (the target minus the block reference) falls outside
    * the representable range [0, 2^width - 1] of a packed block. Unsigned
    * compare — `1L << 63` is Long.MinValue, so a signed `>=` test is
    * vacuously true at width 63 and would zone-skip EVERY target on blocks
    * whose packed width is 63 (reachable for xxhash64-derived ids). */
  @inline private def outsidePackedRange(shifted: Long, width: Int): Boolean =
    width < 64 && java.lang.Long.compareUnsigned(shifted, (1L << width) - 1) > 0

  /** saturating `ref + (2^width - 1)` — the block's max possible value. The
    * raw sum overflows when ref is near Long.MaxValue (FoR refs are block
    * minima; width rounds the span UP, so ref + span can exceed the true
    * max), which would make hi < lo and zone-REJECT blocks that contain
    * matches. Saturate to Long.MaxValue: bounds stay sound for pruning. */
  @inline private def packedHi(ref: Long, width: Int): Long = {
    if (width >= 64) return Long.MaxValue
    val hi = ref + ((1L << width) - 1)
    if (hi < ref) Long.MaxValue else hi
  }

  /** number of values in a long blob equal to `target` (range-skips via the
    * FoR/bitpack headers before decoding anything) */
  def countEqLong(blob0: Array[Byte], target: Long): Long = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case NullLong =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) 0L else countEqLong(r.readBytes(r.remaining), target)
      case ConstLong =>
        if (r.readLong() == target) count.toLong else 0L
      case BitPackId =>
        val width = r.readByte() & 0xff
        if (target < 0 || outsidePackedRange(target, width)) return 0L // zone skip
        val vs = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var n = 0L; var i = 0
        while (i < count) { if (vs(i) == target) n += 1; i += 1 }
        n
      case ForId =>
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        // target < ref guards signed wraparound in target - ref (a target far
        // below a huge ref could otherwise alias into the packed range)
        if (target < ref) return 0L
        val shifted = target - ref
        if (outsidePackedRange(shifted, width)) return 0L // zone skip
        val vs = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var n = 0L; var i = 0
        while (i < count) { if (vs(i) == shifted) n += 1; i += 1 }
        n
      case RleLong =>
        val nRuns = r.readInt()
        val valW = r.readByte() & 0xff
        val lenW = r.readByte() & 0xff
        val ref = r.readLong()
        if (target < ref) return 0L
        val shifted = target - ref
        if (outsidePackedRange(shifted, valW)) return 0L
        val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(nRuns, valW)), valW, nRuns)
        val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, nRuns)
        var n = 0L; var i = 0
        while (i < nRuns) { if (runVals(i) == shifted) n += runLens(i); i += 1 }
        n
      case TzForId =>
        // header zone skip: every stored value has >= tz trailing zeros
        val tz = r.readByte() & 0xff
        if (tz >= 1 && tz < 64 && (target & ((1L << tz) - 1)) != 0L) return 0L
        val vs = decodeLongs(blob)
        var n = 0L; var i = 0
        while (i < vs.length) { if (vs(i) == target) n += 1; i += 1 }
        n
      case DeltaId | AlpLong =>
        val vs = decodeLongs(blob)
        var n = 0L; var i = 0
        while (i < vs.length) { if (vs(i) == target) n += 1; i += 1 }
        n
      case other => throw new IllegalArgumentException(s"not a long codec id: $other")
    }
  }

  /** number of values in a long blob within [lo, hi] — the headers give the
    * block's possible value range, so whole blocks are accepted (count with
    * zero decode) or rejected (0) zone-map-style; only straddling blocks decode */
  def countBetweenLong(blob0: Array[Byte], lo: Long, hi: Long): Long = {
    val blob = pageUnwrap(blob0)
    if (lo > hi) return 0L
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    @inline def rangeOf(width: Int, ref: Long): (Long, Long) = (ref, packedHi(ref, width))
    id match {
      case NullLong =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) 0L else countBetweenLong(r.readBytes(r.remaining), lo, hi)
      case ConstLong =>
        val v = r.readLong()
        if (v >= lo && v <= hi) count.toLong else 0L
      case BitPackId =>
        val width = r.readByte() & 0xff
        val (mn, mx) = rangeOf(width, 0L)
        if (hi < mn || lo > mx) return 0L // zone reject
        if (lo <= mn && hi >= mx) return count.toLong // zone accept
        val vs = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var n = 0L; var i = 0
        while (i < count) { if (vs(i) >= lo && vs(i) <= hi) n += 1; i += 1 }
        n
      case ForId =>
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        val (mn, mx) = rangeOf(width, ref)
        if (hi < mn || lo > mx) return 0L
        if (lo <= mn && hi >= mx) return count.toLong
        val vs = BitPack.unpack(r.readBytes(r.remaining), width, count)
        var n = 0L; var i = 0
        while (i < count) { val v = vs(i) + ref; if (v >= lo && v <= hi) n += 1; i += 1 }
        n
      case RleLong =>
        val nRuns = r.readInt()
        val valW = r.readByte() & 0xff
        val lenW = r.readByte() & 0xff
        val ref = r.readLong()
        val (mn, mx) = rangeOf(valW, ref)
        if (hi < mn || lo > mx) return 0L
        val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(nRuns, valW)), valW, nRuns)
        val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, nRuns)
        var n = 0L; var i = 0
        while (i < nRuns) {
          val v = runVals(i) + ref
          if (v >= lo && v <= hi) n += runLens(i)
          i += 1
        }
        n
      case DeltaId | AlpLong | TzForId =>
        val vs = decodeLongs(blob)
        var n = 0L; var i = 0
        while (i < vs.length) { if (vs(i) >= lo && vs(i) <= hi) n += 1; i += 1 }
        n
      case other => throw new IllegalArgumentException(s"not a long codec id: $other")
    }
  }

  /** whether a blob contains any nulls (for array_contains-faithful 3-valued
    * logic in the pushdown expression) */
  def blobHasNulls(blob0: Array[Byte]): Boolean = {
    val blob = pageUnwrap(blob0)
    val id = blob(0) & 0xff
    id == NullStr || id == NullLong
  }

  /** exact number of nulls in a blob — population count of the null-wrapper
    * bitmap (0 for unwrapped blobs; the wrapper is only emitted when a block
    * actually contains nulls). The manifest's Iceberg `null_value_counts`
    * parity column: an IS NULL probe prunes parts whose count is 0. */
  def nullCountOf(blob0: Array[Byte]): Long = {
    val blob = pageUnwrap(blob0)
    val id = blob(0) & 0xff
    if (id != NullStr && id != NullLong) return 0L
    val r = new ByteReader(blob)
    r.readByte()
    val n = r.readInt()
    val bm = r.readBytes((n + 7) >> 3)
    var c = 0L
    var i = 0
    while (i < bm.length) { c += java.lang.Integer.bitCount(bm(i) & 0xff); i += 1 }
    c
  }

  /** number of values in a string blob within the byte-string range
    * [lo, hi] (unsigned-lexicographic — the same order Spark's UTF8String
    * and the sorted dictionary use; a null bound = unbounded on that side;
    * inclusive flags per side). Dict codecs answer from the SORTED
    * dictionary header (find the code interval, then count codes / sum run
    * lengths — payload strings never rebuilt); const is one compare; raw
    * scans spans in place; FSST decodes (compression is order-destroying).
    */
  def countBetweenStr(blob0: Array[Byte], lo: Array[Byte], loInc: Boolean,
                      hi: Array[Byte], hiInc: Boolean): Long = {
    val blob = pageUnwrap(blob0)
    @inline def cmp(a: Array[Byte], b: Array[Byte]) = java.util.Arrays.compareUnsigned(a, b)
    @inline def inRange(v: Array[Byte]): Boolean = {
      (lo == null || { val c = cmp(v, lo); c > 0 || (loInc && c == 0) }) &&
        (hi == null || { val c = cmp(v, hi); c < 0 || (hiInc && c == 0) })
    }
    // span variant: compares blob[pos, pos+len) against the bounds in place
    @inline def spanInRange(pos: Int, len: Int): Boolean = {
      (lo == null || {
        val c = java.util.Arrays.compareUnsigned(blob, pos, pos + len, lo, 0, lo.length)
        c > 0 || (loInc && c == 0)
      }) && (hi == null || {
        val c = java.util.Arrays.compareUnsigned(blob, pos, pos + len, hi, 0, hi.length)
        c < 0 || (hiInc && c == 0)
      })
    }
    if (lo != null && hi != null) {
      val c = cmp(lo, hi)
      if (c > 0 || (c == 0 && !(loInc && hiInc))) return 0L // empty interval
    }
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case NullStr =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) 0L
        else countBetweenStr(r.readBytes(r.remaining), lo, loInc, hi, hiInc)
      case ConstStr =>
        val len = r.readInt()
        if (inRange(r.readBytes(len))) count.toLong else 0L
      case RawStr =>
        val lens = readLens(r, count)
        var n = 0L
        var i = 0
        while (i < count) {
          // compare the value's span in place (no per-value copy)
          if (spanInRange(r.pos, lens(i))) n += 1
          r.pos += lens(i)
          i += 1
        }
        n
      case DictId | RleDict =>
        val ndv = r.readInt()
        val dictLens = readLens(r, ndv)
        // the dictionary is sorted unsigned-lexicographic: the matching
        // codes form one contiguous interval [first, last]
        var first = -1; var last = -2
        var i = 0
        while (i < ndv) {
          if (spanInRange(r.pos, dictLens(i))) { if (first < 0) first = i; last = i }
          r.pos += dictLens(i)
          i += 1
        }
        if (first < 0) return 0L
        val codeW = r.readByte() & 0xff
        if (first == 0 && last == ndv - 1) return count.toLong // zone accept
        if (id == DictId) {
          val codes = BitPack.unpack(r.readBytes(r.remaining), codeW, count)
          var n = 0L; var j = 0
          while (j < count) { if (codes(j) >= first && codes(j) <= last) n += 1; j += 1 }
          n
        } else {
          val runs = r.readInt()
          val lenW = r.readByte() & 0xff
          val runVals = BitPack.unpack(r.readBytes(BitPack.packedByteLen(runs, codeW)), codeW, runs)
          val runLens = BitPack.unpack(r.readBytes(r.remaining), lenW, runs)
          var n = 0L; var j = 0
          while (j < runs) { if (runVals(j) >= first && runVals(j) <= last) n += runLens(j); j += 1 }
          n
        }
      case SharedDictStr | SharedRleDict =>
        val h = readSharedHdr(r)
        // zone reject from the inline bounds: h.lo ≤ every value (truncLo
        // only lowers) and every value ≤ h.hi when present (truncHi rounds
        // up) — both comparisons stay sound under truncation
        if (hi != null) {
          val c = java.util.Arrays.compareUnsigned(hi, h.lo)
          if (c < 0 || (c == 0 && !hiInc)) return 0L
        }
        if (lo != null && h.hi != null && java.util.Arrays.compareUnsigned(lo, h.hi) > 0) return 0L
        val dt = resolveDict(null, h.dictId, id, h.ndv)
        // matching codes form one contiguous interval of the SORTED
        // dictionary, clamped to this block's [minC, maxC]
        var first =
          if (lo == null) h.minC
          else {
            var f = dt.ceilCode(lo)
            if (!loInc && f < dt.ndv && java.util.Arrays.compareUnsigned(dt.values(f), lo) == 0) f += 1
            f
          }
        var last =
          if (hi == null) h.maxC
          else {
            var l = dt.floorCode(hi)
            if (!hiInc && l >= 0 && java.util.Arrays.compareUnsigned(dt.values(l), hi) == 0) l -= 1
            l
          }
        if (first < h.minC) first = h.minC
        if (last > h.maxC) last = h.maxC
        if (first > last) return 0L
        if (first == h.minC && last == h.maxC) return count.toLong // zone accept
        val codes = readSharedCodes(r, id, count, h.minC)
        var n = 0L; var j = 0
        while (j < count) { if (codes(j) >= first && codes(j) <= last) n += 1; j += 1 }
        n
      case FsstId =>
        val vs = decodeStrs(blob)
        var n = 0L; var i = 0
        while (i < vs.length) { if (inRange(vs(i))) n += 1; i += 1 }
        n
      case PrefixStr =>
        // materialize once into the shared view buffer, compare slices
        val view = decodeStrsView(blob)
        var n = 0L; var i = 0
        while (i < view.n) {
          val off = view.offs(i); val len = view.lens(i)
          val okLo = lo == null || {
            val c = java.util.Arrays.compareUnsigned(view.buf, off, off + len, lo, 0, lo.length)
            c > 0 || (loInc && c == 0)
          }
          val okHi = hi == null || {
            val c = java.util.Arrays.compareUnsigned(view.buf, off, off + len, hi, 0, hi.length)
            c < 0 || (hiInc && c == 0)
          }
          if (okLo && okHi) n += 1
          i += 1
        }
        n
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
  }

  /** conservative [min, max] value bounds of a long blob from its HEADER
    * alone (no payload decode except delta): const/FoR/RLE are exact or
    * near-exact, bitpack bounds by width. The zone-map column of the
    * metadata table (Iceberg manifest `lower_bound`/`upper_bound` parity) —
    * sound for pruning: true values always lie within. Returns null for
    * an all-null block. */
  def rangeOfLong(blob0: Array[Byte]): (Long, Long) = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case NullLong =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) null else rangeOfLong(r.readBytes(r.remaining))
      case ConstLong =>
        val v = r.readLong(); (v, v)
      case BitPackId =>
        val width = r.readByte() & 0xff
        (0L, packedHi(0L, width))
      case ForId =>
        val width = r.readByte() & 0xff
        val ref = r.readLong()
        (ref, packedHi(ref, width))
      case RleLong =>
        r.readInt() // run count
        val valW = r.readByte() & 0xff
        r.readByte()
        val ref = r.readLong()
        (ref, packedHi(ref, valW))
      case DeltaId | AlpLong | TzForId =>
        val vs = decodeLongs(blob)
        var mn = vs(0); var mx = vs(0); var i = 1
        while (i < vs.length) { if (vs(i) < mn) mn = vs(i); if (vs(i) > mx) mx = vs(i); i += 1 }
        (mn, mx)
      case other => throw new IllegalArgumentException(s"not a long codec id: $other")
    }
  }

  /** EXACT per-block statistics of a long blob: attained min, attained max,
    * 64-bit-wrapping sum, and non-null count — null for an all-null/empty
    * block. Unlike [[rangeOfLong]] (header-derived REPRESENTABLE bounds —
    * cheap and sound for zone-map pruning, but `hi` need not be attained by
    * any value), these decode the payload once and report attained values:
    * the manifest columns that serve min/max/sum/count aggregates without
    * opening data files (Iceberg-style scan-free aggregation). Paid once at
    * encode time, where the block is hot anyway. */
  final case class BlobStats(min: Long, max: Long, sum: Long, count: Long,
                             sumValid: Boolean = true)

  def statsOfLong(blob0: Array[Byte]): BlobStats = {
    val blob = pageUnwrap(blob0)
    val (vs, nulls) = decodeLongsN(blob)
    var mn = Long.MaxValue; var mx = Long.MinValue; var s = 0L; var c = 0L
    var ok = true
    var i = 0
    while (i < vs.length) {
      if (nulls == null || !nulls(i)) {
        val v = vs(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        val ns = s + v
        // signed-overflow detection (Hacker's Delight 2-13): the sum
        // overflowed iff both operands agree in sign and the result differs.
        // A block of near-2^63 values (e.g. far-future timestamp micros)
        // must yield sumValid=false — "stats unavailable" — never a wrapped
        // number the scan-free aggregate path would serve as truth.
        if (((s ^ ns) & (v ^ ns)) < 0) ok = false
        s = ns; c += 1L
      }
      i += 1
    }
    if (c == 0L) null else BlobStats(mn, mx, s, c, ok)
  }

  /** truncated lower bound: truncation only lowers, so a plain prefix stays
    * a valid lower bound (Iceberg manifest truncate(L, lower_bound)) */
  private def truncLo(v: Array[Byte], trunc: Int): Array[Byte] =
    if (v.length <= trunc) v else java.util.Arrays.copyOf(v, trunc)

  /** truncated upper bound: prefix with the last non-0xff byte incremented
    * (everything extending the original prefix compares below it); null when
    * impossible (all 0xff) = unbounded above */
  private def truncHi(v: Array[Byte], trunc: Int): Array[Byte] = {
    if (v.length <= trunc) return v
    val p = java.util.Arrays.copyOf(v, trunc)
    var i = trunc - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) return null
    val out = java.util.Arrays.copyOf(p, i + 1)
    out(i) = (out(i) + 1).toByte
    out
  }

  /** conservative truncated [lo, hi] byte-string bounds of a string blob —
    * the string-column counterpart of rangeOfLong (Iceberg manifest
    * lower_bound/upper_bound parity). Dict codecs answer from the sorted
    * dictionary header alone (first/last entry — every entry is referenced
    * by construction); const is exact; raw/FSST scan the block's values
    * (metadata-time cost, paid once at encode). hi may be null (unbounded)
    * when upper-truncation is impossible; the pair is null for an all-null
    * block. Sound for pruning: every value lies within [lo, hi]. */
  def rangeOfStr(blob0: Array[Byte], trunc: Int = 16): (Array[Byte], Array[Byte]) = {
    val blob = pageUnwrap(blob0)
    val r = new ByteReader(blob)
    val id = r.readByte() & 0xff
    val count = r.readInt()
    id match {
      case NullStr =>
        r.readBytes((count + 7) >> 3)
        if (r.remaining == 0) null else rangeOfStr(r.readBytes(r.remaining), trunc)
      case ConstStr =>
        val len = r.readInt()
        val v = r.readBytes(len)
        (truncLo(v, trunc), truncHi(v, trunc))
      case DictId | RleDict =>
        val ndv = r.readInt()
        val dictLens = readLens(r, ndv)
        val first = r.readBytes(dictLens(0))
        var i = 1
        while (i < ndv - 1) { r.pos += dictLens(i); i += 1 }
        val last = if (ndv == 1) first else r.readBytes(dictLens(ndv - 1))
        (truncLo(first, trunc), truncHi(last, trunc))
      case SharedDictStr | SharedRleDict =>
        // bounds were computed against the dictionary at encode time and
        // stored inline — header-only, no dictionary resolution. Re-apply
        // the caller's truncation (truncHi of a rounded-up bound only
        // rounds further up, so the result stays sound).
        val h = readSharedHdr(r)
        (truncLo(h.lo, trunc), if (h.hi == null) null else truncHi(h.hi, trunc))
      case RawStr | FsstId | PrefixStr =>
        val vs = decodeStrs(blob)
        var mn = vs(0); var mx = vs(0)
        var i = 1
        while (i < vs.length) {
          if (java.util.Arrays.compareUnsigned(vs(i), mn) < 0) mn = vs(i)
          if (java.util.Arrays.compareUnsigned(vs(i), mx) > 0) mx = vs(i)
          i += 1
        }
        (truncLo(mn, trunc), truncHi(mx, trunc))
      case other => throw new IllegalArgumentException(s"not a string codec id: $other")
    }
  }

  // string helpers (UTF-8 view)
  def encodeStrings(vs: Array[String]): Array[Byte] =
    encodeStrs(vs.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  def decodeStrings(blob: Array[Byte]): Array[String] =
    decodeStrs(blob).map(new String(_, java.nio.charset.StandardCharsets.UTF_8))
}
