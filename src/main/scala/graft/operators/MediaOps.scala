package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftshim.Bridge.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Multimodal column plumbing: image/audio/video as opaque BinaryType
  * payloads with typed metadata, plus decode / resize / resample /
  * feature-extraction / frame-sampling operators.
  *
  * REAL codecs (pure Scala over published file formats): BMP and P6 PPM
  * images (Bmp.scala — actual pixel decode/encode/resize) and RIFF/WAVE
  * PCM-16 audio (Wav.scala — actual sample decode/encode/resample).
  *
  * STUBS (this container ships no codec libraries for compressed formats):
  * the fake GIMG image container and GVID video frame extraction decode via
  * the marked `decodeStub` — a deterministic hash of the seed. Swapping in
  * a real codec means replacing only the stub internals; every signature,
  * schema and plan shape stays.
  *
  * Fake container layout (little-endian):
  *   image: 'G''I''M''G' w:int32 h:int32 channels:uint8 seed:int64
  *   video: 'G''V''I''D' frames:int32 w:int32 h:int32 seed:int64
  */
object MediaOps {

  final val ImageMagic = 0x474d4947 // "GIMG" LE
  final val VideoMagic = 0x44495647 // "GVID" LE

  // ---- deterministic fake payload generators (test/bench input) ----

  def fakeImage(seed: Long, w: Int, h: Int, channels: Int = 3): Array[Byte] = {
    val out = new graft.core.ByteWriter(21)
    out.writeInt(ImageMagic); out.writeInt(w); out.writeInt(h)
    out.writeByte(channels); out.writeLong(seed)
    out.toArray
  }

  def fakeVideo(seed: Long, frames: Int, w: Int, h: Int): Array[Byte] = {
    val out = new graft.core.ByteWriter(24)
    out.writeInt(VideoMagic); out.writeInt(frames); out.writeInt(w); out.writeInt(h)
    out.writeLong(seed)
    out.toArray
  }

  // ---- header parsing (REAL: this is the typed-metadata layer) ----

  final case class ImageMeta(valid: Boolean, width: Int, height: Int, channels: Int, seed: Long)

  /** real-codec dispatch: BMP / P6 PPM / GIF / PNG → (w, h, top-down RGB);
    * null for formats with no codec here (they go through the stub) */
  def realImage(payload: Array[Byte]): (Int, Int, Array[Byte]) =
    if (Bmp.isBmp(payload)) Bmp.decode(payload)
    else if (Bmp.isPpm(payload)) Bmp.decodePpm(payload)
    else if (Gif.isGif(payload)) Gif.decode(payload)
    else if (Png.isPng(payload)) Png.decode(payload)
    else null

  def parseImage(payload: Array[Byte]): ImageMeta = {
    // a corrupt real-format container reports valid=false (meta is a
    // classifier); decodePixels stays loud — same split as VideoMetaExpr
    val real = try realImage(payload) catch {
      case _: IllegalArgumentException | _: IndexOutOfBoundsException => null
    }
    if (real != null) {
      // REAL formats: dimensions read from the actual container header
      return ImageMeta(valid = true, real._1, real._2, channels = 3, seed = 0L)
    }
    if (payload == null || payload.length < 21) return ImageMeta(false, 0, 0, 0, 0)
    val r = new graft.core.ByteReader(payload)
    if (r.readInt() != ImageMagic) return ImageMeta(false, 0, 0, 0, 0)
    ImageMeta(valid = true, r.readInt(), r.readInt(), r.readByte() & 0xff, r.readLong())
  }

  /** decoded top-down row-major RGB/interleaved bytes of an image payload:
    * REAL pixel decode for BMP payloads (Bmp.decode); deterministic stub
    * bytes for the fake GIMG container (no codec libs for other formats). */
  def decodePixels(payload: Array[Byte]): Array[Byte] = {
    val real = realImage(payload)
    if (real != null) return real._3
    val m = parseImage(payload)
    require(m.valid, "not a decodable image payload")
    val n = m.width * m.height * m.channels
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = decodeStub(m, i.toLong); i += 1 }
    out
  }

  /** STUB pixel decode: pixel(i) = mix(seed, i). A real implementation
    * replaces exactly this function with an image-library call. */
  private def decodeStub(meta: ImageMeta, i: Long): Byte =
    (graft.core.Bits.mix(meta.seed ^ i) & 0xff).toByte

  // ---- Catalyst expressions (schema-typed operators over the payload) ----

  /** payload → struct(valid, width, height, channels) */
  case class ImageMetaExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("valid", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false)))
    override def prettyName: String = "image_meta"
    override def nullSafeEval(input: Any): Any = {
      val m = parseImage(input.asInstanceOf[Array[Byte]])
      org.apache.spark.sql.catalyst.InternalRow(m.valid, m.width, m.height, m.channels)
    }
    override protected def withNewChildInternal(c: Expression): ImageMetaExpr = copy(child = c)
  }

  /** payload → payload with new dimensions. REAL nearest-neighbor resample
    * for BMP (decode → sample → re-encode); STUB re-seed for the fake GIMG
    * container (header math real). */
  case class ResizeExpr(child: Expression, newW: Int, newH: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "image_resize"
    override def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      val real = realImage(payload)
      if (real != null) {
        val (w, h, rgb) = real
        val resized = Bmp.resizeRgb(w, h, rgb, newW, newH)
        // re-encode in the source container format (nearest-neighbor only
        // SAMPLES source pixels, so a GIF's ≤256-color invariant holds)
        return if (Bmp.isPpm(payload)) Bmp.encodePpm(newW, newH, resized)
               else if (Gif.isGif(payload)) Gif.encode(newW, newH, resized)
               else if (Png.isPng(payload)) Png.encode(newW, newH, resized)
               else Bmp.encode(newW, newH, resized)
      }
      val m = parseImage(payload)
      require(m.valid, "not a decodable image payload")
      // STUB: re-seed deterministically from (seed, target dims); a real
      // implementation would resample pixels here
      fakeImage(graft.core.Bits.mix(m.seed ^ (newW.toLong << 32) ^ newH), newW, newH, m.channels)
    }
    override protected def withNewChildInternal(c: Expression): ResizeExpr = copy(child = c)
  }

  /** payload → decoded pixel bytes (REAL for BMP, stub for GIMG) */
  case class ImagePixelsExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "image_pixels"
    override def nullSafeEval(input: Any): Any = decodePixels(input.asInstanceOf[Array[Byte]])
    override protected def withNewChildInternal(c: Expression): ImagePixelsExpr = copy(child = c)
  }

  /** payload → sum of unsigned decoded pixel bytes (cheap whole-image
    * content check, aggregable; REAL pixels for BMP) */
  case class PixelChecksumExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "pixel_checksum"
    override def nullSafeEval(input: Any): Any = {
      val px = decodePixels(input.asInstanceOf[Array[Byte]])
      var s = 0L
      var i = 0
      while (i < px.length) { s += (px(i) & 0xff); i += 1 }
      s
    }
    override protected def withNewChildInternal(c: Expression): PixelChecksumExpr = copy(child = c)
  }

  /** payload → float[dim] feature vector (STUB "vision encoder": seeded hash
    * projection; deterministic, unit-normalized — the shape a real encoder
    * produces) */
  case class ImageFeatureExpr(child: Expression, dim: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(FloatType, containsNull = false)
    override def prettyName: String = "image_feature"
    override def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      val v = new Array[Float](dim)
      val real = realImage(payload)
      if (real != null) {
        // REAL pixels: dim-bucket mean pooling over the decoded bytes,
        // centered to [-1, 1] — the shape (deterministic, content-derived)
        // a real vision encoder produces
        val px = real._3
        val counts = new Array[Int](dim)
        var j = 0
        while (j < px.length) {
          val b = (j.toLong * dim / px.length).toInt
          v(b) += (px(j) & 0xff) / 128.0f - 1.0f
          counts(b) += 1
          j += 1
        }
        var i = 0
        while (i < dim) { if (counts(i) > 0) v(i) /= counts(i); i += 1 }
      } else {
        val m = parseImage(payload)
        var i = 0
        while (i < dim) { v(i) = decodeStub(m, i.toLong) / 128.0f; i += 1 }
      }
      var norm = 0.0
      var i = 0
      while (i < dim) { norm += v(i) * v(i); i += 1 }
      val inv = if (norm == 0) 0f else (1.0 / math.sqrt(norm)).toFloat
      i = 0
      while (i < dim) { v(i) *= inv; i += 1 }
      new GenericArrayData(v.map(java.lang.Float.valueOf))
    }
    override protected def withNewChildInternal(c: Expression): ImageFeatureExpr = copy(child = c)
  }

  /** video payload → array of frame image payloads, every `everyN`-th
    * frame. REAL for uncompressed-DIB AVI (Avi.decode — every sampled
    * frame re-encodes as a real BMP, itself decodable by the full image
    * path); STUB for the fake GVID container (no compressed-codec libs). */
  case class FrameSampleExpr(child: Expression, everyN: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
    override def prettyName: String = "frame_sample"
    override def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      if (Avi.isAvi(payload)) {
        val (w, h, _, frames) = Avi.decode(payload)
        val picked = (0 until frames.length by everyN).map { f =>
          Bmp.encode(w, h, frames(f)): Any
        }
        return new GenericArrayData(picked.toArray)
      }
      if (Gif.isGif(payload)) {
        // multi-image GIFs are a video-like container too: sampled frames
        // re-encode as real BMPs and flow through the real image path
        val (w, h, frames) = Gif.decodeFrames(payload)
        val picked = (0 until frames.length by everyN).map { f =>
          Bmp.encode(w, h, frames(f)): Any
        }
        return new GenericArrayData(picked.toArray)
      }
      val r = new graft.core.ByteReader(payload)
      require(r.readInt() == VideoMagic, "not a GVID/AVI payload")
      val frames = r.readInt(); val w = r.readInt(); val h = r.readInt()
      val seed = r.readLong()
      val picked = (0 until frames by everyN).map { f =>
        fakeImage(graft.core.Bits.mix(seed ^ f.toLong), w, h): Any
      }
      new GenericArrayData(picked.toArray)
    }
    override protected def withNewChildInternal(c: Expression): FrameSampleExpr = copy(child = c)
  }

  /** video payload → struct(valid, width, height, n_frames); REAL container
    * parse for AVI, header parse for the GVID stub container */
  case class VideoMetaExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("valid", BooleanType, nullable = false),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("n_frames", IntegerType, nullable = false)))
    override def prettyName: String = "video_meta"
    override def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      if (Avi.isAvi(payload)) {
        // header-only walk (no pixel materialization); malformed payloads
        // (compressed codec, truncated, no vids stream) report valid=false
        // instead of failing the whole query (r4 ADVICE)
        try {
          val (w, h, _, nFrames) = Avi.meta(payload)
          org.apache.spark.sql.catalyst.InternalRow(true, w, h, nFrames)
        } catch { case _: Exception =>
          org.apache.spark.sql.catalyst.InternalRow(false, 0, 0, 0)
        }
      } else if (Gif.isGif(payload)) {
        // multi-image GIFs are video-like; header-only frame count
        try {
          val (w, h, nFrames) = Gif.countFrames(payload)
          org.apache.spark.sql.catalyst.InternalRow(true, w, h, nFrames)
        } catch { case _: Exception =>
          org.apache.spark.sql.catalyst.InternalRow(false, 0, 0, 0)
        }
      } else if (payload != null && payload.length >= 24) {
        val r = new graft.core.ByteReader(payload)
        if (r.readInt() != VideoMagic) org.apache.spark.sql.catalyst.InternalRow(false, 0, 0, 0)
        else {
          val frames = r.readInt(); val w = r.readInt(); val h = r.readInt()
          org.apache.spark.sql.catalyst.InternalRow(true, w, h, frames)
        }
      } else org.apache.spark.sql.catalyst.InternalRow(false, 0, 0, 0)
    }
    override protected def withNewChildInternal(c: Expression): VideoMetaExpr = copy(child = c)
  }

  // ---- audio (REAL codec: pure-Scala RIFF/WAVE PCM-16, Wav.scala) ----

  /** payload → struct(valid, sample_rate, channels, n_samples) */
  case class AudioMetaExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("valid", BooleanType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false)))
    override def prettyName: String = "audio_meta"
    override def nullSafeEval(input: Any): Any = {
      val payload = input.asInstanceOf[Array[Byte]]
      if (!Wav.isWav(payload))
        org.apache.spark.sql.catalyst.InternalRow(false, 0, 0, 0)
      else {
        val (rate, ch, samples) = Wav.decode(payload)
        org.apache.spark.sql.catalyst.InternalRow(true, rate, ch, samples.length)
      }
    }
    override protected def withNewChildInternal(c: Expression): AudioMetaExpr = copy(child = c)
  }

  /** payload → sum of decoded PCM sample values (whole-clip content check,
    * aggregable — the audio analog of pixel_checksum) */
  case class SampleChecksumExpr(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "sample_checksum"
    override def nullSafeEval(input: Any): Any = {
      val (_, _, samples) = Wav.decode(input.asInstanceOf[Array[Byte]])
      var s = 0L
      var i = 0
      while (i < samples.length) { s += samples(i); i += 1 }
      s
    }
    override protected def withNewChildInternal(c: Expression): SampleChecksumExpr = copy(child = c)
  }

  /** payload → WAV re-encoded at newRate (REAL nearest-frame resample) */
  case class AudioResampleExpr(child: Expression, newRate: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "audio_resample"
    override def nullSafeEval(input: Any): Any = {
      val (rate, ch, samples) = Wav.decode(input.asInstanceOf[Array[Byte]])
      Wav.encode(newRate, ch, Wav.resample(samples, ch, rate, newRate))
    }
    override protected def withNewChildInternal(c: Expression): AudioResampleExpr = copy(child = c)
  }

  // ---- Column API ----
  def audio_meta(c: Column): Column = toCol(AudioMetaExpr(toExpr(c)))
  def sample_checksum(c: Column): Column = toCol(SampleChecksumExpr(toExpr(c)))
  def audio_resample(c: Column, rate: Int): Column = toCol(AudioResampleExpr(toExpr(c), rate))
  def image_meta(c: Column): Column = toCol(ImageMetaExpr(toExpr(c)))
  def image_pixels(c: Column): Column = toCol(ImagePixelsExpr(toExpr(c)))
  def pixel_checksum(c: Column): Column = toCol(PixelChecksumExpr(toExpr(c)))
  def image_resize(c: Column, w: Int, h: Int): Column = toCol(ResizeExpr(toExpr(c), w, h))
  def image_feature(c: Column, dim: Int): Column = toCol(ImageFeatureExpr(toExpr(c), dim))
  def frame_sample(c: Column, everyN: Int): Column = toCol(FrameSampleExpr(toExpr(c), everyN))
  def video_meta(c: Column): Column = toCol(VideoMetaExpr(toExpr(c)))

  /** batch-shaped processing (the mapInPandas analog in Scala): the function
    * sees fixed-size batches of payloads, never single rows and never a whole
    * partition — the contract a model-inference UDF needs (pad/stack a tensor
    * batch). Partitioning: spread by doc id hash so large blobs distribute. */
  def processBatches[T: org.apache.spark.sql.Encoder](
      df: DataFrame, idCol: String, payloadCol: String, batchSize: Int, partitions: Int)(
      fn: Seq[(Long, Array[Byte])] => Iterator[T]): Dataset[T] = {
    df.select(col(idCol).cast("long"), col(payloadCol))
      .repartition(partitions, pmod(xxhash64(col(idCol)), lit(partitions)))
      .mapPartitions { it =>
        it.map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
          .grouped(batchSize)
          .flatMap(batch => fn(batch))
      }
  }

  /** deterministic RGB pixel field (seeded hash per byte) for BMP payloads */
  def seededRgb(seed: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < out.length) { out(i) = (graft.core.Bits.mix(seed ^ i) & 0xff).toByte; i += 1 }
    out
  }

  /** deterministic PCM-16 sample field (seeded hash per sample) for WAV
    * payloads: sample(i) = low 16 bits of mix(seed ^ i), signed */
  def seededPcm(seed: Long, n: Int): Array[Short] = {
    val out = new Array[Short](n)
    var i = 0
    while (i < n) { out(i) = (graft.core.Bits.mix(seed ^ i) & 0xffff).toShort; i += 1 }
    out
  }

  /** deterministic synthetic audio table: REAL WAV clips (PCM-16, decodable
    * by the pure-Scala Wav codec), varying rate/channels/length */
  def fakeAudioTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0xD1CE)
      val channels = 1 + (i % 2).toInt
      val rate = if (i % 3 == 0) 16000 else 8000
      val frames = 400 + (i % 100).toInt
      (i, "audio/wav", Wav.encode(rate, channels, seededPcm(seed, frames * channels)))
    }.toDF("doc_id", "media_type", "payload")
  }

  /** deterministic synthetic video table: REAL uncompressed-DIB AVI clips
    * (every frame a seeded RGB field, fully decodable by Avi.decode) */
  def fakeAviTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0xA71L)
      val w = 24; val h = 18
      val nFrames = 4 + (i % 4).toInt
      val frames = (0 until nFrames).map(f => seededRgb(graft.core.Bits.mix(seed ^ f), w, h))
      (i, "video/avi", Avi.encode(w, h, fps = 10, frames))
    }.toDF("doc_id", "media_type", "payload")
  }

  /** deterministic paletted RGB field (≤256 distinct colors — GIF's hard
    * limit): pixel i gets palette slot mix(seed^i) mod 29, each slot a
    * fixed affine color. Trivially re-derivable in the DuckDB/python
    * oracle (splitmix64 + modular arithmetic, like seededRgb). */
  def seededPalettedRgb(seed: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val c = (((graft.core.Bits.mix(seed ^ i) >>> 7) % 29 + 29) % 29).toInt
      out(i * 3) = ((c * 37 + 11) & 0xff).toByte
      out(i * 3 + 1) = ((c * 73 + 5) & 0xff).toByte
      out(i * 3 + 2) = ((c * 151 + 3) & 0xff).toByte
      i += 1
    }
    out
  }

  /** deterministic synthetic GIF table: REAL GIF87a containers (paletted,
    * LZW-compressed, fully decodable by the pure-Scala Gif codec) */
  def fakeGifTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0x61F)
      val w = 20 + (i % 30).toInt
      val h = 16 + (i % 20).toInt
      (i, "image/gif", Gif.encode(w, h, seededPalettedRgb(seed, w, h)))
    }.toDF("doc_id", "media_type", "payload")
  }

  /** deterministic synthetic PNG table: REAL color-type-2 PNGs (zlib-
    * compressed, filtered scanlines via the writer) over full-range seeded
    * RGB — oracle constants re-derivable from seededRgb alone, independent
    * of the compression */
  def fakePngTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0x9E6)
      val w = 24 + (i % 20).toInt
      val h = 18 + (i % 14).toInt
      (i, "image/png", Png.encode(w, h, seededRgb(seed, w, h)))
    }.toDF("doc_id", "media_type", "payload")
  }

  /** deterministic synthetic multi-image GIF table: REAL GIF87a containers
    * with 2..5 full-canvas frames each, every frame its own local color
    * table — the GIF analog of fakeAviTable */
  def fakeAnimatedGifTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0xA61F)
      val w = 16 + (i % 12).toInt
      val h = 12 + (i % 10).toInt
      val nf = 2 + (i % 4).toInt
      val frames = (0 until nf).map(f => seededPalettedRgb(graft.core.Bits.mix(seed ^ f), w, h))
      (i, "video/gif", Gif.encodeAnimated(w, h, frames))
    }.toDF("doc_id", "media_type", "payload")
  }

  /** deterministic synthetic media table: fake GIMG images, REAL BMP images
    * (every 4th row — fully decodable by the pure-Scala Bmp codec), videos */
  def fakeMediaTable(spark: SparkSession, n: Long, partitions: Int = 8): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map { i =>
      val seed = graft.core.Bits.mix(i ^ 0xBEEF)
      val w = 32 + (i % 64).toInt
      val h = 24 + (i % 48).toInt
      if (i % 4 == 3)
        (i, "video/fake", fakeVideo(seed, frames = 16 + (i % 16).toInt, 64, 48))
      else if (i % 4 == 1)
        (i, "image/bmp", Bmp.encode(w, h, seededRgb(seed, w, h)))
      else
        (i, "image/fake", fakeImage(seed, w, h))
    }.toDF("doc_id", "media_type", "payload")
  }
}
