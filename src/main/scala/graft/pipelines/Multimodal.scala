package graft.pipelines

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for a training-data pipeline: image/audio/video
  * payloads as opaque BINARY columns with typed metadata, processed per
  * partition in batches (the Scala analogue of `mapInPandas` batch UDFs).
  *
  * Two REAL public-format decoders run in-engine with no dependencies:
  * PPM P6 (netpbm binary RGB — ASCII header + raw pixels) and WAV
  * (RIFF/WAVE, 16-bit PCM — chunked header + little-endian samples). A
  * payload that is neither (e.g. video, which has no dependency-free
  * container) falls back to the deterministic byte-statistics path, the
  * mapPartitions seam where a JNI/ONNX/javacv decoder would slot in.
  */
object Multimodal {

  /** Typed metadata carried beside the opaque payload. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),  // image|audio|video
    StructField("payload", BinaryType, nullable = false),   // opaque encoded bytes
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("format", StringType, nullable = true))), nullable = false)))

  // ---- encoders (deterministic fixture/media construction) -----------------

  /** Binary PPM (P6): ASCII header `P6\n<w> <h>\n255\n` + w*h*3 RGB bytes. */
  def encodePpm(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(rgb.length == width * height * 3, s"want ${width * height * 3} bytes")
    s"P6\n$width $height\n255\n".getBytes("US-ASCII") ++ rgb
  }

  /** Minimal multi-frame video container ("GVID"): 4-byte magic + u8 frame
    * count + u8 width + u8 height, then frameCount raw RGB frames of
    * width·height·3 bytes — the dependency-free stand-in for a real video
    * format, giving the frame-sampling path REAL frames to walk. */
  def encodeGvid(width: Int, height: Int, frames: Seq[Array[Byte]]): Array[Byte] = {
    require(frames.nonEmpty && frames.size <= 255 && width <= 255 && height <= 255,
      "GVID: u8 header fields")
    require(frames.forall(_.length == width * height * 3),
      s"GVID: each frame must be ${width * height * 3} bytes")
    Array[Byte]('G', 'V', 'I', 'D',
      frames.size.toByte, width.toByte, height.toByte) ++ frames.flatten
  }

  /** Minimal canonical WAV: 44-byte RIFF/WAVE header (PCM, mono, 16-bit) +
    * little-endian samples. */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                      // PCM
      .putShort(1)                      // mono
      .putInt(sampleRate)
      .putInt(sampleRate * 2)           // byte rate
      .putShort(2)                      // block align
      .putShort(16)                     // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Build a synthetic media table from `documents`: images are REAL PPM
    * payloads, audio REAL WAV payloads (both deterministic from doc_id via a
    * splitmix-style generator), video stays raw text bytes — so the decode
    * path exercises every branch. */
  def syntheticMedia(docs: DataFrame): DataFrame = {
    val gen = udf { (id: Long, modality: String, text: String) =>
      def mix(x0: Long): Long = {
        var x = x0 + 0x9e3779b97f4a7c15L
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        x ^ (x >>> 31)
      }
      modality match {
        case "image" =>
          val (w, h) = (8, 6)
          val rgb = Array.tabulate(w * h * 3)(i => (mix(id * 1021 + i) & 0xff).toByte)
          encodePpm(w, h, rgb)
        case "audio" =>
          val samples = Array.tabulate(64)(i => (mix(id * 2027 + i) & 0xffff).toShort)
          encodeWavPcm16(16000, samples)
        case _ if id % 2 == 0 =>
          // even video ids: REAL multi-frame GVID (3–5 frames of 4×4 RGB)
          val nF = (3 + (id / 3) % 3).toInt
          val (w, h) = (4, 4)
          val flat = Array.tabulate(nF * w * h * 3)(j =>
            (mix(id * 3031 + j) & 0xff).toByte)
          encodeGvid(w, h, flat.grouped(w * h * 3).toSeq)
        case _ =>
          // odd video ids keep raw bytes — the undecodable-payload branch
          // (the JNI/ONNX seam) stays exercised
          Option(text).getOrElse("").getBytes("UTF-8")
      }
    }
    val modality = when(col("doc_id") % 3 === 0, "image")
      .when(col("doc_id") % 3 === 1, "audio")
      .otherwise("video")
    docs.select(
      col("doc_id").as("media_id"),
      modality.as("modality"),
      gen(col("doc_id"), modality, col("text")).as("payload"),
      struct(
        (col("doc_id") % 640 + 64).cast(IntegerType).as("width"),
        (col("doc_id") % 480 + 48).cast(IntegerType).as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") * 10).as("duration_ms"),
        (when(modality === "image", "ppm")
          .when(modality === "audio", "wav")
          .when(col("doc_id") % 2 === 0, "gvid")
          .otherwise("raw")).as("format")).as("meta"))
  }

  // ---- decoders ------------------------------------------------------------

  /** One decoded row: header facts + a level (luminance / RMS / byte mean)
    * and an 8-dim feature (histogram / frame energies / byte histogram). */
  private final case class Decoded(kind: String,
                                   width: java.lang.Integer,
                                   height: java.lang.Integer,
                                   sampleRate: java.lang.Integer,
                                   nSamples: Long, level: Double,
                                   feature: Array[Float])

  /** PPM P6 parse: ASCII header tokens (w, h, maxval) then raw RGB. Truncated
    * pixel data (e.g. after samplePayload) decodes the pixels present. */
  private def decodePpm(b: Array[Byte]): Option[Decoded] = {
    if (b.length < 2 || b(0) != 'P' || b(1) != '6') return None
    // header tokenizer: whitespace-separated ints, '#' comments to EOL
    var i = 2
    def nextInt(): Int = {
      while (i < b.length && (b(i).toChar.isWhitespace || b(i) == '#')) {
        if (b(i) == '#') while (i < b.length && b(i) != '\n') i += 1
        else i += 1
      }
      var v = 0
      while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
      v
    }
    val w = nextInt(); val h = nextInt(); val maxv = nextInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || i >= b.length) return None
    i += 1 // single whitespace after maxval
    val nPix = math.min((b.length - i) / 3, w * h)
    if (nPix <= 0) return None
    val hist = new Array[Long](8)
    var lumSum = 0.0
    var p = 0
    while (p < nPix) {
      val o = i + p * 3
      val (r, g, bl) = (b(o) & 0xff, b(o + 1) & 0xff, b(o + 2) & 0xff)
      val lum = 0.299 * r + 0.587 * g + 0.114 * bl
      lumSum += lum
      hist((lum / 32.0).toInt.min(7)) += 1
      p += 1
    }
    Some(Decoded("ppm", w, h, null, nPix.toLong, lumSum / nPix,
      hist.map(x => (x.toDouble / nPix).toFloat)))
  }

  /** RIFF/WAVE parse: walk the chunk list for `fmt ` (PCM, 16-bit) and
    * `data`, then 16-bit little-endian samples. A truncated data chunk
    * decodes the samples present. */
  private def decodeWav(b: Array[Byte]): Option[Decoded] = {
    def ascii(o: Int, s: String): Boolean =
      o + s.length <= b.length && s.indices.forall(j => b(o + j) == s(j).toByte)
    if (!ascii(0, "RIFF") || !ascii(8, "WAVE")) return None
    def le32(o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    def le16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    var i = 12
    var sampleRate = 0; var bits = 0; var fmt = 0
    var dataOff = -1; var dataLen = 0
    while (i >= 0 && i + 8 <= b.length && (dataOff < 0 || sampleRate == 0)) {
      val sz = le32(i + 4)
      if (ascii(i, "fmt ") && i + 24 <= b.length) {
        fmt = le16(i + 8); sampleRate = le32(i + 12); bits = le16(i + 22)
      } else if (ascii(i, "data")) {
        dataOff = i + 8; dataLen = math.min(math.max(sz, 0), b.length - dataOff)
      }
      // a malformed/truncated size field must stop the walk, not overflow
      // the cursor into a negative index
      i = if (sz < 0 || sz > b.length) b.length
          else i + 8 + sz + (sz & 1) // chunks are word-aligned
    }
    if (fmt != 1 || bits != 16 || sampleRate <= 0 || dataOff < 0) return None
    val n = dataLen / 2
    if (n <= 0) return None
    val frames = new Array[Double](8)
    val frameLen = math.max(1, n / 8)
    var sumSq = 0.0
    var s = 0
    while (s < n) {
      val v = le16(dataOff + s * 2).toShort.toDouble / 32768.0
      sumSq += v * v
      frames(math.min(s / frameLen, 7)) += v * v
      s += 1
    }
    Some(Decoded("wav", null, null, sampleRate, n.toLong, math.sqrt(sumSq / n),
      frames.map(f => math.sqrt(f / frameLen).toFloat)))
  }

  /** GVID parse with FRAME SAMPLING: header (magic, frame count, w, h),
    * then every SECOND frame's luminance mean — the decode-a-subset shape
    * of real video feature extraction (a truncated payload decodes the
    * frames present). level = mean of the sampled frames' means; feature =
    * the first 8 sampled means scaled to [0,1]. */
  private def decodeGvid(b: Array[Byte]): Option[Decoded] = {
    if (b.length < 7 || b(0) != 'G' || b(1) != 'V' || b(2) != 'I' || b(3) != 'D')
      return None
    val nF = b(4) & 0xff; val w = b(5) & 0xff; val h = b(6) & 0xff
    if (nF <= 0 || w <= 0 || h <= 0) return None
    val frameBytes = w * h * 3
    val avail = math.min(nF, (b.length - 7) / frameBytes)
    if (avail <= 0) return None
    val means = (0 until avail by 2).map { f =>
      val off = 7 + f * frameBytes
      var s = 0.0
      var p = 0
      while (p < w * h) {
        val o = off + p * 3
        s += 0.299 * (b(o) & 0xff) + 0.587 * (b(o + 1) & 0xff) +
          0.114 * (b(o + 2) & 0xff)
        p += 1
      }
      s / (w * h)
    }
    val level = means.sum / means.length
    val feature = Array.tabulate(8)(i =>
      if (i < means.length) (means(i) / 255.0).toFloat else 0f)
    Some(Decoded("gvid", w, h, null, means.length.toLong, level, feature))
  }

  /** Fallback for undecodable payloads: deterministic byte statistics — the
    * seam where a real video/JPEG/FLAC decoder (JNI/ONNX/javacv, none of
    * which exist in this container) would slot in. */
  private def decodeRaw(payload: Array[Byte]): Decoded = {
    val n = payload.length.toLong
    var sum = 0L
    val hist = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      sum += b
      hist(b >>> 5) += 1
      i += 1
    }
    val mean = if (n == 0) 0.0 else sum.toDouble / n
    Decoded("raw", null, null, null, n, mean,
      hist.map(h => if (n == 0) 0f else (h.toDouble / n).toFloat))
  }

  /** Sniff-and-decode: magic bytes pick the decoder, anything else is raw. */
  private def decode(payload: Array[Byte]): Decoded =
    decodePpm(payload).orElse(decodeWav(payload)).orElse(decodeGvid(payload))
      .getOrElse(decodeRaw(payload))

  private val featSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("byte_mean", DoubleType, nullable = false),
    StructField("format_detected", StringType, nullable = false),
    StructField("px_width", IntegerType, nullable = true),
    StructField("px_height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", LongType, nullable = false),
    StructField("level", DoubleType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** Batched per-partition feature extraction — the mapPartitions seam.
    * One decoder init per partition (not per row), rows streamed through it:
    * exactly the batch shape a Pandas-UDF/ONNX runtime wants. `n_bytes` /
    * `byte_mean` stay payload-level (cheap, format-independent); the decoded
    * fields come from the real PPM/WAV parse when the magic bytes match. */
  def extractFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select("media_id", "modality", "payload").rdd.mapPartitions { it =>
      it.map { r =>
        val payload = r.getAs[Array[Byte]]("payload")
        val n = payload.length.toLong
        var sum = 0L
        var i = 0
        while (i < payload.length) { sum += payload(i) & 0xff; i += 1 }
        val mean = if (n == 0) 0.0 else sum.toDouble / n
        val d = decode(payload)
        Row(r.getLong(0), r.getString(1), n, mean, d.kind,
          d.width, d.height, d.sampleRate, d.nSamples, d.level, d.feature.toSeq)
      }
    }
    spark.createDataFrame(rdd, featSchema)
  }

  /** Payload truncation (the transport-level size cap): pure column
    * expression, codegen'd. Every decoder tolerates the cut — PPM/GVID
    * decode the pixels/frames present. The REAL media transforms live in
    * [[resizePpm]] (image resize) and the GVID stride-2 frame sampling
    * inside the decoder. */
  def samplePayload(media: DataFrame, maxBytes: Int): DataFrame =
    media.withColumn("payload",
      expr(s"substring(payload, 1, $maxBytes)").cast(BinaryType))

  /** REAL image resize: nearest-neighbor downsample of PPM payloads by an
    * integer `factor` (output pixel (x, y) = source pixel (x·f, y·f)),
    * re-encoded as a valid PPM — payload in, payload out, the batch
    * transform shape of a real media pipeline. Non-PPM payloads pass
    * through untouched. Runs per partition like [[extractFeatures]]. */
  def resizePpm(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be >= 1")
    val spark = media.sparkSession
    val schema = media.schema
    val rdd = media.rdd.mapPartitions { it =>
      val pIdx = schema.fieldIndex("payload")
      it.map { r =>
        val b = r.getAs[Array[Byte]](pIdx)
        val out =
          if (b.length < 2 || b(0) != 'P' || b(1) != '6') b
          else {
            var i = 2
            def nextInt(): Int = {
              while (i < b.length && (b(i).toChar.isWhitespace || b(i) == '#')) {
                if (b(i) == '#') while (i < b.length && b(i) != '\n') i += 1
                else i += 1
              }
              var v = 0
              while (i < b.length && b(i) >= '0' && b(i) <= '9') { v = v * 10 + (b(i) - '0'); i += 1 }
              v
            }
            val w = nextInt(); val h = nextInt(); val maxv = nextInt()
            i += 1
            val (w2, h2) = (w / factor, h / factor)
            if (w <= 0 || h <= 0 || maxv <= 0 || w2 <= 0 || h2 <= 0 ||
                i + w * h * 3 > b.length) b
            else {
              val px = Array.ofDim[Byte](w2 * h2 * 3)
              var y = 0
              while (y < h2) {
                var x = 0
                while (x < w2) {
                  val src = i + ((y * factor) * w + x * factor) * 3
                  val dst = (y * w2 + x) * 3
                  px(dst) = b(src); px(dst + 1) = b(src + 1); px(dst + 2) = b(src + 2)
                  x += 1
                }
                y += 1
              }
              encodePpm(w2, h2, px)
            }
          }
        Row.fromSeq(r.toSeq.updated(pIdx, out))
      }
    }
    spark.createDataFrame(rdd, schema)
  }
}
