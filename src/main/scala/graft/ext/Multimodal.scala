package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column handling: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extraction runs partition-parallel over Arrow-sized batches
  * via mapPartitions (the JVM analogue of mapInPandas — same batch
  * shape, same schema contract).
  *
  * IMAGE decode is REAL: `javax.imageio` ships with the JDK (PNG,
  * JPEG, BMP, GIF, WBMP readers — zero external jars), so
  * [[decodeImage]]/[[imageInfo]]/[[resizeBytes]] do actual pixel work.
  * Payloads no JDK reader recognizes (audio, video, arbitrary bytes)
  * fall back to the deterministic stub path (`decodeStub`/
  * `resizeStub`), keeping the pipeline total over any input; swapping
  * the fallback for a JNI/ONNX codec changes one function.
  *
  * Scale notes: binary payloads make rows wide, so the pipeline keeps
  * them in their own column (never inside structs that defeat column
  * pruning), samples frames BEFORE shuffling, repartitions by
  * byte-budget not row count, and [[imageInfo]] reads ONLY the header
  * (no full pixel decode) for metadata probes.
  */
object Multimodal {

  val metadataSchema: StructType = StructType(Seq(
    StructField("media_type", StringType),
    StructField("byte_size", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a string column as a multimodal binary payload + metadata
    * (used by tests to fabricate media rows from `documents`). */
  def asBinaryPayload(df: DataFrame, contentCol: String,
      mediaType: String = "application/octet-stream"): DataFrame =
    df.withColumn("content", encode(col(contentCol), "UTF-8"))
      .withColumn("media_meta", struct(
        lit(mediaType).as("media_type"),
        octet_length(col("content")).cast("long").as("byte_size"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms"))
        .cast(metadataSchema)) // align nullability with the contract

  val featureDim = 8

  final case class ImageInfo(format: String, width: Int, height: Int,
      channels: Int)

  /** Header-only image probe (no pixel decode — the metadata path must
    * stay cheap at 100 TB): format name, dimensions, and band count
    * via the matching JDK ImageReader. None for anything the JDK
    * cannot read. */
  def imageInfo(bytes: Array[Byte]): Option[ImageInfo] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try {
            r.setInput(iis, true, true)
            val ch = {
              val it = r.getImageTypes(0)
              if (it.hasNext) it.next().getNumBands else 3
            }
            Some(ImageInfo(r.getFormatName.toLowerCase(java.util.Locale.ROOT),
              r.getWidth(0), r.getHeight(0), ch))
          } finally r.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  final case class AudioInfo(format: String, channels: Int,
      sampleRateHz: Int, durationMs: Long)

  /** Header-only audio probe via the JDK's `javax.sound.sampled`
    * (WAV/AIFF/AU parse with zero external codecs — the audio twin of
    * [[imageInfo]]): container format, channel count, sample rate,
    * and REAL duration from the frame count. None for payloads no JDK
    * reader recognizes. */
  def audioInfo(bytes: Array[Byte]): Option[AudioInfo] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
        new java.io.ByteArrayInputStream(bytes))
      val fmt = aff.getFormat
      val frames = aff.getFrameLength
      val dur =
        if (frames > 0 && fmt.getFrameRate > 0)
          math.round(frames * 1000.0 / fmt.getFrameRate)
        else -1L
      Some(AudioInfo(
        aff.getType.getExtension.toLowerCase(java.util.Locale.ROOT),
        fmt.getChannels, math.round(fmt.getSampleRate), dur))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  final case class VideoInfo(brand: String, durationMs: Long,
      width: Int, height: Int)

  /** Header-only MP4/ISO-BMFF probe — hand-parsed from the public
    * ISO 14496-12 box structure (`ftyp` major brand, `moov/mvhd`
    * timescale+duration, `moov/trak/tkhd` presentation size), since
    * the JDK ships no video stack. No sample decode, no codec: the
    * metadata path stays cheap and dependency-free; actual frame
    * decode remains the documented stub — permanently adjudicated
    * environmental in ROUND8_NOTES.md (classpath + JDK + binary probe:
    * no video decoder exists in this container, and zero egress means
    * none can be added). None for payloads that are not ISO-BMFF. */
  def videoInfo(bytes: Array[Byte]): Option[VideoInfo] = {
    if (bytes == null || bytes.length < 16) return None
    def u32(o: Int): Long =
      if (o + 4 > bytes.length) -1L
      else ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    def tag(o: Int): String =
      if (o + 4 > bytes.length) ""
      else new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // top level must start with an ftyp box
    if (tag(4) != "ftyp") return None
    val brand = tag(8)
    var durationMs = -1L
    var w = 0; var h = 0
    // walk boxes at one level, recursing only into moov/trak
    def walk(start: Int, end: Int, depth: Int): Unit = {
      var o = start
      while (o + 8 <= end && depth < 4) {
        val sz = u32(o)
        val t = tag(o + 4)
        if (sz < 8 || o + sz > end) return // malformed/64-bit size: stop
        val body = o + 8
        t match {
          case "moov" => walk(body, o + sz.toInt, depth + 1)
          case "trak" => walk(body, o + sz.toInt, depth + 1)
          case "mvhd" if body < bytes.length =>
            val ver = bytes(body) & 0xFF
            // v0: 32-bit ctime/mtime/timescale/duration; v1: 64-bit times
            val (ts, dur) =
              if (ver == 0) (u32(body + 12), u32(body + 16))
              else (u32(body + 20),
                (u32(body + 24) << 32) | u32(body + 28))
            // all-ones duration is the spec's "unknown" sentinel —
            // 32-bit all-ones for v0, 64-bit all-ones (= -1 here) for
            // v1, where 0xFFFFFFFF is a legitimate long duration; a
            // negative dur also covers u32's -1 truncated-read signal
            val unknown =
              if (ver == 0) dur == 0xFFFFFFFFL || dur < 0
              else dur < 0
            if (ts > 0 && !unknown)
              durationMs = math.round(dur * 1000.0 / ts)
          case "tkhd" if w == 0 && body < bytes.length =>
            val ver = bytes(body) & 0xFF
            // width/height: last 8 bytes of the box, 16.16 fixed point
            val wh = o + sz.toInt - 8
            if (ver <= 1 && wh > body) {
              w = (u32(wh) >> 16).toInt
              h = (u32(wh + 4) >> 16).toInt
            }
          case _ =>
        }
        o += sz.toInt
      }
    }
    // malformed containers must yield None, never a task-killing
    // exception — the probe is documented total over any input
    try {
      walk(0, bytes.length, 0)
      if (durationMs < 0 && w == 0) None
      else Some(VideoInfo(brand.trim, durationMs, w, h))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Full sample decode via the JDK's sound stack: any container
    * `AudioSystem` reads (WAV/AIFF/AU) converts to signed 16-bit PCM
    * and normalizes to [-1, 1) floats (interleaved channels). None
    * for unsupported payloads.
    *
    * COMPRESSED CONTAINERS (MP3/OGG/FLAC): adjudicated environmental,
    * same protocol as video decode (ROUND8_NOTES) — probe committed
    * in ROUND16_NOTES §audio: this JDK's `AudioFileReader` SPI set is
    * exactly {Wave, WaveFloat, WaveExtensible, Aiff, Au, SoftMidi},
    * all four compressed-magic probes raise
    * UnsupportedAudioFileException, no codec SPI exists on the Spark
    * classpath, and zero egress forbids adding one. The None fallback
    * IS the documented behavior for such payloads: callers route them
    * to the header-metadata path ([[probeAudio]] on what it can; the
    * fingerprint pipeline skips undecodable rows loudly countable via
    * `decoded IS NULL`). On a real cluster, register a codec
    * `javax.sound.sampled.spi.AudioFileReader` on the executor
    * classpath and this code path lights up unchanged. */
  def decodeAudio(bytes: Array[Byte])
      : Option[(javax.sound.sampled.AudioFormat, Array[Float])] = {
    if (bytes == null || bytes.isEmpty) return None
    try {
      import javax.sound.sampled._
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val src = in.getFormat
      val target = new AudioFormat(src.getSampleRate, 16,
        src.getChannels, true, false)
      val pcm = AudioSystem.getAudioInputStream(target, in)
      val raw = pcm.readAllBytes()
      val n = raw.length / 2
      val out = new Array[Float](n)
      var i = 0
      while (i < n) {
        val lo = raw(2 * i) & 0xFF
        val hi = raw(2 * i + 1).toInt
        out(i) = ((hi << 8) | lo) / 32768.0f
        i += 1
      }
      Some((target, out))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic 8-dim feature vector from ACTUAL samples: RMS,
    * mean |x|, zero-crossing rate, peak, log-duration, channel and
    * rate normalizers, DC offset — the audio twin of
    * [[imageFeatures]]. */
  def audioFeatures(fmt: javax.sound.sampled.AudioFormat,
      samples: Array[Float]): Array[Float] = {
    var sumAbs = 0.0; var sumSq = 0.0; var sum = 0.0
    var peak = 0.0f; var crossings = 0L
    var i = 0
    while (i < samples.length) {
      val x = samples(i)
      sumAbs += math.abs(x); sumSq += x * x; sum += x
      if (math.abs(x) > peak) peak = math.abs(x)
      if (i > 0 && (samples(i - 1) >= 0) != (x >= 0)) crossings += 1
      i += 1
    }
    val n = math.max(1, samples.length).toDouble
    val durationSec =
      samples.length / math.max(1.0,
        fmt.getSampleRate.toDouble * fmt.getChannels)
    Array(
      math.sqrt(sumSq / n).toFloat, (sumAbs / n).toFloat,
      (crossings / n).toFloat, peak,
      (math.log1p(durationSec) / 10.0).toFloat,
      fmt.getChannels / 8.0f,
      fmt.getSampleRate / 48000.0f,
      (sum / n).toFloat)
  }

  /** Full pixel decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF/WBMP).
    * None for unsupported or corrupt payloads — callers fall back to
    * the stub path so the pipeline stays total. */
  def decodeImage(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    if (bytes == null || bytes.isEmpty) return None
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic 8-dim feature vector from ACTUAL pixels: channel
    * means (R, G, B, alpha), luma mean + spread, aspect, log-scale
    * size. One getRGB bulk grab per image, no per-pixel boxing. */
  def imageFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
    var sl = 0.0; var sl2 = 0.0
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val a = (p >>> 24) & 0xFF
      val r = (p >>> 16) & 0xFF
      val g = (p >>> 8) & 0xFF
      val b = p & 0xFF
      sr += r; sg += g; sb += b; sa += a
      val l = 0.299 * r + 0.587 * g + 0.114 * b
      sl += l; sl2 += l * l
      i += 1
    }
    val n = math.max(1, px.length).toDouble
    val meanL = sl / n
    val varL = math.max(0.0, sl2 / n - meanL * meanL)
    Array(
      (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat,
      (sb / n / 255.0).toFloat, (meanL / 255.0).toFloat,
      (math.sqrt(varL) / 255.0).toFloat,
      (w.toDouble / (w + h)).toFloat,
      (math.log1p(w.toDouble * h) / 20.0).toFloat,
      (sa / n / 255.0).toFloat)
  }

  /** FALLBACK decode for payloads no JDK reader handles (audio/video/
    * opaque bytes — a real deployment would plug a JNI/ONNX codec in
    * here): deterministic byte-histogram moments so the pipeline is
    * testable end-to-end. Runs per-partition over the binary column
    * with zero driver involvement. The video leg of this fallback is
    * permanently environmental — see ROUND8_NOTES.md for the committed
    * negative proof (no codec on the classpath, in the JDK, or as a
    * binary; zero egress forbids adding one). */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    if (bytes == null) return new Array[Float](featureDim)
    val out = new Array[Float](featureDim)
    var i = 0
    while (i < bytes.length) {
      out(i % featureDim) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    if (bytes.length > 0) {
      var j = 0
      while (j < featureDim) { out(j) /= bytes.length; j += 1 }
    }
    out
  }

  /** Feature-extract the `content` binary column into a
    * `features: array<float>` column via partition-parallel batches
    * (mapPartitions ≈ mapInPandas batch shape). Decodable images take
    * the REAL pixel path ([[imageFeatures]]), decodable audio the
    * REAL sample path ([[audioFeatures]]); everything else the
    * deterministic stub. */
  def extractFeatures(df: DataFrame,
      contentCol: String = "content"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType, containsNull = false)))
    val enc = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(contentCol)
    val res: Dataset[Row] = df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val feats = decodeImage(bytes).map(imageFeatures)
          .orElse(decodeAudio(bytes).map {
            case (fmt, samples) => audioFeatures(fmt, samples) })
          .getOrElse(decodeStub(bytes))
        Row.fromSeq(r.toSeq :+ feats.toSeq)
      }
    }(enc)
    res
  }

  /** 9×8 integer grayscale grid for [[dHash64]]: EXACT block-mean
    * downsample (integer box boundaries `gx·w/9 … (gx+1)·w/9`, luma
    * `(299r + 587g + 114b) / 1000` truncating) — no Graphics2D
    * rescale, whose interpolation is JVM/driver-dependent; two
    * engines (or two JVMs) computing this grid from the same pixels
    * agree bit for bit, which is what makes the hash an INDEX key. */
  def grayGrid9x8(img: java.awt.image.BufferedImage): Array[Long] = {
    val w = img.getWidth
    val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Long](72)
    var gy = 0
    while (gy < 8) {
      var gx = 0
      while (gx < 9) {
        val x0 = gx * w / 9
        val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
        val y0 = gy * h / 8
        val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
        var s = 0L
        var n = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val p = px(y * w + x)
            val r = (p >>> 16) & 0xFF
            val g = (p >>> 8) & 0xFF
            val b = p & 0xFF
            s += (299L * r + 587L * g + 114L * b) / 1000L
            n += 1
            x += 1
          }
          y += 1
        }
        out(gy * 9 + gx) = if (n == 0) 0L else s / n
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Difference hash (dHash — the img2dataset/perceptual-dedup
    * staple): bit `r·8 + c` set iff `grid(r·9 + c) > grid(r·9 + c+1)`
    * over the 9×8 [[grayGrid9x8]] — 63 comparison bits (the last
    * adjacent pair is dropped so the hash stays a signed-POSITIVE
    * BIGINT: both engines then shift/band/popcount it exactly, where
    * a 64th bit would overflow DuckDB's checked `<<`). Near-duplicate
    * images differ in few bits; pairs come from 16-bit banded
    * blocking + a `bit_count(xor)` filter (the q35 SimHash shape). */
  def dHash64(g: Seq[Long]): Long = {
    require(g.length == 72, s"dHash grid must be 9x8 = 72: ${g.length}")
    var hsh = 0L
    var k = 0
    while (k < 63) {
      val r = k / 8
      val c = k % 8
      if (g(r * 9 + c) > g(r * 9 + c + 1)) hsh |= (1L << k)
      k += 1
    }
    hsh
  }

  /** Add a `dhash: bigint` column over a binary content column:
    * decodable images take the REAL pixel path ([[grayGrid9x8]]);
    * other payloads fold their bytes into the same 72-cell grid
    * (deterministic stand-in, the [[decodeStub]] contract) so the
    * pipeline stays end-to-end testable. Partition-parallel, zero
    * driver involvement. */
  def dHashOf(df: DataFrame, contentCol: String = "content")
      : DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("dhash", org.apache.spark.sql.types.LongType,
        nullable = false))
    val enc = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(contentCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val grid = decodeImage(bytes).map(grayGrid9x8).getOrElse {
          val g = new Array[Long](72)
          val n = new Array[Long](72)
          if (bytes != null) {
            var i = 0
            while (i < bytes.length) {
              g(i % 72) += (bytes(i) & 0xFF)
              n(i % 72) += 1
              i += 1
            }
          }
          var j = 0
          while (j < 72) { if (n(j) > 0) g(j) /= n(j); j += 1 }
          g
        }
        Row.fromSeq(r.toSeq :+ dHash64(grid.toSeq))
      }
    }(enc)
  }

  /** REAL image resize: decode via ImageIO, bilinear-rescale through
    * Graphics2D, re-encode as PNG (lossless, format-stable output).
    * None when the payload is not a decodable image. */
  def resizeBytes(bytes: Array[Byte], w: Int, h: Int)
      : Option[Array[Byte]] =
    decodeImage(bytes).flatMap { src =>
      try {
        val t = if (src.getColorModel.hasAlpha)
          java.awt.image.BufferedImage.TYPE_INT_ARGB
        else java.awt.image.BufferedImage.TYPE_INT_RGB
        val dst = new java.awt.image.BufferedImage(w, h, t)
        val g = dst.createGraphics()
        try {
          g.setRenderingHint(
            java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(src, 0, 0, w, h, null)
        } finally g.dispose()
        val out = new java.io.ByteArrayOutputStream()
        if (javax.imageio.ImageIO.write(dst, "png", out))
          Some(out.toByteArray) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }

  /** FALLBACK resize for non-image payloads (a real deployment would
    * re-encode the media container here): deterministic byte
    * truncation proportional to the pixel-count ratio, so the
    * PLUMBING — metadata recompute, partition-parallel batch shape,
    * byte-size contract — stays total over any input. */
  def resizeStub(bytes: Array[Byte], srcW: Int, srcH: Int,
      w: Int, h: Int): Array[Byte] = {
    val srcPx = math.max(1L, srcW.toLong * srcH)
    val keep = math.max(1L,
      bytes.length.toLong * (w.toLong * h) / srcPx)
    // clamp in LONG before narrowing: an upscale can push `keep` past
    // Int.MaxValue, and keep.toInt would wrap to 0/negative (empty
    // payload or NegativeArraySizeException)
    java.util.Arrays.copyOf(bytes,
      math.min(bytes.length.toLong, keep).toInt)
  }

  /** Resize the `content` binary column to (w, h), recomputing the
    * typed metadata struct (width/height/byte_size, and media_type →
    * image/png on the real re-encode path) in the same
    * partition-parallel pass — the mapInPandas batch shape with zero
    * driver involvement. Decodable images rescale for REAL
    * ([[resizeBytes]]); other payloads stub-truncate with source
    * dimensions from the metadata (fallback 1×1). */
  def resizeTo(df: DataFrame, w: Int, h: Int,
      contentCol: String = "content",
      metaCol: String = "media_meta"): DataFrame = {
    val enc = Encoders.row(df.schema)
    val cIdx = df.schema.fieldIndex(contentCol)
    val mIdx = df.schema.fieldIndex(metaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](cIdx)
        val meta = r.getStruct(mIdx)
        // a null metadata STRUCT must not fail the task ("total over
        // any input"): every declared field degrades to its absence
        def mGet(i: Int): Any = if (meta == null) null else meta.get(i)
        if (bytes == null) r // nothing to resize; row passes through
        else {
        val (out, mediaType) = resizeBytes(bytes, w, h) match {
          case Some(png) => (png, "image/png")
          case None =>
            val srcW =
              if (meta == null || meta.isNullAt(2)) 1 else meta.getInt(2)
            val srcH =
              if (meta == null || meta.isNullAt(3)) 1 else meta.getInt(3)
            (resizeStub(bytes, srcW, srcH, w, h),
              mGet(0).asInstanceOf[String])
        }
        val newMeta = Row(mediaType, out.length.toLong,
          w, h, mGet(4))
        Row.fromSeq(r.toSeq.updated(cIdx, out).updated(mIdx, newMeta))
        }
      }
    }(enc)
  }

  /** Fill the metadata struct from the payload's ACTUAL header
    * (image → media_type/width/height; audio → media_type/duration_ms;
    * ISO-BMFF video → media_type/width/height/duration_ms) wherever a
    * header parser recognizes it; unrecognized rows keep their
    * declared metadata. Header-only — no pixel/sample decode. */
  def probeMeta(df: DataFrame, contentCol: String = "content",
      metaCol: String = "media_meta"): DataFrame = {
    val enc = Encoders.row(df.schema)
    val cIdx = df.schema.fieldIndex(contentCol)
    val mIdx = df.schema.fieldIndex(metaCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](cIdx)
        val meta = r.getStruct(mIdx)
        // a recognizable payload under a NULL metadata struct must
        // still probe ("total over any input") — fields the header
        // cannot supply synthesize to null, not to an NPE
        def mGet(i: Int): Any = if (meta == null) null else meta.get(i)
        imageInfo(bytes) match {
          case Some(info) =>
            Row.fromSeq(r.toSeq.updated(mIdx, Row(s"image/${info.format}",
              bytes.length.toLong, info.width, info.height, mGet(4))))
          case None => audioInfo(bytes) match {
            case Some(a) =>
              Row.fromSeq(r.toSeq.updated(mIdx, Row(s"audio/${a.format}",
                bytes.length.toLong, mGet(2), mGet(3),
                if (a.durationMs >= 0) a.durationMs else mGet(4))))
            case None => videoInfo(bytes) match {
              case Some(v) =>
                Row.fromSeq(r.toSeq.updated(mIdx, Row("video/mp4",
                  bytes.length.toLong,
                  if (v.width > 0) v.width else mGet(2),
                  if (v.height > 0) v.height else mGet(3),
                  if (v.durationMs >= 0) v.durationMs else mGet(4))))
              case None => r
            }
          }
        }
      }
    }(enc)
  }

  /** Frame sampling: keep every `everyN`-th unit (deterministic on a
    * key column) BEFORE any shuffle — the bandwidth saver at 100 TB. */
  def sampleEveryN(df: DataFrame, keyCol: String, everyN: Int): DataFrame =
    df.filter(pmod(col(keyCol), lit(everyN)) === 0)

  /** Re-balance by byte budget: binary rows are wildly skewed in size,
    * so partition count derives from total payload bytes. */
  def repartitionByBytes(df: DataFrame, targetPartitionMB: Int = 256,
      byteSizeCol: String = "media_meta.byte_size"): DataFrame = {
    val total = df.agg(sum(col(byteSizeCol))).collect()(0).getLong(0)
    val n = math.max(1,
      (total / (targetPartitionMB.toLong * 1024 * 1024)).toInt)
    df.repartition(n)
  }

  /** 9×8 integer feature grid over PCM samples — the audio analog of
    * [[grayGrid9x8]], feeding the SAME 63-bit [[dHash64]]: 9 equal
    * integer-boundary time frames × 8 exact-integer frame features
    * (Σ|x|, lag-1/2/3 absolute differences, lag-1 absolute sums,
    * peak, zero crossings, Σx²). Layout `g(feat·9 + frame)`, so
    * dHash64's row-major adjacent comparisons become PER-FEATURE
    * TEMPORAL GRADIENTS — the chromaprint-class shape (energy-band
    * deltas across time) without a float FFT: two engines (or two
    * JVMs) computing this grid from the same samples agree bit for
    * bit, which is what makes the hash an INDEX key. */
  def audioFrameGrid(samples: Array[Int]): Array[Long] = {
    val n = samples.length
    val out = new Array[Long](72)
    var f = 0
    while (f < 9) {
      val i0 = f * n / 9
      val i1 = (f + 1) * n / 9
      var sAbs = 0L; var d1 = 0L; var d2 = 0L; var d3 = 0L
      var s1 = 0L; var peak = 0L; var zc = 0L; var e = 0L
      var i = i0
      while (i < i1) {
        val x = samples(i).toLong
        val ax = math.abs(x)
        sAbs += ax
        if (ax > peak) peak = ax
        e += x * x
        if (i > i0) {
          val p = samples(i - 1).toLong
          d1 += math.abs(x - p)
          s1 += math.abs(x + p)
          if (x * p < 0) zc += 1
        }
        if (i >= i0 + 2) d2 += math.abs(x - samples(i - 2))
        if (i >= i0 + 3) d3 += math.abs(x - samples(i - 3))
        i += 1
      }
      out(0 * 9 + f) = sAbs
      out(1 * 9 + f) = d1
      out(2 * 9 + f) = d2
      out(3 * 9 + f) = d3
      out(4 * 9 + f) = s1
      out(5 * 9 + f) = peak
      out(6 * 9 + f) = zc
      out(7 * 9 + f) = e
      f += 1
    }
    out
  }

  /** Audio near-dup fingerprint: [[audioFrameGrid]] → [[dHash64]].
    * Serving shape is identical to the image hash — the same 4×16-bit
    * banded blocking, the same `bit_count(xor) ≤ r` exact
    * verification, and the same incremental index
    * ([[dHashIncremental]] with `hashCol = "afp"`). */
  def audioFingerprint(samples: Array[Int]): Long =
    dHash64(audioFrameGrid(samples).toSeq)

  /** Add an `afp: bigint` column over a binary content column:
    * decodable audio takes the REAL sample path ([[decodeAudio]] →
    * exact 16-bit ints → [[audioFingerprint]]); other payloads fold
    * their bytes into the same centered sample domain (deterministic
    * stand-in, the [[decodeStub]] contract) so the pipeline stays
    * end-to-end testable. Partition-parallel, zero driver
    * involvement. */
  def audioFingerprintOf(df: DataFrame, contentCol: String = "content")
      : DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("afp", org.apache.spark.sql.types.LongType,
        nullable = false))
    val enc = Encoders.row(outSchema)
    val idx = df.schema.fieldIndex(contentCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](idx)
        val samples = decodeAudio(bytes).map { case (_, fs) =>
          // decodeAudio normalized exact 16-bit PCM ints by 32768;
          // the round-trip recovers them exactly
          fs.map(x => math.round(x * 32768f))
        }.getOrElse {
          if (bytes == null) Array.empty[Int]
          else bytes.map(b => (b & 0xFF) - 128)
        }
        Row.fromSeq(r.toSeq :+ audioFingerprint(samples))
      }
    }(enc)
  }

  // ---------------------------------------------------------------
  // Incremental perceptual-hash index (the image analog of
  // Dedup.nearIncremental): new batches block against the dHash
  // index of everything already ingested — the historical PIXELS are
  // never stored or re-read. Unlike the MinHash index, verification
  // is EXACT, not estimated: the full 63-bit hash rides in the index
  // (~40 B/row incl. the band key), so `bit_count(xor) ≤ r` is the
  // true Hamming distance, and 4×16-bit banding is pigeonhole-exact
  // recall at r ≤ 3. The index is a graft table (doc_id, band_key,
  // dhash): atomic commits, txn replay safety, GRAFT COMPACT INDEX
  // (the band_key DISTINCT fold) and GRAFT RETRACT INDEX (the
  // band_key → doc_id keyed-delete route) all work unchanged.
  // ---------------------------------------------------------------

  private[graft] final case class DHashIncr(pairs: DataFrame,
      batchBands: DataFrame)

  /** ONE row per (doc, band): `band_key = band ':' bits` with bits =
    * the band'th 16-bit slice of the 63-bit hash (band 3 carries 15
    * bits). The single source of truth for the banding layout —
    * shared by the batch-global q196 form and the incremental path,
    * and mirrored by the DuckDB oracle. */
  private def dHashBandRows(df: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    df.select(col(s"`$idCol`").as("doc_id"),
        col(s"`$hashCol`").cast("long").as("dhash"))
      .filter(col("dhash").isNotNull)
      .dropDuplicates("doc_id")
      .select(col("doc_id"), col("dhash"),
        explode(expr("sequence(0, 3)")).as("band"))
      .select(col("doc_id"),
        concat_ws(":", col("band"), expr(
          "shiftright(dhash, band * 16) & IF(band = 3, 32767, 65535)"))
          .as("band_key"),
        col("dhash"))

  /** Pair computation WITHOUT the index append — the caller decides
    * what enters the index (everything for [[dHashIncremental]],
    * kept docs only for [[dHashDedupStreamToTable]]). `pairs` is
    * pinned to the pre-call index snapshot. */
  private[graft] def dHashIncrementalCore(batch: DataFrame,
      idCol: String, hashCol: String, indexDir: String, radius: Int,
      maxBandDocFreq: Option[Int], maxBatchRows: Long,
      txn: Option[(String, Long)] = None): DHashIncr = {
    import graft.sink.CdcTable
    // 4 bands over 63 bits: a pair within Hamming `radius` shares at
    // least one untouched band only while radius < bands — past 3 the
    // pigeonhole guarantee (and the "exact recall" contract) is gone
    require(radius >= 0 && radius <= 3,
      s"dHash banding is pigeonhole-exact only for radius 0..3, " +
        s"got $radius")
    val batchBands = dHashBandRows(batch, idCol, hashCol)
      .localCheckpoint() // pin: feeds the candidate join AND the
                         // index append; must not recompute after it
    // each doc emits exactly 4 band rows, so the pinned frame counts
    // the batch for free; a corpus-sized "batch" must fail loudly
    // BEFORE its band keys broadcast
    val nDocs = batchBands.count() / 4
    IndexMeta.requireBoundedBatch(nDocs, maxBatchRows, "hashed documents",
      "the batch-global banded join")
    // pinned: the probed subset feeds the hot-bucket occupancy count,
    // the candidate join AND the hash lookup — unpinned, the index scan
    // + semi-probe would run up to three times per batch
    val hist = IndexMeta.touched(indexDir, txn,
        batchBands.select(col("band_key")), batchBands.schema, pin = true) {
      h =>
        require(h.columns.toSet == Set("doc_id", "band_key", "dhash"),
          s"index at $indexDir is not a dHash index (columns: " +
            s"${h.columns.mkString(", ")})")
        h
    }
    val all = hist.unionByName(batchBands)
    // hot-bucket exclusion, the Dedup.nearIncremental shape: cap
    // explicit or manifest-derived (√n over indexed docs + batch —
    // frows metadata, zero data IO); occupancy itself is EXACT over
    // the touched buckets the probe already holds
    val cap = maxBandDocFreq.getOrElse(Dedup.autoBandDocFreq(
      CdcTable.rowCountEstimate(indexDir, txn) / 4 + nDocs))
    val (lSide, rSide) = Dedup.excludeHotBuckets(batchBands, all, cap)
    val cand = lSide.select(col("doc_id").as("l_id"), col("band_key"))
      .join(rSide.select(col("doc_id").as("r_id"), col("band_key")),
        Seq("band_key"))
      .filter(col("l_id") =!= col("r_id"))
      .select(least(col("l_id"), col("r_id")).as("a_id"),
        greatest(col("l_id"), col("r_id")).as("b_id"))
      .distinct() // collapses multi-band agreement, both orientations
                  // of batch-batch pairs, and replayed index rows
    // EXACT verification — the full hash is in the index, so this is
    // the true Hamming distance, not an estimate
    val hashes = all.select(col("doc_id"), col("dhash"))
      .dropDuplicates("doc_id") // band copies carry identical hashes
    val pairs = cand
      .join(hashes.select(col("doc_id").as("a_id"),
        col("dhash").as("dh_a")), Seq("a_id"))
      .join(hashes.select(col("doc_id").as("b_id"),
        col("dhash").as("dh_b")), Seq("b_id"))
      .withColumn("hamming",
        expr("bit_count(dh_a ^ dh_b)").cast("int"))
      .filter(col("hamming") <= radius)
      .select(col("a_id"), col("b_id"), col("hamming"))
    DHashIncr(pairs, batchBands)
  }

  /** INCREMENTAL image near-dup — the dHash analog of
    * [[graft.ext.Dedup.nearIncremental]] (reference: the perceptual
    * dedup step of an image-curation pipeline, run per ingest batch):
    * the batch's hashes block against the index by band equality and
    * verify by exact `bit_count(xor) ≤ radius`; the batch's band rows
    * then append to the index (txn-replay-safe). Returns pairs
    * (a_id < b_id, hamming) where at least one side is in the batch.
    *
    * Per batch: one pass over the BATCH, one broadcast-semi probe of
    * the index (never shuffled), one append — the per-batch cost is
    * bounded by batch + touched-bucket volume, not corpus size.
    * `maxBandDocFreq None` derives the √n hot-bucket cap from the
    * index manifest ([[graft.ext.Dedup.autoBandDocFreq]]);
    * `Some(Int.MaxValue)` uncaps. Maintenance:
    * [[graft.ext.Dedup.compactIndex]] folds the per-batch append
    * generations (band rows collapse by DISTINCT — exact), and
    * [[graft.ext.Dedup.retractIndex]] removes a deleted image's rows
    * (per-doc ownership; no re-election needed). */
  def dHashIncremental(batch: DataFrame, idCol: String,
      hashCol: String, indexDir: String, radius: Int = 3,
      txn: Option[(String, Long)] = None,
      maxBandDocFreq: Option[Int] = None,
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : DataFrame = {
    val r = dHashIncrementalCore(batch, idCol, hashCol, indexDir,
      radius, maxBandDocFreq, maxBatchRows, txn)
    graft.sink.CdcTable.append(r.batchBands, indexDir, txn = txn)
    r.pairs
  }

  /** Streaming image-dedup-to-table: every micro-batch hashes its
    * binary payloads ([[dHashOf]] — real pixels for decodable images,
    * the deterministic byte-fold stub otherwise), blocks against the
    * dHash index of everything KEPT so far, drops batch docs within
    * `radius` Hamming of ANY earlier doc (historical, or a lower-id
    * doc in the same batch), and appends the rest to `outDir`. Gate
    * contract: [[IndexMeta.keptOnlyStream]].
    *
    * Runs UNCAPPED: kept-only indexing bounds bucket occupancy
    * structurally (one entry per distinct image), and the √n cap
    * would suppress the very pairs that keep a mass-duplicated image
    * from re-entering (see
    * [[graft.ext.Dedup.nearDedupStreamToTable]]). */
  def dHashDedupStreamToTable(stream: DataFrame, contentCol: String,
      idCol: String, indexDir: String, outDir: String,
      checkpointDir: String, radius: Int = 3,
      appId: String = "graft-dhashdedup",
      maxBatchRows: Long = Similarity.MaxIncrementalBatchRows)
      : org.apache.spark.sql.streaming.StreamingQuery =
    IndexMeta.keptOnlyStream(stream, idCol, indexDir, "doc_id", outDir,
        checkpointDir, appId) { (batch, txn) =>
      val r = dHashIncrementalCore(dHashOf(batch, contentCol), idCol,
        "dhash", indexDir, radius, maxBandDocFreq = Some(Int.MaxValue),
        maxBatchRows = maxBatchRows, txn = txn)
      // pairs are already Hamming-verified: every b_id is a dup
      (r.pairs.select(col("b_id")), r.batchBands)
    }
}
