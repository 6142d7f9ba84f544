package graft.llm

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode/feature-extract
  * runs as a per-partition batch kernel.
  *
  * IMAGE decode is REAL — [[decodeImage]] uses the JRE's `javax.imageio`
  * readers (PNG/BMP/GIF/JPEG) — and so is AUDIO decode —
  * [[decodeAudio]] uses the JRE's `javax.sound.sampled` WAV/AIFF/AU
  * readers. VIDEO decode is REAL for the MJPEG-in-AVI family —
  * [[parseAvi]] walks the RIFF container (pure byte arithmetic, no
  * codec needed) and each frame is a JPEG the JRE's ImageIO decodes
  * ([[decodeVideo]] / [[sampleFramesAvi]]); all three gated bit-exactly
  * by LlmSpec. For compressed codecs the JRE cannot decode, METADATA is
  * still real: [[parseMp3]] walks MP3 frame headers
  * (rate/channels/bitrate/duration) and [[parseH264Sps]] parses the
  * H.264 sequence parameter set (profile/level/cropped dimensions via
  * exp-Golomb) — pure byte/bit arithmetic, surfaced by
  * [[extractContainerMeta]]. [[decodeStub]] / [[sampleFrames]] remain
  * only as the documented fallback for the compressed SAMPLE DATA
  * itself (pixels/PCM of H.264/MP3 payloads); the Spark-side contract
  * is identical either way: schema, batch shape, partition-local
  * execution, and the feature-struct output a downstream trainer would
  * consume.
  *
  * Scale: payload bytes never shuffle — features are derived in place on
  * the scan partitions; only the (small) feature struct flows downstream.
  * Partition sizing is governed by `spark.sql.files.maxPartitionBytes`
  * against the blob column size.
  */
object Multimodal {

  /** Canonical multimodal schema: id + payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  val featureSchema: StructType = StructType(Seq(
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("histogram", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** Wrap any table with a binary payload column into the media schema
    * (here: text bytes stand in for image bytes). */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String,
              mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      col(payloadCol).cast("binary").as("content"),
      struct(lit(mime).as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** Deterministic stand-in for a real decoder: byte count, additive
    * checksum, 16-bin byte histogram. A real implementation would hand
    * `content` to a codec here — same signature, same batch shape. */
  def decodeStub(content: Array[Byte]): (Long, Long, Array[Long]) = {
    var checksum = 0L
    val hist = new Array[Long](16)
    var i = 0
    while (i < content.length) {
      val b = content(i) & 0xff
      checksum = (checksum * 31 + b) & 0xffffffffL
      hist(b >> 4) += 1
      i += 1
    }
    (content.length.toLong, checksum, hist)
  }

  /** Feature extraction as a partition-local batch kernel (the Scala
    * analog of `mapInPandas`: one iterator of rows per partition, decode
    * amortized across the batch, no shuffle). */
  def extractFeatures(media: DataFrame): DataFrame = {
    val schema = media.schema.add("features", featureSchema)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val (n, sum, hist) = decodeStub(bytes)
        Row.fromSeq(r.toSeq :+ Row(n, sum, hist.toSeq))
      }
    }(Encoders.row(schema))
  }

  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("luma_hist", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** Decompression-bomb guard for [[decodeImage]]: a malformed/hostile
    * header can declare gigapixel dimensions in a 100-byte payload, and
    * `ImageIO.read` allocates the FULL raster before any pixel data is
    * validated — an OutOfMemoryError (an Error, past any
    * `catch Exception`) that kills the executor, not a decode failure.
    * At ingest scale malformed headers are a certainty, so dimensions
    * are read from the header and bounded BEFORE the raster exists. */
  private val MaxImagePixels = 64L * 1024 * 1024

  /** REAL image decode — JDK `javax.imageio`, zero new dependencies
    * (PNG/BMP/GIF/JPEG readers ship with the JRE): dimensions plus a
    * 16-bin luminance histogram (integer ITU-R BT.601 weights,
    * (299·R + 587·G + 114·B)/1000 — deterministic, no float). Returns
    * None for empty/undecodable/bomb payloads — corrupt blobs are data,
    * not task failures. */
  def decodeImage(content: Array[Byte]): Option[(Int, Int, Array[Long])] = {
    if (content == null || content.isEmpty) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      if (iis == null) return None
      // with the default ImageIO disk cache this stream is backed by an
      // executor temp FILE — close it whether or not a reader matched
      // (extractImageFeatures disables the cache, but decodeImage is
      // public API and must not leak under either configuration)
      val img = try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis)
          // header-declared dimensions, validated BEFORE the raster
          // allocation ImageIO.read would perform
          val (w, h) = (reader.getWidth(0), reader.getHeight(0))
          if (w <= 0 || h <= 0 || w.toLong * h > MaxImagePixels) return None
          reader.read(0)
        } finally reader.dispose()
      } finally iis.close()
      if (img == null) return None
      val hist = new Array[Long](16)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xff
          val g = (rgb >> 8) & 0xff
          val b = rgb & 0xff
          hist(((299 * r + 587 * g + 114 * b) / 1000) >> 4) += 1
          x += 1
        }
        y += 1
      }
      Some((img.getWidth, img.getHeight, hist))
    } catch { case _: Exception => None }
  }

  /** Image feature extraction as a partition-local batch kernel — the
    * de-stubbed q37 family: payload bytes decode IN PLACE on the scan
    * partitions (never shuffled); only the small feature struct flows
    * downstream. Undecodable payloads get a null struct. */
  def extractImageFeatures(media: DataFrame): DataFrame = {
    val schema = media.schema.add("image_features", imageFeatureSchema,
      nullable = true)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { it =>
      // in-memory decode only — the default ImageIO disk cache would
      // write executor temp files per blob
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val feats = decodeImage(bytes) match {
          case Some((w, h, hist)) => Row(w, h, hist.toSeq, bytes.length.toLong)
          case None => null
        }
        Row.fromSeq(r.toSeq :+ feats)
      }
    }(Encoders.row(schema))
  }

  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("amp_hist", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** REAL audio decode — JDK `javax.sound.sampled`, zero new dependencies
    * (the WAV/AIFF/AU readers ship with the JRE): sample rate, channel
    * count, per-channel frame count, duration, and a 16-bin amplitude
    * histogram over every sample of every channel (16-bit PCM bins by
    * `(v + 32768) >> 12`, 8-bit by the unsigned byte's high nibble —
    * integer arithmetic, deterministic). Compressed containers the JRE
    * has no codec for return None — corrupt/undecodable blobs are data,
    * not task failures (the [[decodeImage]] contract). */
  def decodeAudio(content: Array[Byte]): Option[(Int, Int, Long, Long, Array[Long])] = {
    if (content == null || content.isEmpty) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val fmt = in.getFormat
        val enc = fmt.getEncoding
        import javax.sound.sampled.AudioFormat.Encoding._
        val bits = fmt.getSampleSizeInBits
        if ((enc != PCM_SIGNED && enc != PCM_UNSIGNED) ||
            (bits != 8 && bits != 16)) return None
        val bytes = in.readAllBytes()
        val hist = new Array[Long](16)
        if (bits == 8) {
          var i = 0
          while (i < bytes.length) {
            // center to unsigned [0, 255]; signed flips the top bit
            val u = if (enc == PCM_SIGNED) (bytes(i) + 128) & 0xff
                    else bytes(i) & 0xff
            hist(u >> 4) += 1
            i += 1
          }
        } else {
          val (lo, hi) = if (fmt.isBigEndian) (1, 0) else (0, 1)
          var i = 0
          while (i + 1 < bytes.length) {
            val raw = ((bytes(i + hi) & 0xff) << 8) | (bytes(i + lo) & 0xff)
            val v = if (enc == PCM_SIGNED) raw.toShort.toInt
                    else raw - 32768 // unsigned centers at 32768
            hist((v + 32768) >> 12) += 1
            i += 2
          }
        }
        val rate = math.round(fmt.getSampleRate)
        val frames =
          if (in.getFrameLength >= 0) in.getFrameLength
          else bytes.length.toLong / fmt.getFrameSize
        val durMs = if (rate <= 0) 0L else frames * 1000L / rate
        Some((rate, fmt.getChannels, frames, durMs, hist))
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Audio feature extraction as a partition-local batch kernel — the
    * de-stubbed audio family, same shape as [[extractImageFeatures]]:
    * payload bytes decode in place on the scan partitions, only the
    * small feature struct flows downstream; undecodable payloads get a
    * null struct. */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val schema = media.schema.add("audio_features", audioFeatureSchema,
      nullable = true)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val feats = decodeAudio(bytes) match {
          case Some((rate, ch, n, durMs, hist)) =>
            Row(rate, ch, n, durMs, hist.toSeq, bytes.length.toLong)
          case None => null
        }
        Row.fromSeq(r.toSeq :+ feats)
      }
    }(Encoders.row(schema))
  }

  /** A parsed MJPEG-in-AVI payload: dimensions from the main header,
    * the per-frame interval, and each video frame's raw (JPEG) bytes
    * exactly as stored in the container. */
  case class AviVideo(width: Int, height: Int, usPerFrame: Long,
                      frames: Vector[Array[Byte]])

  @inline private def u32le(b: Array[Byte], o: Int): Long =
    (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  @inline private def fourcc(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL video container parse — RIFF/AVI is pure little-endian byte
    * walking, no codec involved: the `avih` main header yields
    * dimensions and the frame interval, and every `##dc`/`##db` chunk
    * inside the `movi` list is one video frame's payload (for MJPEG, a
    * complete JPEG the JRE's ImageIO can decode). Returns None for
    * anything that is not a well-formed AVI — undecodable blobs are
    * data, not task failures. */
  def parseAvi(content: Array[Byte]): Option[AviVideo] = {
    if (content == null || content.length < 12 ||
        fourcc(content, 0) != "RIFF" || fourcc(content, 8) != "AVI ")
      return None
    var width = 0; var height = 0; var usPerFrame = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    def isFrame(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        id(2) == 'd' && (id(3) == 'b' || id(3) == 'c')
    def walk(from: Int, to: Int, depth: Int): Unit = {
      if (depth > 16) return // corrupt/hostile nesting: real AVIs are ~3 deep
      var off = from
      while (off + 8 <= to) {
        val id = fourcc(content, off)
        val size = u32le(content, off + 4)
        val dataStart = off + 8
        if (size > to - dataStart) return // truncated chunk: stop
        val dataEnd = dataStart + size.toInt
        id match {
          case "LIST" =>
            if (size >= 4) walk(dataStart + 4, dataEnd, depth + 1)
          case "avih" =>
            if (size >= 40) {
              usPerFrame = u32le(content, dataStart)
              width = u32le(content, dataStart + 32).toInt
              height = u32le(content, dataStart + 36).toInt
            }
          case other if isFrame(other) =>
            frames += java.util.Arrays.copyOfRange(content, dataStart, dataEnd)
          case _ => () // strh/strf/idx1/JUNK…: irrelevant here
        }
        off = dataEnd + (size.toInt & 1) // chunks pad to even offsets
      }
    }
    walk(12, content.length, 0)
    val fs = frames.result()
    if (width <= 0 || height <= 0 || usPerFrame <= 0 || fs.isEmpty) None
    else Some(AviVideo(width, height, usPerFrame, fs))
  }

  val videoFeatureSchema: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("luma_hist", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("n_bytes", LongType, nullable = false)))

  /** REAL video decode for MJPEG-in-AVI: container-level dimensions,
    * frame count and duration from the header interval, plus the
    * BT.601 luma histogram summed over every frame ImageIO can decode
    * (the [[decodeImage]] arithmetic per frame). */
  def decodeVideo(content: Array[Byte]): Option[(Int, Int, Int, Long, Array[Long])] =
    parseAvi(content).map { avi =>
      val hist = new Array[Long](16)
      avi.frames.foreach { f =>
        decodeImage(f).foreach { case (_, _, h) =>
          var i = 0
          while (i < 16) { hist(i) += h(i); i += 1 }
        }
      }
      val durMs = avi.frames.size * avi.usPerFrame / 1000L
      (avi.width, avi.height, avi.frames.size, durMs, hist)
    }

  /** Video feature extraction as a partition-local batch kernel — same
    * shape as [[extractImageFeatures]]/[[extractAudioFeatures]]. */
  def extractVideoFeatures(media: DataFrame): DataFrame = {
    val schema = media.schema.add("video_features", videoFeatureSchema,
      nullable = true)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val feats = decodeVideo(bytes) match {
          case Some((w, h, n, durMs, hist)) =>
            Row(w, h, n, durMs, hist.toSeq, bytes.length.toLong)
          case None => null
        }
        Row.fromSeq(r.toSeq :+ feats)
      }
    }(Encoders.row(schema))
  }

  /** REAL frame sampling for MJPEG-in-AVI payloads: one frame row per
    * `intervalMs` tick within the clip duration, `frame` holding the
    * stored JPEG bytes verbatim (frame picked by integer division on
    * the header's per-frame interval — no decode needed to sample).
    * Non-AVI payloads yield no rows; the same fan-out shape as the
    * [[sampleFrames]] fallback: one input row → N bounded frame rows,
    * flatMap inside the partition, no shuffle. */
  def sampleFramesAvi(media: DataFrame, intervalMs: Long): DataFrame = {
    require(intervalMs > 0, "intervalMs must be positive")
    val contentIdx = media.schema.fieldIndex("content")
    val idIdx = media.schema.fieldIndex("media_id")
    media.mapPartitions { it =>
      it.flatMap { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val id = r.getLong(idIdx)
        parseAvi(bytes).iterator.flatMap { avi =>
          val durMs = avi.frames.size * avi.usPerFrame / 1000L
          // container metadata is UNTRUSTED: a hostile usPerFrame can
          // claim a multi-week duration from a few-KB file — Long math
          // (an Int quotient wraps negative and silently emits zero
          // frames) and a fan-out cap (one row must not explode into
          // millions, OOMing the task) bound the damage
          val (n, capped) = boundedFrames(durMs, intervalMs)
          (0 until n).iterator.map { f =>
            val tsMs = f * intervalMs
            val idx = math.min((tsMs * 1000L / avi.usPerFrame).toInt,
              avi.frames.size - 1)
            Row(id, f, tsMs, avi.frames(idx), capped)
          }
        }
      }
    }(Encoders.row(frameSchema))
  }

  /** Frame count for a clip of `durMs` at one frame per `intervalMs`,
    * computed in Long (an Int quotient wraps) and capped at
    * [[MaxFramesPerClip]] — duration metadata is untrusted input.
    * Returns (count, capped): a capped clip's frame rows carry
    * `truncated = true`, so a legitimately long recording losing its
    * tail is distinguishable from a fully sampled one (no silent caps —
    * the repo-wide discipline). */
  private def boundedFrames(durMs: Long, intervalMs: Long): (Int, Boolean) =
    if (durMs <= 0) (0, false)
    else {
      val want = (durMs - 1) / intervalMs + 1
      (math.min(want, MaxFramesPerClip.toLong).toInt,
        want > MaxFramesPerClip.toLong)
    }

  /** Per-clip fan-out bound for the frame samplers: a hostile duration
    * claim caps here instead of exploding one input row into millions
    * of frame rows (27.8 h at 1 frame/s — far beyond any real clip). */
  val MaxFramesPerClip: Int = 100000

  /** Deterministic resize stand-in: stride-subsample the payload to
    * exactly `w*h` bytes (short payloads pad with 0). A real kernel
    * would decode → scale → re-encode; the plumbing — payload in,
    * payload out, meta width/height updated, partition-local, no
    * shuffle — is identical. */
  def resizeStub(content: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0, s"resize target must be positive: ${w}x$h")
    // w*h in Int silently wraps at 46341x46341 (negative-size crash) and
    // 65536x65536 (zero-length payloads labeled full-size)
    require(w.toLong * h > 0 && w.toLong * h <= Int.MaxValue,
      s"resize target ${w}x$h overflows a byte array")
    val out = new Array[Byte](w * h)
    if (content.nonEmpty) {
      var i = 0
      while (i < out.length) {
        out(i) = content((i.toLong * content.length / out.length).toInt)
        i += 1
      }
    }
    out
  }

  /** Resize every payload to `w`×`h` (batch kernel; meta records the new
    * dimensions). */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val contentIdx = media.schema.fieldIndex("content")
    val idIdx = media.schema.fieldIndex("media_id")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val meta = r.getAs[Row](metaIdx)
        val (mime, dur) =
          if (meta == null) (null, null) else (meta.get(0), meta.get(3))
        Row(r.get(idIdx), resizeStub(bytes, w, h), Row(mime, w, h, dur))
      }
    }(Encoders.row(mediaSchema))
  }

  val frameSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("frame_idx", IntegerType, nullable = false),
    StructField("frame_ts_ms", LongType, nullable = false),
    StructField("frame", BinaryType, nullable = true),
    // true on every frame row of a clip whose sampling hit
    // [[MaxFramesPerClip]] — the tail frames are MISSING for such clips
    StructField("truncated", BooleanType, nullable = false)))

  /** Deterministic frame-sample stand-in for video payloads: one frame
    * of `frameBytes` consecutive bytes every `intervalMs`, duration from
    * meta (falling back to 1 ms per byte). A real kernel would seek the
    * container and decode keyframes; the fan-out shape — one input row →
    * N bounded frame rows, flatMap inside the partition, no shuffle —
    * is identical. */
  def sampleFrames(media: DataFrame, intervalMs: Long,
                   frameBytes: Int = 64): DataFrame = {
    require(intervalMs > 0, "intervalMs must be positive")
    val contentIdx = media.schema.fieldIndex("content")
    val idIdx = media.schema.fieldIndex("media_id")
    val metaIdx = media.schema.fieldIndex("meta")
    media.mapPartitions { it =>
      it.flatMap { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        val meta = r.getAs[Row](metaIdx)
        val durationMs =
          if (meta != null && !meta.isNullAt(3)) meta.getLong(3)
          else bytes.length.toLong
        val id = r.getLong(idIdx)
        // frames strictly WITHIN [0, duration): a duration that divides
        // evenly must not emit a phantom empty frame at ts == duration.
        // Long math + fan-out cap: duration_ms is caller metadata, and
        // garbage must not wrap an Int (zero frames) or fan one row out
        // into millions (see sampleFramesAvi)
        val (n, capped) = boundedFrames(durationMs, intervalMs)
        (0 until n).iterator.map { f =>
          val tsMs = f * intervalMs
          val off =
            if (durationMs == 0) 0
            else ((tsMs.toDouble / durationMs) * bytes.length).toInt
          val frame = bytes.slice(off, math.min(off + frameBytes, bytes.length))
          Row(id, f, tsMs, frame, capped)
        }
      }
    }(Encoders.row(frameSchema))
  }

  // --------------------------------------------------------------------
  // Compressed-codec METADATA parsers: pure
  // byte/bit arithmetic like the RIFF walker — no sample/pixel decode,
  // so no codec dependency. They shrink decodeStub's domain to actual
  // compressed payload DATA: dimensions/duration/rate of MP3 audio and
  // H.264 video now come from the real headers.
  // --------------------------------------------------------------------

  /** Parsed MP3 stream metadata (frame-header walk, ISO/IEC 11172-3):
    * sample rate, channels, duration from the per-frame sample count,
    * and the mean bitrate over all frames (CBR and VBR alike). */
  case class Mp3Meta(sampleRate: Int, channels: Int, frames: Int,
                     durationMs: Long, bitrateKbps: Int)

  // MPEG-1/2/2.5 Layer III tables: bitrate kbps by version group and
  // sample rate Hz by version, indexed by the header's 4/2-bit fields
  private val mp3BitrateV1 = Array(0, 32, 40, 48, 56, 64, 80, 96,
    112, 128, 160, 192, 224, 256, 320, 0)
  private val mp3BitrateV2 = Array(0, 8, 16, 24, 32, 40, 48, 56,
    64, 80, 96, 112, 128, 144, 160, 0)
  private val mp3Rate = Map( // version bits -> sample-rate table
    3 -> Array(44100, 48000, 32000, 0),  // MPEG-1
    2 -> Array(22050, 24000, 16000, 0),  // MPEG-2
    0 -> Array(11025, 12000, 8000, 0))   // MPEG-2.5

  /** Walk an MP3 bitstream frame by frame: skip a leading ID3v2 tag,
    * find the first 11-bit sync, then advance by each frame's computed
    * length (`144 · bitrate / rate + padding` for Layer III; halved
    * sample count for MPEG-2/2.5). Returns None unless at least one
    * valid frame parses — garbage is data, not a task failure. */
  def parseMp3(content: Array[Byte]): Option[Mp3Meta] = {
    if (content == null || content.length < 4) return None
    var off = 0
    // ID3v2: "ID3" + ver(2) + flags + 4×7-bit syncsafe size
    if (content.length >= 10 && content(0) == 'I' && content(1) == 'D' &&
        content(2) == '3') {
      val size = ((content(6) & 0x7f) << 21) | ((content(7) & 0x7f) << 14) |
        ((content(8) & 0x7f) << 7) | (content(9) & 0x7f)
      off = 10 + size
    }
    var frames = 0
    var sampleRate = 0
    var channels = 0
    var totalSamples = 0L
    var bitrateSum = 0L
    while (off + 4 <= content.length) {
      val b0 = content(off) & 0xff; val b1 = content(off + 1) & 0xff
      val b2 = content(off + 2) & 0xff; val b3 = content(off + 3) & 0xff
      val sync = b0 == 0xff && (b1 & 0xe0) == 0xe0
      if (!sync) {
        if (frames > 0) off = content.length // past the stream's end
        else off += 1 // scan forward to the first sync
      } else {
        val version = (b1 >> 3) & 0x3 // 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        val layer = (b1 >> 1) & 0x3   // 1 = Layer III
        val brIdx = (b2 >> 4) & 0xf
        val srIdx = (b2 >> 2) & 0x3
        val padding = (b2 >> 1) & 0x1
        val rateTab = mp3Rate.get(version)
        if (layer != 1 || rateTab.isEmpty || brIdx == 0 || brIdx == 15 ||
            srIdx == 3) {
          if (frames > 0) off = content.length else off += 1
        } else {
          val rate = rateTab.get(srIdx)
          val kbps = (if (version == 3) mp3BitrateV1 else mp3BitrateV2)(brIdx)
          // samples per Layer-III frame: 1152 (MPEG-1), 576 (MPEG-2/2.5)
          val samples = if (version == 3) 1152 else 576
          val frameLen = samples / 8 * kbps * 1000 / rate + padding
          if (frameLen <= 0 || off + frameLen > content.length) {
            if (frames > 0) off = content.length else off += 1
          } else {
            frames += 1
            sampleRate = rate
            channels = if (((b3 >> 6) & 0x3) == 3) 1 else 2
            totalSamples += samples
            bitrateSum += kbps
            off += frameLen
          }
        }
      }
    }
    // the standard sniff: one plausible header found by byte-scan is
    // weak evidence (~6e-5 per offset in random bytes); demand at least
    // two CHAINED frames — the second header must sit exactly frameLen
    // after the first, which random data essentially never satisfies
    if (frames < 2) None
    else Some(Mp3Meta(sampleRate, channels, frames,
      totalSamples * 1000L / sampleRate, (bitrateSum / frames).toInt))
  }

  /** Parsed ADTS AAC stream summary (ISO/IEC 14496-3 §1.A.3). */
  case class AacMeta(sampleRate: Int, channels: Int, frames: Int,
                     durationMs: Long, bitrateKbps: Int)

  // ADTS sampling_frequency_index table (13 valid entries)
  private val adtsRate = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Walk ADTS AAC frames: 12-bit 0xFFF syncword with layer bits 00
    * (which no MP3 header has — MP3's valid layers are nonzero, so the
    * two sniffs cannot claim each other's streams), sampling-frequency
    * index, channel configuration, and the 13-bit frame length that
    * chains frame to frame. Same guard as [[parseMp3]]: one
    * plausible header in random bytes is weak evidence — demand at
    * least two CHAINED frames, and treat a malformed candidate before
    * the first accepted frame as scan-forward, after it as stream end.
    * Pure header arithmetic — no sample decode. */
  def parseAdtsAac(content: Array[Byte]): Option[AacMeta] = {
    if (content == null || content.length < 7) return None
    var off = 0
    var frames = 0
    var sampleRate = 0
    var channels = 0
    var totalSamples = 0L
    var payloadBytes = 0L
    while (off + 7 <= content.length) {
      val b0 = content(off) & 0xff; val b1 = content(off + 1) & 0xff
      val b2 = content(off + 2) & 0xff; val b3 = content(off + 3) & 0xff
      val b4 = content(off + 4) & 0xff; val b5 = content(off + 5) & 0xff
      val b6 = content(off + 6) & 0xff
      // syncword FFF + layer 00 (mask keeps the MPEG-version bit free)
      val sync = b0 == 0xff && (b1 & 0xf6) == 0xf0
      if (!sync) {
        if (frames > 0) off = content.length else off += 1
      } else {
        val srIdx = (b2 >> 2) & 0xf
        val chanCfg = ((b2 & 1) << 2) | (b3 >> 6)
        val frameLen = ((b3 & 0x3) << 11) | (b4 << 3) | (b5 >> 5)
        val rdb = (b6 & 0x3) + 1 // raw data blocks per frame
        if (srIdx >= adtsRate.length || chanCfg == 0 || frameLen < 7 ||
            off + frameLen > content.length) {
          if (frames > 0) off = content.length else off += 1
        } else {
          frames += 1
          sampleRate = adtsRate(srIdx)
          channels = if (chanCfg == 7) 8 else chanCfg
          totalSamples += 1024L * rdb
          payloadBytes += frameLen
          off += frameLen
        }
      }
    }
    if (frames < 2 || sampleRate == 0) None
    else {
      val durMs = totalSamples * 1000L / sampleRate
      Some(AacMeta(sampleRate, channels, frames, durMs,
        if (durMs > 0) (payloadBytes * 8 / durMs).toInt else 0))
    }
  }

  /** Parsed FLAC STREAMINFO summary (the mandatory first metadata
    * block of every FLAC stream). */
  case class FlacMeta(sampleRate: Int, channels: Int, bitsPerSample: Int,
                      totalSamples: Long, durationMs: Long)

  /** Parse the FLAC STREAMINFO header: `fLaC` magic, then the spec-
    * mandated first metadata block (type 0, length 34) whose packed
    * fields carry sample rate (20 bits), channels−1 (3), bits-per-
    * sample−1 (5), and total samples (36). The magic plus the fixed
    * block shape make this sniff exact — no chained-frame heuristic
    * needed. Pure header arithmetic — no sample decode. */
  def parseFlac(content: Array[Byte]): Option[FlacMeta] = {
    if (content == null || content.length < 8 + 34) return None
    if (!(content(0) == 'f' && content(1) == 'L' && content(2) == 'a' &&
          content(3) == 'C')) return None
    val blockType = content(4) & 0x7f
    val blockLen = ((content(5) & 0xff) << 16) | ((content(6) & 0xff) << 8) |
      (content(7) & 0xff)
    if (blockType != 0 || blockLen != 34) return None
    def b(i: Int): Int = content(8 + i) & 0xff
    val sampleRate = (b(10) << 12) | (b(11) << 4) | (b(12) >> 4)
    if (sampleRate == 0) return None // 0 is invalid per the format spec
    val channels = ((b(12) >> 1) & 0x7) + 1
    val bps = (((b(12) & 1) << 4) | (b(13) >> 4)) + 1
    val totalSamples = ((b(13) & 0xf).toLong << 32) | (b(14).toLong << 24) |
      (b(15).toLong << 16) | (b(16).toLong << 8) | b(17).toLong
    Some(FlacMeta(sampleRate, channels, bps, totalSamples,
      totalSamples * 1000L / sampleRate))
  }

  /** Parsed H.264 sequence parameter set: profile/level plus the coded
    * picture dimensions after frame cropping. */
  case class H264Meta(profile: Int, level: Int, width: Int, height: Int)

  /** Big-endian bit reader over an RBSP (emulation-prevention bytes
    * already stripped) with exp-Golomb decode — the two primitives an
    * SPS parse needs (ISO/IEC 14496-10 §7.3.2.1). */
  private final class BitReader(b: Array[Byte]) {
    private var pos = 0
    def u(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) {
        v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
        pos += 1; i += 1
      }
      v
    }
    def ue(): Int = { // exp-Golomb: countLeadingZeros zeros, 1, payload
      var zeros = 0
      while (u(1) == 0 && zeros < 32) zeros += 1
      (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }
    def se(): Int = { val k = ue(); if ((k & 1) == 1) (k + 1) / 2 else -(k / 2) }
  }

  /** Find and parse the first SPS NAL (type 7) in an Annex-B H.264
    * byte stream (start codes `00 00 01` / `00 00 00 01`): profile,
    * level, and the real display dimensions from
    * pic_width_in_mbs/pic_height_in_map_units with frame cropping
    * applied. Emulation-prevention bytes (`00 00 03`) are stripped
    * before bit-reading. Pure header arithmetic — no pixel decode. */
  def parseH264Sps(content: Array[Byte]): Option[H264Meta] = {
    if (content == null || content.length < 5) return None
    var i = 0
    while (i + 4 < content.length) {
      val sc3 = content(i) == 0 && content(i + 1) == 0 && content(i + 2) == 1
      // forbidden_zero_bit (0x80) MUST be 0 in a real NAL header — a
      // chance `00 00 01 x7` inside entropy-coded or junk payload is
      // rejected here, and a malformed candidate below falls through to
      // the next start code instead of giving up on the whole stream
      if (sc3 && (content(i + 3) & 0x80) == 0 && (content(i + 3) & 0x1f) == 7) {
        // NAL payload runs to the next start code (or end of stream)
        var end = i + 4
        while (end + 2 < content.length &&
            !(content(end) == 0 && content(end + 1) == 0 &&
              (content(end + 2) == 1 ||
                (end + 3 < content.length && content(end + 2) == 0 &&
                  content(end + 3) == 1)))) end += 1
        if (end + 2 >= content.length) end = content.length
        // strip emulation-prevention bytes: 00 00 03 -> 00 00
        val rbsp = new java.io.ByteArrayOutputStream()
        var j = i + 4
        while (j < end) {
          if (j + 2 < end && content(j) == 0 && content(j + 1) == 0 &&
              content(j + 2) == 3) {
            rbsp.write(0); rbsp.write(0); j += 3
          } else { rbsp.write(content(j)); j += 1 }
        }
        val attempt: Option[H264Meta] = try {
          val r = new BitReader(rbsp.toByteArray)
          val profile = r.u(8)
          r.u(8) // constraint flags + reserved
          val level = r.u(8)
          r.ue() // sps_id
          var chromaIdc = 1
          if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile)) {
            chromaIdc = r.ue()
            if (chromaIdc == 3) r.u(1) // separate_colour_plane
            r.ue(); r.ue() // bit depths
            r.u(1) // qpprime
            if (r.u(1) == 1) { // scaling matrix
              val lists = if (chromaIdc == 3) 12 else 8
              var l = 0
              while (l < lists) {
                if (r.u(1) == 1) { // scaling list present: skip deltas
                  val size = if (l < 6) 16 else 64
                  var last = 8; var next = 8; var k = 0
                  while (k < size) {
                    if (next != 0) next = (last + r.se() + 256) % 256
                    if (next != 0) last = next
                    k += 1
                  }
                }
                l += 1
              }
            }
          }
          r.ue() // log2_max_frame_num_minus4
          val pocType = r.ue()
          if (pocType == 0) r.ue()
          else if (pocType == 1) {
            r.u(1); r.se(); r.se()
            val n = r.ue()
            var k = 0
            while (k < n) { r.se(); k += 1 }
          }
          r.ue() // max_num_ref_frames
          r.u(1) // gaps_in_frame_num_allowed
          val widthMbs = r.ue() + 1
          val heightUnits = r.ue() + 1
          val frameMbsOnly = r.u(1)
          if (frameMbsOnly == 0) r.u(1) // mb_adaptive
          r.u(1) // direct_8x8
          var (cl, cr, ct, cb) = (0, 0, 0, 0)
          if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
          // crop units: 4:2:0 halves both axes; field coding doubles rows
          val (cx, cy0) = chromaIdc match {
            case 0 => (1, 1); case 1 => (2, 2); case 2 => (2, 1); case _ => (1, 1)
          }
          val cy = cy0 * (2 - frameMbsOnly)
          val width = widthMbs * 16 - (cl + cr) * cx
          val height = (2 - frameMbsOnly) * heightUnits * 16 - (ct + cb) * cy
          Some(H264Meta(profile, level, width, height))
        } catch { case _: Exception => None }
        // sanity gate: a parse that "succeeds" with nonpositive
        // dimensions is a decoy; keep scanning for the next candidate
        attempt.filter(m => m.width > 0 && m.height > 0) match {
          case some @ Some(_) => return some
          case None           => () // fall through: advance past this start code
        }
      }
      i += 1
    }
    None
  }

  val containerMetaSchema: StructType = StructType(Seq(
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("channels", IntegerType, nullable = true),
    StructField("bitrate_kbps", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Container sniff + metadata probe as a partition-local batch kernel:
    * AVI (RIFF walk), FLAC (STREAMINFO), H.264 Annex-B (SPS parse),
    * ADTS AAC and MP3 (chained-frame-header walks) — each yields real
    * dimensions/rate/duration WITHOUT decoding samples, so compressed
    * payloads get typed metadata even where the JRE ships no codec.
    * Unrecognized payloads get a null struct. */
  def extractContainerMeta(media: DataFrame): DataFrame = {
    val schema = media.schema.add("container_meta", containerMetaSchema,
      nullable = true)
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { it =>
      it.map { r =>
        val bytes =
          if (r.isNullAt(contentIdx)) Array.emptyByteArray
          else r.getAs[Array[Byte]](contentIdx)
        // sniff order: most-specific first. Magic-anchored formats
        // (RIFF/AVI, fLaC) lead — they cannot be decoys. Then the
        // start-code-anchored SPS parse BEFORE the frame-walk scans —
        // entropy-coded H.264 payload bytes routinely contain 0xFF 0xEx
        // pairs that pass a single-frame audio header check, while a
        // genuine audio stream essentially never embeds a valid Annex-B
        // SPS NAL. AAC (layer bits 00) and MP3 (layer nonzero) headers
        // are mutually exclusive, so their relative order is free.
        val meta: Row = parseAvi(bytes) match {
          case Some(avi) => Row("avi", avi.width, avi.height, null, null,
            null, avi.frames.size * avi.usPerFrame / 1000L)
          case None => parseFlac(bytes) match {
            case Some(fl) => Row("flac", null, null, fl.sampleRate,
              fl.channels, null, fl.durationMs)
            case None => parseH264Sps(bytes) match {
              case Some(h) => Row("h264", h.width, h.height, null, null,
                null, null)
              case None => parseAdtsAac(bytes) match {
                case Some(a) => Row("aac", null, null, a.sampleRate,
                  a.channels, a.bitrateKbps, a.durationMs)
                case None => parseMp3(bytes) match {
                  case Some(m) => Row("mp3", null, null, m.sampleRate,
                    m.channels, m.bitrateKbps, m.durationMs)
                  case None => null
                }
              }
            }
          }
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(Encoders.row(schema))
  }
}
