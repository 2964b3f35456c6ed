package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column operators: image/audio/video as opaque BINARY columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * kernels over `mapPartitions`.
  *
  * Codec status: PNM images (binary PGM `P5` / PPM `P6`) are decoded by a
  * REAL pure-JVM parser ([[decodePnm]] — no external libraries needed), and
  * JPEG/PNG/GIF/BMP/TIFF are decoded by the JDK's own `javax.imageio`
  * readers ([[decodeImageIO]] — also zero external libraries). The synthetic
  * corpus generates genuine PGM, PNG and JPEG payloads, so all three decode
  * paths run end-to-end on real image bytes. WAV (RIFF/PCM) audio is
  * decoded by the JDK's `javax.sound.sampled` ([[decodeWavPcm]] — again no
  * external libraries) with genuine WAV payloads in the synthetic corpus.
  * Only compressed audio and video remain stub-fallback ([[decodeStub]]) —
  * the JDK ships no codecs for those; swap that fallback for ffmpeg
  * bindings on a real cluster. Everything Spark-side — schema, batch shape,
  * partition strategy, join shape — is real and tested either way.
  */
object Multimodal {

  /** Typed media row: the at-scale layout for media alongside documents —
    * binary payload + enough metadata to prune without touching bytes. */
  final case class MediaRow(
      media_ref: String,
      doc_id: String,
      kind: String, // image | audio | video
      content: Array[Byte],
      width: Int,
      height: Int,
      duration_ms: Long)

  final case class MediaFeatures(
      media_ref: String,
      doc_id: String,
      kind: String,
      n_bytes: Int,
      sha1: String,
      decoder: String, // "pnm" | "imageio" (real parses) | "stub" (fallback)
      dec_width: Int, // decoded raster dims — 0 when the raster is empty
      dec_height: Int,
      mean_luma: Double,
      edge_score: Double,
      phash64: Long)

  /** Deterministic synthetic media corpus keyed by the extraction output's
    * media_refs: REAL image files — a seeded pseudo-raster encoded as binary
    * PGM (P5), PNG or JPEG (round-robin by ref hash), so both the pure-JVM
    * PNM parser and the `javax.imageio` dispatch run on genuine bytes. */
  def syntheticMedia(spark: SparkSession, refs: Dataset[(String, String)]): Dataset[MediaRow] = {
    import spark.implicits._
    refs.map { case (ref, docId) =>
      val seed = ref.hashCode.toLong & 0xffffffffL
      val w = 16 + (seed % 48).toInt
      val h = 16 + ((seed >> 8) % 48).toInt
      val raster = new Array[Byte](w * h)
      var s = seed
      var i = 0
      while (i < raster.length) {
        s = s * 6364136223846793005L + 1442695040888963407L
        raster(i) = (s >>> 56).toByte
        i += 1
      }
      val bytes = (seed % 3) match {
        case 0 => encodePgm(raster, w, h)
        case 1 => encodeViaImageIO(raster, w, h, "png")
        case _ => encodeViaImageIO(raster, w, h, "jpg")
      }
      MediaRow(ref, docId, "image", bytes, w, h, 0L)
    }
  }

  private def encodePgm(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val header = s"P5\n# graft synthetic\n$w $h\n255\n".getBytes("US-ASCII")
    val bytes = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, bytes, 0, header.length)
    System.arraycopy(raster, 0, bytes, header.length, w * h)
    bytes
  }

  private def encodeViaImageIO(raster: Array[Byte], w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    img.getRaster.setDataElements(0, 0, w, h, raster)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** REAL PNM decoder (binary PGM `P5` and PPM `P6`, maxval <= 255) — pure
    * JVM, handles `#` comments and arbitrary header whitespace per the
    * netpbm spec. Returns the luma raster (P6 via BT.601 weights), or None
    * when the bytes are not a well-formed binary PNM. */
  def decodePnm(content: Array[Byte]): Option[Array[Array[Int]]] = {
    if (content == null || content.length < 2 || content(0) != 'P') return None
    val kind = content(1)
    if (kind != '5' && kind != '6') return None
    var pos = 2
    def skipWs(): Unit = {
      var done = false
      while (!done && pos < content.length) {
        val c = content(pos)
        if (c == '#') { while (pos < content.length && content(pos) != '\n') pos += 1 }
        else if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == 11 || c == '\f') pos += 1
        else done = true
      }
    }
    def readInt(): Int = {
      skipWs()
      var v = -1
      while (pos < content.length && content(pos) >= '0' && content(pos) <= '9') {
        v = (if (v < 0) 0 else v) * 10 + (content(pos) - '0')
        pos += 1
        if (v > (1 << 26)) return -1 // absurd dimension: reject
      }
      v
    }
    val w = readInt(); val h = readInt(); val maxv = readInt()
    if (w <= 0 || h <= 0 || maxv <= 0 || maxv > 255 || w.toLong * h > (1L << 26)) return None
    pos += 1 // exactly one whitespace byte after maxval, then the raster
    val channels = if (kind == '5') 1 else 3
    if (content.length - pos < w.toLong * h * channels) return None
    val raster = Array.ofDim[Int](h, w)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val base = pos + (y * w + x) * channels
        raster(y)(x) =
          if (channels == 1) content(base) & 0xff
          else ((content(base) & 0xff) * 299 + (content(base + 1) & 0xff) * 587 +
            (content(base + 2) & 0xff) * 114) / 1000
        x += 1
      }
      y += 1
    }
    Some(raster)
  }

  /** REAL image decode via the JDK's `javax.imageio` readers (JPEG, PNG,
    * GIF, BMP, TIFF ship with the JDK — no external libraries). Converts to
    * a luma raster with BT.601 weights. None when no reader claims the
    * bytes or decoding fails. */
  // ImageIO's default input-stream cache is a TEMP FILE created (and
  // deleted) PER DECODE — pure filesystem overhead when the payload is
  // already an in-memory byte array. One-time switch to the in-memory
  // cache; decode results are identical (r6, measured hot in q51).
  javax.imageio.ImageIO.setUseCache(false)

  def decodeImageIO(content: Array[Byte]): Option[Array[Array[Int]]] = {
    if (content == null || content.length < 8) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0 || w.toLong * h > (1L << 26)) return None
      val raster = Array.ofDim[Int](h, w)
      // single-band (grayscale) images: read raw samples — getRGB would
      // route them through the gray->sRGB color transform and distort luma.
      // Bulk row reads (r6): getSamples/getRGB once per ROW, not per pixel —
      // same sample/conversion path as the per-pixel calls, minus the
      // per-call bounds/coordinate overhead.
      val grayBand = img.getColorModel.getNumColorComponents == 1
      if (grayBand) {
        val srcRaster = img.getRaster
        var y = 0
        while (y < h) {
          srcRaster.getSamples(0, y, w, 1, 0, raster(y))
          y += 1
        }
      } else {
        val row = new Array[Int](w)
        var y = 0
        while (y < h) {
          img.getRGB(0, y, w, 1, row, 0, w)
          var x = 0
          while (x < w) {
            val rgb = row(x)
            raster(y)(x) =
              (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
            x += 1
          }
          y += 1
        }
      }
      Some(raster)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** STUB decode fallback for payloads no real decoder claims (audio/video
    * byte streams, malformed images): bytes -> deterministic grayscale
    * raster. A real implementation would dispatch to ffmpeg here. */
  def decodeStub(content: Array[Byte], width: Int, height: Int): Array[Array[Int]] = {
    val raster = Array.ofDim[Int](height, width)
    var i = 0
    while (i < width * height && i < content.length) {
      raster(i / width)(i % width) = content(i) & 0xff
      i += 1
    }
    raster
  }

  /** Decode dispatch: real PNM parse first (cheapest probe), then the JDK's
    * `javax.imageio` readers (JPEG/PNG/GIF/BMP/TIFF), stub fallback last.
    * Returns (raster, decoderName). */
  def decode(content: Array[Byte], width: Int, height: Int): (Array[Array[Int]], String) =
    decodePnm(content) match {
      case Some(r) => (r, "pnm")
      case None => decodeImageIO(content) match {
        case Some(r) => (r, "imageio")
        case None => (decodeStub(if (content == null) Array.empty[Byte] else content,
          math.max(1, width), math.max(1, height)), "stub")
      }
    }

  /** Nearest-neighbor resize of a decoded raster (real, not a stub). */
  def resizeNearest(raster: Array[Array[Int]], outW: Int, outH: Int): Array[Array[Int]] = {
    val h = raster.length
    val w = if (h == 0) 0 else raster(0).length
    Array.tabulate(outH, outW) { (y, x) =>
      if (h == 0 || w == 0) 0 else raster(y * h / outH)(x * w / outW)
    }
  }

  /** Frame sampling for byte-stream video stand-ins: every k-th frame's
    * byte offset (the partition/batch shape is what matters at scale). */
  def frameSample(nBytes: Int, frameBytes: Int, everyK: Int): Seq[Int] =
    (0 until nBytes / math.max(1, frameBytes) by math.max(1, everyK)).map(_ * frameBytes)

  // per-thread reusable digest (r6): getInstance is a provider lookup per
  // call and this runs once per media row; digest() resets the instance
  private val sha1Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-1")
  }

  /** Feature extraction kernel: decode -> resize 8x8 -> mean/edge/pHash.
    * One `mapPartitions` pass; with PNM payloads the decode is a real
    * image parse. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val content = if (m.content == null) Array.empty[Byte] else m.content
      val (raster, decoder) = decode(content, m.width, m.height)
      val small = resizeNearest(raster, 8, 8)
      val flat = small.flatten
      val mean = if (flat.isEmpty) 0.0 else flat.sum.toDouble / flat.length
      var edges = 0.0
      var y = 0
      while (y < 8) {
        var x = 1
        while (x < 8) { edges += math.abs(small(y)(x) - small(y)(x - 1)); x += 1 }
        y += 1
      }
      var phash = 0L
      var i = 0
      while (i < 64) {
        if (flat(i) > mean) phash |= (1L << i)
        i += 1
      }
      MediaFeatures(m.media_ref, m.doc_id, m.kind, content.length,
        TextOps.toHex(sha1Local.get().digest(content)),
        decoder, if (raster.length == 0) 0 else raster(0).length, raster.length,
        mean, edges / 56.0, phash)
    })
  }

  // ---------------------------------------------------------------------
  // Audio: REAL WAV (RIFF/PCM) decode via the JDK's javax.sound.sampled —
  // like imageio, the parser ships with the JDK; only compressed audio and
  // video remain stub territory.
  // ---------------------------------------------------------------------

  final case class AudioFeatures(
      media_ref: String,
      doc_id: String,
      n_bytes: Int,
      decoder: String, // "wav" (real parse) | "stub"
      sample_rate: Int,
      n_samples: Int,
      duration_ms: Long,
      rms: Double, // root-mean-square amplitude, normalized to [0,1]
      zero_crossings: Int)

  /** Encode 16-bit mono PCM as a genuine WAV byte stream (RIFF header +
    * PCM fmt chunk — the public container format, written directly so the
    * bytes are deterministic). */
  def encodeWavPcm16(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(1) // mono
    bb.putInt(sampleRate)
    bb.putInt(sampleRate * 2) // byte rate
    bb.putShort(2) // block align
    bb.putShort(16) // bits per sample
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL WAV decode via `javax.sound.sampled.AudioSystem`: returns 16-bit
    * mono samples + sample rate, or None when the bytes are not a parseable
    * WAV (falls through to the stub, mirroring the image dispatch). */
  def decodeWavPcm(content: Array[Byte]): Option[(Array[Short], Int)] = {
    if (content == null || content.length < 44) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(content))
      val fmt = in.getFormat
      if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) return None
      val bytes = in.readAllBytes()
      val n = bytes.length / 2
      val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN
      val bb = java.nio.ByteBuffer.wrap(bytes).order(order)
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) { samples(i) = bb.getShort(); i += 1 }
      Some((samples, fmt.getSampleRate.toInt))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Deterministic synthetic audio corpus: genuine RIFF/PCM WAV bytes with a
    * seeded 16-bit waveform (same keying discipline as [[syntheticMedia]]). */
  def syntheticAudio(spark: SparkSession, refs: Dataset[(String, String)]): Dataset[MediaRow] = {
    import spark.implicits._
    refs.map { case (ref, docId) =>
      val seed = ref.hashCode.toLong & 0xffffffffL
      val n = 800 + (seed % 1600).toInt // 0.1-0.3 s at 8 kHz
      val samples = new Array[Short](n)
      var s = seed
      var i = 0
      while (i < n) {
        s = s * 6364136223846793005L + 1442695040888963407L
        samples(i) = (s >>> 48).toShort
        i += 1
      }
      val bytes = encodeWavPcm16(samples, 8000)
      MediaRow(ref, docId, "audio", bytes, 0, 0, n * 1000L / 8000L)
    }
  }

  /** Audio feature kernel: real WAV parse -> duration / RMS / zero-crossing
    * rate (the standard cheap audio-quality signals); stub fallback keeps
    * the pipeline total like the image path. */
  def extractAudioFeatures(media: Dataset[MediaRow]): Dataset[AudioFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { m =>
      val content = if (m.content == null) Array.empty[Byte] else m.content
      decodeWavPcm(content) match {
        case Some((samples, rate)) =>
          var sumSq = 0.0
          var zc = 0
          var i = 0
          while (i < samples.length) {
            val v = samples(i) / 32768.0
            sumSq += v * v
            if (i > 0 && ((samples(i) >= 0) != (samples(i - 1) >= 0))) zc += 1
            i += 1
          }
          val rms = if (samples.isEmpty) 0.0 else math.sqrt(sumSq / samples.length)
          AudioFeatures(m.media_ref, m.doc_id, content.length, "wav", rate, samples.length,
            if (rate > 0) samples.length * 1000L / rate else 0L, rms, zc)
        case None =>
          AudioFeatures(m.media_ref, m.doc_id, content.length, "stub", 0, 0, m.duration_ms, 0.0, 0)
      }
    })
  }

  /** End-to-end: extraction output spans -> media refs -> synthetic payloads
    * -> features. Demonstrates the join shape: media features come back to
    * the doc table via an equi-join on media_ref. */
  def mediaFeaturesForCorpus(spark: SparkSession, spansTable: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    val refs = spansTable
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "image" && length(col("s.media_ref")) > 0)
      .select(col("s.media_ref").as("ref"), col("doc_id").cast("string"))
      .distinct()
      .as[(String, String)]
    extractFeatures(syntheticMedia(spark, refs))
  }
}
