package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernels.ZoomKernel

/** Multimodal columns for training-data pipelines: image/audio/video as
  * opaque `binary` payloads plus typed metadata. Decode is REAL for the
  * formats the JDK ships codecs for (PNG/JPEG/BMP/GIF via `javax.imageio`,
  * zero extra dependencies); payloads no installed codec recognizes fall
  * back to a deterministic stub backend — the same two-backends-one-
  * semantics dispatch the engine uses elsewhere (graft.core.Backend).
  *
  * At scale: payload rows are processed with `mapPartitions` so decode
  * state (codec instances, scratch buffers) is allocated once per
  * partition, not per row; rows stay narrow (no shuffle) until an explicit
  * aggregation.
  */
object Multimodal {

  // imageio's default disk-backed stream cache would add a temp-file write
  // per decode on the executor hot path; decode inputs are already in-heap
  // byte arrays, so cache in memory
  javax.imageio.ImageIO.setUseCache(false)

  final case class MediaMeta(format: String, width: Int, height: Int, channels: Int)
  final case class Decoded(id: Long, meta: MediaMeta, pixels: Array[Double])

  /** Fallback decode for payloads no installed codec recognizes: an 8x8
    * single-channel "image" whose pixels are byte values cycled through the
    * buffer — deterministic in the payload bytes, stable across runs and
    * partitions, so pipelines over mixed/corrupt corpora keep flowing
    * (the real-corpus analog: quarantine rows instead of failing the job). */
  def decodeStub(payload: Array[Byte]): (MediaMeta, Array[Double]) = {
    val (w, h) = (8, 8)
    val px = Array.tabulate(w * h) { i =>
      if (payload.isEmpty) 0.0 else (payload(i % payload.length) & 0xff).toDouble
    }
    (MediaMeta("stub-gray8", w, h, 1), px)
  }

  /** Real image decode via the JDK's `javax.imageio` (PNG/JPEG/BMP/GIF/
    * WBMP readers ship with the JRE). Returns None when no installed reader
    * recognizes the payload. Pixels are raster samples in row-major
    * (y, x, band) interleaved order, one Double per sample — band count is
    * preserved (gray=1, RGB=3, RGBA=4). */
  def decodeImage(payload: Array[Byte]): Option[(MediaMeta, Array[Double])] = {
    if (payload == null || payload.length < 8) return None
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val img = reader.read(0)
          val fmt = reader.getFormatName.toLowerCase(java.util.Locale.ROOT)
          val (w, h) = (img.getWidth, img.getHeight)
          val raster = img.getRaster
          val ch = raster.getNumBands
          val px = new Array[Double](w * h * ch)
          var p = 0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              var b = 0
              while (b < ch) { px(p) = raster.getSampleDouble(x, y, b); p += 1; b += 1 }
              x += 1
            }
            y += 1
          }
          Some((MediaMeta(fmt, w, h, ch), px))
        } finally reader.dispose()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
    finally iis.close()
  }

  /** Encode an 8-bit grayscale image to PNG bytes (test/round-trip helper;
    * PNG gray8 is lossless so decode(encode(px)) == px exactly). */
  def encodeGrayPng(w: Int, h: Int, pixels: Array[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixels(y * w + x) & 0xff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode a binary column per partition (codec state amortized): real
    * imageio decode first, stub fallback for unrecognized payloads. */
  def decode(df: DataFrame, idCol: String, payloadCol: String)
            (implicit spark: SparkSession): Dataset[Decoded] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (meta, px) = decodeImage(payload).getOrElse(decodeStub(payload))
          Decoded(id, meta, px)
        }
      }
  }

  /** 64-bit average hash (aHash) of a decoded frame — the classic image
    * near-dup fingerprint: bit i is set iff pixel i sits strictly above the
    * frame mean. The comparison is the integer-exact cross-multiplied form
    * `px(i) * n > sum` (no division), so an oracle can replay it in exact
    * arithmetic. Returned as two 32-bit halves (bits 0-31, 32-63) in Longs
    * so SQL twins avoid the 1L<<63 sign-bit overflow. Frames are expected
    * pre-resized to 8x8 (64 px); any length up to 64 hashes the prefix. */
  def averageHash64(pixels: Array[Double]): (Long, Long) = {
    val n = math.min(pixels.length, 64)
    var sum = 0.0; var i = 0
    while (i < n) { sum += pixels(i); i += 1 }
    var lo = 0L; var hi = 0L
    i = 0
    while (i < n) {
      if (pixels(i) * n > sum) {
        if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
      }
      i += 1
    }
    (lo, hi)
  }

  // ---- audio ----

  final case class AudioMeta(format: String, sampleRate: Int, channels: Int,
                             bits: Int, nSamples: Int)
  final case class DecodedAudio(id: Long, meta: AudioMeta, samples: Array[Double])

  /** Encode 16-bit PCM mono as a RIFF/WAVE payload (test/round-trip
    * helper; PCM is uncompressed so decode(encode(s)) == s exactly). */
  def encodeWavPcm16(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate = rate*block
      .putShort(2).putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { bb.putShort(samples(i)); i += 1 }
    bb.array()
  }

  /** Real audio decode: parse a RIFF/WAVE container with 16-bit PCM data
    * (the format itself — no codec library involved, so this path is fully
    * deterministic). Chunks are walked generically (a WAV with LIST/fact
    * chunks before `data` parses fine); None for anything that is not
    * RIFF/WAVE/PCM16 — the same quarantine contract as [[decodeImage]]. */
  def decodeWav(payload: Array[Byte]): Option[(AudioMeta, Array[Double])] = {
    if (payload == null || payload.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(): String = {
      val t = new Array[Byte](4); bb.get(t); new String(t, "US-ASCII")
    }
    try {
      if (tag4() != "RIFF") return None
      bb.getInt // riff size (unreliable in the wild; chunk walk bounds below)
      if (tag4() != "WAVE") return None
      var rate = 0; var channels = 0; var bits = 0; var fmtOk = false
      while (bb.remaining() >= 8) {
        val tag = tag4(); val len = bb.getInt
        if (len < 0 || len > bb.remaining()) return None
        if (tag == "fmt ") {
          val fmtEnd = bb.position() + len
          val audioFormat = bb.getShort
          channels = bb.getShort
          rate = bb.getInt
          bb.getInt; bb.getShort // byte rate, block align
          bits = bb.getShort
          fmtOk = audioFormat == 1 && bits == 16 && channels >= 1
          bb.position(fmtEnd)
        } else if (tag == "data") {
          if (!fmtOk) return None
          val n = len / 2
          val out = new Array[Double](n)
          var i = 0
          while (i < n) { out(i) = bb.getShort.toDouble; i += 1 }
          return Some((AudioMeta("wav-pcm16", rate, channels, bits, n / channels), out))
        } else {
          bb.position(bb.position() + len + (len & 1)) // chunks pad to even
        }
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fallback for unrecognized audio payloads: bytes cycled into 64
    * centered "samples" — deterministic quarantine, mirrors decodeStub. */
  def decodeAudioStub(payload: Array[Byte]): (AudioMeta, Array[Double]) = {
    val n = 64
    val s = Array.tabulate(n) { i =>
      if (payload == null || payload.isEmpty) 0.0
      else ((payload(i % payload.length) & 0xff) - 128).toDouble
    }
    (AudioMeta("stub-pcm", 0, 1, 16, n), s)
  }

  /** Decode a binary audio column per partition: WAV/PCM16 parse first,
    * stub fallback for unrecognized payloads. */
  def decodeAudio(df: DataFrame, idCol: String, payloadCol: String)
                 (implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, payload) =>
          val (meta, s) = decodeWav(payload).getOrElse(decodeAudioStub(payload))
          DecodedAudio(id, meta, s)
        }
      }
  }

  /** Resample decoded (mono) audio to a target sample count with the real
    * order-1 zoom kernel — the audio analog of [[resize]]. */
  def resampleAudio(decoded: Dataset[DecodedAudio], targetN: Int)
                   (implicit spark: SparkSession): Dataset[DecodedAudio] = {
    import spark.implicits._
    decoded.map { d =>
      val (s, shape) = ZoomKernel.zoomToShape(d.samples,
        Array(d.samples.length), Array(targetN), 1, 0.0)
      DecodedAudio(d.id, d.meta.copy(nSamples = shape(0)), s)
    }
  }

  /** Resize decoded frames with the real zoom kernel (order-1). */
  def resize(decoded: Dataset[Decoded], targetH: Int, targetW: Int)
            (implicit spark: SparkSession): Dataset[Decoded] = {
    import spark.implicits._
    decoded.map { d =>
      val (px, shape) = ZoomKernel.zoomToShape(d.pixels,
        Array(d.meta.height, d.meta.width), Array(targetH, targetW), 1, 0.0)
      Decoded(d.id, d.meta.copy(width = shape(1), height = shape(0)), px)
    }
  }

  /** Every k-th `frameBytes` chunk of a payload (the last one may be
    * short); the stub codec's frame model. */
  def frames(payload: Array[Byte], frameBytes: Int, everyK: Int): Array[Array[Byte]] = {
    require(frameBytes > 0 && everyK > 0,
      s"frameBytes/everyK must be positive, got $frameBytes/$everyK")
    val nFrames = (payload.length + frameBytes - 1) / frameBytes
    Array.tabulate((nFrames + everyK - 1) / everyK) { o =>
      val from = o * everyK * frameBytes
      java.util.Arrays.copyOfRange(payload, from, math.min(from + frameBytes, payload.length))
    }
  }

  /** "Video" frame sampling: treat the payload as a sequence of fixed-size
    * frame chunks and keep every k-th — the partition/batch plumbing of
    * real frame sampling, as one codegen'd kernel call per row
    * ([[graft.exprs.Kernels.frameSample]]). */
  def sampleFrames(df: DataFrame, payloadCol: String, frameBytes: Int, everyK: Int): DataFrame =
    df.withColumn("frames", graft.exprs.Kernels.frameSample(
        col(payloadCol).cast("binary"), lit(frameBytes), lit(everyK)))
      .withColumn("n_frames", size(col("frames")))

  /** Metadata extraction that needs no decode: byte size + checksum. */
  def meta(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn("n_bytes", octet_length(col(payloadCol).cast("binary")))
      .withColumn("checksum", md5(col(payloadCol).cast("binary")))
}
