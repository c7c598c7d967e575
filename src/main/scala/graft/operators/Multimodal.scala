package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video as opaque binary columns
  * with typed metadata.
  *
  * The Spark-side plumbing (schema, partition-parallel decode via
  * mapPartitions over a typed Dataset, batch shape) is real. Image decode
  * is REAL for the formats the JDK ships decoders for — PNG/JPEG/BMP/GIF
  * via `javax.imageio`, zero new dependencies ([[decodeImage]], r12) —
  * with the deterministic [[fakeDecode]] stub as the fallback for
  * unknown codecs (audio/video and the `image/fake` test payloads), so
  * the dataflow stays testable end-to-end either way. Swap in
  * JavaCV/TwelveMonkeys for the wider codec matrix without touching the
  * dataflow.
  */
object Multimodal {

  /** One-time per-JVM: route `ImageIO` stream caches to MEMORY. The
    * default (`getUseCache == true`) makes the static `ImageIO.read/
    * write` convenience methods back every image with a temp FILE in
    * `java.io.tmpdir` (`FileCacheImageInput/OutputStream`) — one file
    * per decode/encode call, so a per-document decode pipeline's
    * wall-clock is hostage to tmpdir state (BASELINE.md r17 MmLab: 1114 ms vs
    * 338 ms full-query on a healthy tmpdir; the r16 3.08 s reading was
    * the same code under tmpdir pressure). Objects are per-JVM
    * singletons, so referencing this lazy val from any executor-side
    * decode/encode body flips the flag exactly once per executor. */
  private[graft] lazy val imageIoMemCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(id: Long, payload: Array[Byte], mediaType: String,
                         width: Int, height: Int)

  /** Extracted features (what a real pipeline would feed downstream). */
  case class MediaFeatures(id: Long, mediaType: String, nBytes: Long,
                           meanByte: Double, entropyBits: Double,
                           thumbnail: Array[Byte])

  /** STUB decoder: a real implementation would decode the codec; this one
    * derives a deterministic w×h pixel grid from the payload bytes so
    * the pipeline is testable end-to-end. Decodes to the DECLARED
    * dimensions (r11 — a fixed 64-byte buffer made any record with
    * width·height > 64 throw ArrayIndexOutOfBounds inside [[resize]]'s
    * executors).
    */
  def fakeDecode(payload: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(w * h, 0))
    if (payload.isEmpty || out.isEmpty) return out
    var i = 0
    while (i < out.length) { out(i) = payload(i % payload.length); i += 1 }
    out
  }

  /** REAL image decode via `javax.imageio` (PNG/JPEG/BMP/GIF decoders
    * ship with the JDK): grayscale luminance grid + the image's ACTUAL
    * dimensions. None when the payload is not a decodable image (ImageIO
    * sniffs the container and returns null) — callers fall back to the
    * deterministic stub.
    *
    * Grayscale rasters are read as raw SAMPLES, not through getRGB:
    * `TYPE_BYTE_GRAY`'s getRGB applies a linear-gray→sRGB color-space
    * conversion (v=128 comes back ~186), which would break exact
    * round-trips of gray PNGs. Color images use integer luminance
    * (299r + 587g + 114b + 500) / 1000 — deterministic across JVMs, and
    * the identity on r=g=b=v pixels.
    */
  def decodeImage(payload: Array[Byte]): Option[(Array[Byte], Int, Int)] =
    try {
      imageIoMemCache
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val out = new Array[Byte](w * h)
        val raster = img.getRaster
        if (raster.getNumBands == 1 &&
            raster.getSampleModel.getSampleSize(0) <= 8) {
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              out(y * w + x) = raster.getSample(x, y, 0).toByte
              x += 1
            }
            y += 1
          }
        } else {
          val rgb = img.getRGB(0, 0, w, h, null, 0, w)
          var i = 0
          while (i < rgb.length) {
            val p = rgb(i)
            val lum = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
              114 * (p & 0xff) + 500) / 1000
            out(i) = lum.toByte
            i += 1
          }
        }
        Some((out, w, h))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Pixel grid + dimensions of a record: the REAL decoder for real image
    * media types, the deterministic stub (declared dims) otherwise. */
  def decode(r: MediaRecord): (Array[Byte], Int, Int) = {
    val real =
      if (r.mediaType.startsWith("image/") && r.mediaType != "image/fake")
        decodeImage(r.payload)
      else None
    real.getOrElse((fakeDecode(r.payload, r.width, r.height),
      r.width, r.height))
  }

  /** Nearest-neighbor resample of a `sw`×`sh` grid to `tw`×`th` — the
    * shared kernel of [[resize]] and [[extractFeatures]]'s thumbnail.
    * Degenerate sources (zero-area) produce a zero grid. */
  private def resample(src: Array[Byte], sw: Int, sh: Int,
                       tw: Int, th: Int): Array[Byte] = {
    val out = new Array[Byte](math.max(tw * th, 0))
    if (sw <= 0 || sh <= 0 || src.isEmpty) return out
    var y = 0
    while (y < th) {
      var x = 0
      while (x < tw) {
        out(y * tw + x) = src((y * sh / th) * sw + (x * sw / tw))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Per-partition feature extraction — the decode runs inside executors,
    * one partition at a time (the Scala analog of mapInPandas batches).
    */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        // 8×8 thumbnail from the decoded pixels (real decoder for real
        // image types; the fake 8×8-declared path resamples 8×8→8×8 =
        // identity with the pre-r12 behavior)
        val (grid, gw, gh) = decode(r)
        val px = resample(grid, gw, gh, 8, 8)
        val n = r.payload.length.toLong
        val mean = if (n == 0) 0.0 else r.payload.map(b => (b & 0xff).toDouble).sum / n
        val counts = new Array[Long](256)
        r.payload.foreach(b => counts(b & 0xff) += 1)
        val ent = if (n == 0) 0.0 else -counts.filter(_ > 0).map { c =>
          val p = c.toDouble / n; p * math.log(p) / math.log(2.0)
        }.sum
        MediaFeatures(r.id, r.mediaType, n, mean, ent, px)
      }
    }
  }

  /** A resized media row (nearest-neighbor output + checksum feature). */
  case class ResizedMedia(id: Long, outW: Int, outH: Int, nBytes: Long,
                          checksum: Long, pixels: Array[Byte])

  /** Nearest-neighbor resize over the decoded pixel grid — the
    * image-resize step of a preprocessing pipeline. Runs per partition
    * inside executors (same dataflow as [[extractFeatures]]); the decode
    * is REAL for JDK-supported image formats and the deterministic stub
    * otherwise ([[decode]]); source dimensions come from the decoded
    * image, not the declared metadata, on the real path. */
  def resize(ds: Dataset[MediaRecord], tw: Int, th: Int): Dataset[ResizedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val (src, sw, sh) = decode(r)
        val out = resample(src, sw, sh, tw, th)
        var sum = 0L
        out.foreach(b => sum += (b & 0xff))
        ResizedMedia(r.id, tw, th, out.length.toLong, sum, out)
      }
    }
  }

  /** Extracted audio features: duration + integer-exact signal stats
    * (sum of squares instead of RMS so a SQL oracle replays them without
    * float drift; zero crossings = sign flips between adjacent samples). */
  case class AudioFeatures(id: Long, nSamples: Long, sampleRate: Int,
                           channels: Int, peakAbs: Long, sumSquares: Long,
                           zeroCrossings: Long)

  /** REAL audio decode via `javax.sound.sampled` (the WAV/AIFF/AU readers
    * ship with the JDK — same zero-dependency move as [[decodeImage]],
    * r12). Scope: 16-bit signed PCM (the dominant raw-audio interchange
    * format); other encodings return None and callers fall back to the
    * deterministic stub. PCM in a WAV container is lossless, so a decoded
    * sample equals the written sample exactly — the property the
    * cross-engine oracle row builds on. */
  def decodeWavPcm16(payload: Array[Byte]): Option[(Array[Short], Int, Int)] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16 ||
          fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        None
      else {
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        val out = new Array[Short](n)
        val be = fmt.isBigEndian
        var i = 0
        while (i < n) {
          val a = bytes(2 * i) & 0xff
          val b = bytes(2 * i + 1) & 0xff
          out(i) = (if (be) (a << 8) | b else (b << 8) | a).toShort
          i += 1
        }
        Some((out, fmt.getSampleRate.toInt, fmt.getChannels))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Partition-parallel audio feature extraction (the audio twin of
    * [[extractFeatures]]): real decode for PCM16 payloads; other
    * payloads fall back to reading the raw bytes as signed 8-bit
    * samples — deterministic, so the non-audio path stays testable. */
  def extractAudioFeatures(ds: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val (samples, rate, ch) = decodeWavPcm16(r.payload) match {
          case Some((s, sr, c)) => (s, sr, c)
          case None => (r.payload.map(_.toShort), 0, 0)
        }
        var peak = 0L
        var sumSq = 0L
        var zc = 0L
        var i = 0
        while (i < samples.length) {
          val v = samples(i).toLong
          val a = math.abs(v)
          if (a > peak) peak = a
          sumSq += v * v
          if (i > 0 && ((samples(i - 1) < 0) != (v < 0))) zc += 1
          i += 1
        }
        AudioFeatures(r.id, samples.length.toLong, rate, ch, peak, sumSq, zc)
      }
    }
  }

  /** Frame sampling for "video" payloads: every `stride`-th chunk of
    * `frameBytes` — demonstrates the explode-to-frames dataflow shape. */
  def sampleFrames(ds: Dataset[MediaRecord], frameBytes: Int, stride: Int): DataFrame = {
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      r.payload.grouped(frameBytes).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .map { case (chunk, i) => (r.id, i, chunk) }
    }.toDF("id", "frame_idx", "frame")
  }

  /** Build a media table from documents: payload = utf-8 bytes of text
    * (deterministic fake "image"), metadata from n_chars. */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("payload"),
      lit("image/fake").as("mediaType"),
      lit(8).as("width"), lit(8).as("height")).as[MediaRecord]
  }
}
