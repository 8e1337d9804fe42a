package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** One opaque media object: binary payload + typed metadata. */
final case class MediaRecord(id: Long, mime: String, content: Array[Byte])

/** Decoded features for one media object. */
final case class MediaFeature(
    id: Long, mime: String, nBytes: Int, fingerprint: Long, feature: Array[Float])

/** One sampled "frame" (fixed-size byte window) of a media object. */
final case class MediaFrame(id: Long, frameIdx: Int, nBytes: Int, fingerprint: Long)

/** Decoded image features for one media object: real pixel dims + a
  * grid-pooled luminance feature. `decoded = false` rows fell back to the
  * byte-level stub (payload was not a decodable image).
  */
final case class ImageFeature(
    id: Long, width: Int, height: Int, decoded: Boolean, feature: Array[Float])

/** Decoded raw-PCM16 audio features for one media object — all exact
  * integers so downstream ratios are single IEEE divisions: sample count,
  * peak |amplitude|, Σ amplitude² (the energy numerator), zero-sample count
  * (the silence numerator).
  */
final case class PcmFeature(
    id: Long, nSamples: Long, peakAbs: Long, sumSq: Long, nZero: Long)

/** Parsed WAV (RIFF) container: the fmt-chunk fields a pipeline keys on
  * plus the data chunk's raw PCM payload.
  */
final case class WavInfo(
    audioFormat: Int, channels: Int, sampleRate: Int, bitsPerSample: Int,
    data: Array[Byte])

/** [[PcmFeature]] plus the container-level metadata a real WAV parse
  * yields; `decoded = false` marks a malformed container (bad magic,
  * truncated chunk walk, non-PCM16 format) — the quarantine signal.
  */
final case class WavFeature(
    id: Long, decoded: Boolean, sampleRate: Long, channels: Long,
    nSamples: Long, peakAbs: Long, sumSq: Long, nZero: Long)

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The IMAGE decode layer is real: [[decodeImage]] /
  * [[extractImageFeatures]] / [[thumbnail]] run `javax.imageio` (ships in
  * the JDK — PNG/JPEG/BMP/GIF codecs) inside the per-partition batch, with
  * the deterministic [[fakeDecode]] stub as the fallback for payloads that
  * are not decodable images. The AUDIO decode layer is real for raw PCM16
  * ([[pcmFeatures]] — headerless WAV-data-chunk layout needs no codec);
  * compressed audio/video codecs are NOT available in this environment, so
  * those families keep the stub. Everything around the codec is the real
  * production shape and is pinned by MultimodalSpec:
  *   - schema: (id, mime, content binary) in / typed case-class out, so
  *     Parquet round-trips and Catalyst prunes metadata without touching
  *     payloads;
  *   - execution: `mapPartitions` — one JVM-side batch per partition,
  *     exactly where a real decoder would amortize its init cost
  *     (per-partition codec handle, like a Pandas-UDF batch);
  *   - partitioning: results are row-local, so repartitioning never
  *     changes them (asserted), and payload bytes never shuffle.
  */
object MultimodalOps {

  /** STUB decoder ("???" placeholder for the real codec): deterministic
    * rolling hash over the payload, folded into a fixed-dim float vector.
    * Replace the body with the real image/audio feature extractor; the
    * signature and batch shape are what production code keeps.
    */
  def fakeDecode(content: Array[Byte], dim: Int): (Long, Array[Float]) = {
    val feature = new Array[Float](dim)
    var h = 1125899906842597L // FNV-ish seed
    var i = 0
    while (i < content.length) {
      h = h * 31 + (content(i) & 0xff)
      feature(i % dim) += ((h >>> 33) % 1000).toInt / 1000.0f
      i += 1
    }
    (h, feature)
  }

  /** Real image decode via the JDK's ImageIO (PNG/JPEG/BMP/GIF): None for
    * payloads no installed codec accepts — the caller decides the
    * fallback, nothing throws on garbage bytes.
    */
  def decodeImage(content: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content)))
    catch { case _: java.io.IOException | _: RuntimeException => None }

  /** Grid-pooled mean luminance (ITU-R 601 integer weights, normalized to
    * [0, 1]) — a real pixel-domain feature: grid×grid cells, each the mean
    * luminance of its pixel block (cells an image smaller than the grid
    * never touches stay 0).
    */
  def luminanceGrid(img: java.awt.image.BufferedImage, grid: Int): Array[Float] = {
    require(grid > 0, "grid must be positive")
    val feature = new Array[Float](grid * grid)
    val counts = new Array[Int](grid * grid)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      val rowCell = (y.toLong * grid / h).toInt * grid
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000f / 255f
        val cell = rowCell + (x.toLong * grid / w).toInt
        feature(cell) += lum; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var c = 0
    while (c < feature.length) { if (counts(c) > 0) feature(c) /= counts(c); c += 1 }
    feature
  }

  /** Per-partition batch image feature extraction with the REAL decoder:
    * ImageIO decode → dims + [[luminanceGrid]]; undecodable payloads fall
    * back to [[fakeDecode]] over the raw bytes (decoded = false, dims -1)
    * instead of failing the batch — at 100 TB a corrupt object must cost
    * one row, not a task retry storm.
    */
  def extractImageFeatures(media: Dataset[MediaRecord], grid: Int = 4): Dataset[ImageFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // per-partition codec init site: keep ImageIO off its disk cache
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        decodeImage(m.content) match {
          case Some(img) =>
            ImageFeature(m.id, img.getWidth, img.getHeight, decoded = true,
              luminanceGrid(img, grid))
          case None =>
            val (_, feat) = fakeDecode(m.content, grid * grid)
            ImageFeature(m.id, -1, -1, decoded = false, feat)
        }
      }
    }
  }

  /** Real image resize: decode, scale so the longer side is `maxSide`
    * (never upscale), re-encode PNG — the thumbnailing batch job. Payloads
    * that don't decode pass through unchanged (same corrupt-object
    * contract as [[extractImageFeatures]]); mime flips to image/png on
    * re-encoded rows.
    */
  def thumbnail(media: Dataset[MediaRecord], maxSide: Int): Dataset[MediaRecord] = {
    require(maxSide > 0, "maxSide must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        decodeImage(m.content) match {
          case Some(img) if math.max(img.getWidth, img.getHeight) > maxSide =>
            val scale = maxSide.toDouble / math.max(img.getWidth, img.getHeight)
            val (tw, th) = (math.max(1, math.round(img.getWidth * scale).toInt),
              math.max(1, math.round(img.getHeight * scale).toInt))
            val out = new java.awt.image.BufferedImage(
              tw, th, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            try {
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(img, 0, 0, tw, th, null)
            } finally g.dispose()
            MediaRecord(m.id, "image/png", pngBytes(out))
          case _ => m
        }
      }
    }
  }

  /** dHash perceptual fingerprint of a decoded image: pool luminance into
    * a (cols+1)×rows grid (box means — exact pass-through when the image
    * is already that size), then one bit per horizontal gradient:
    * bit(y·cols + x) = cell(x+1, y) > cell(x, y). Gradient signs survive
    * brightness/contrast shifts, which is what makes the 64-bit hash a
    * NEAR-duplicate key where a byte hash is an exact one.
    */
  def dHash(img: java.awt.image.BufferedImage, cols: Int = 8, rows: Int = 8): Long = {
    require(cols > 0 && rows > 0 && cols.toLong * rows <= 64,
      s"dHash: cols*rows must fit in 64 bits, got ${cols}x$rows")
    val gw = cols + 1
    val feature = new Array[Float](gw * rows)
    val counts = new Array[Int](gw * rows)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      val rowCell = (y.toLong * rows / h).toInt * gw
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000f / 255f
        val cell = rowCell + (x.toLong * gw / w).toInt
        feature(cell) += lum; counts(cell) += 1
        x += 1
      }
      y += 1
    }
    var c = 0
    while (c < feature.length) { if (counts(c) > 0) feature(c) /= counts(c); c += 1 }
    var hash = 0L
    var cy = 0
    while (cy < rows) {
      var cx = 0
      while (cx < cols) {
        if (feature(cy * gw + cx + 1) > feature(cy * gw + cx))
          hash |= 1L << (cy * cols + cx)
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** Dominant 4-bit/channel color bucket of a decoded image: bucket id =
    * (r>>4)<<8 | (g>>4)<<4 | (b>>4) (12 bits, 4096 buckets — the coarse
    * palette histogram image-curation filters key on), with ties broken to
    * the SMALLER bucket id so the result is deterministic for any pixel
    * ordering. Returns (bucket, count); count is the dominant bucket's
    * pixel population.
    */
  def dominantColorBucket(img: java.awt.image.BufferedImage): (Int, Long) = {
    val counts = new java.util.HashMap[Integer, java.lang.Long]()
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        val b = ((((p >> 16) & 0xff) >> 4) << 8) |
          ((((p >> 8) & 0xff) >> 4) << 4) | ((p & 0xff) >> 4)
        val prev = counts.get(b)
        counts.put(b, if (prev == null) 1L else prev + 1L)
        x += 1
      }
      y += 1
    }
    var bestB = Int.MaxValue
    var bestC = -1L
    counts.forEach { (k, v) =>
      if (v > bestC || (v == bestC && k < bestB)) { bestB = k; bestC = v }
    }
    (bestB, bestC)
  }

  /** Perceptual hash of one media object ([[dHash]] over the real decode). */
  final case class ImageHash(id: Long, hash: Long, decoded: Boolean)

  /** Per-partition batch perceptual hashing: real ImageIO decode →
    * [[dHash]]; undecodable payloads fall back to the byte-level
    * [[fakeDecode]] fingerprint (decoded = false) — same
    * one-row-not-a-task-retry corrupt-object contract as
    * [[extractImageFeatures]].
    */
  def imageDHash(media: Dataset[MediaRecord],
                 cols: Int = 8, rows: Int = 8): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      javax.imageio.ImageIO.setUseCache(false)
      batch.map { m =>
        decodeImage(m.content) match {
          case Some(img) => ImageHash(m.id, dHash(img, cols, rows), decoded = true)
          case None      => ImageHash(m.id, fakeDecode(m.content, 1)._1, decoded = false)
        }
      }
    }
  }

  /** Little-endian PCM16 encode — the inverse of [[pcmFeatures]]'s parse,
    * used to synthesize genuine audio payloads in fixtures and gates.
    */
  def pcm16Bytes(samples: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      out(2 * i) = (samples(i) & 0xff).toByte
      out(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** REAL raw-audio decode: parse the payload as little-endian PCM16 (the
    * WAV data-chunk layout — headerless here; raw PCM needs no codec, so
    * unlike compressed audio this path is genuine byte-level decoding, not
    * a stub) and fold exact integer features in one pass. A trailing odd
    * byte is ignored (truncated payloads cost the lost sample, not the
    * row).
    */
  def pcmFeatures(id: Long, content: Array[Byte]): PcmFeature = {
    val n = content.length / 2
    var peak = 0L
    var sumSq = 0L
    var nZero = 0L
    var i = 0
    while (i < n) {
      // little-endian int16: low byte unsigned, high byte signed
      val s = ((content(2 * i) & 0xff) | (content(2 * i + 1) << 8)).toShort.toLong
      val a = math.abs(s)
      if (a > peak) peak = a
      sumSq += s * s
      if (s == 0L) nZero += 1L
      i += 1
    }
    PcmFeature(id, n.toLong, peak, sumSq, nZero)
  }

  /** Per-partition batch PCM feature extraction — same row-local,
    * payloads-never-shuffle contract as [[extractImageFeatures]]; the
    * decoder is real (raw PCM16 parse), so this is the audio analog of the
    * ImageIO path, not the fakeDecode stub.
    */
  def extractPcmFeatures(media: Dataset[MediaRecord]): Dataset[PcmFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map(m => pcmFeatures(m.id, m.content)))
  }

  // -- WAV / RIFF container ------------------------------------------------

  private def le16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def le32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def fourCC(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** REAL RIFF/WAV container walk (r9, verdict ask #5): `RIFF <size> WAVE`
    * magic, then 8-byte chunk headers (fourCC + le32 size) with the RIFF
    * even-byte padding rule, collecting `fmt ` (PCM format 1, channels,
    * sample rate, bits) and `data`. Returns None — the quarantine signal,
    * never an exception — on any malformation: short payload, wrong magic,
    * truncated chunk, fmt missing/short, data chunk overrunning the
    * payload. Only PCM16 passes (compressed formats need codecs this
    * environment lacks — the documented stub boundary); unknown chunks
    * (LIST, fact, cue) are skipped, as a real parser must.
    */
  def parseWav(bytes: Array[Byte]): Option[WavInfo] = {
    if (bytes.length < 44) return None
    if (fourCC(bytes, 0) != "RIFF" || fourCC(bytes, 8) != "WAVE") return None
    var off = 12
    var fmt: Option[(Int, Int, Int, Int)] = None
    var data: Option[Array[Byte]] = None
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val cc = fourCC(bytes, off)
      val sz = le32(bytes, off + 4)
      // Overflow-safe truncation check: `off + 8 + sz` wraps negative when a
      // crafted chunk declares sz near Int.MaxValue, so compare by
      // subtraction (off + 8 <= bytes.length is guaranteed by the loop
      // condition, so the RHS cannot underflow).
      if (sz < 0 || sz > bytes.length - off - 8) return None // truncated chunk
      cc match {
        case "fmt " =>
          if (sz < 16) return None
          fmt = Some((le16(bytes, off + 8), le16(bytes, off + 10),
            le32(bytes, off + 12), le16(bytes, off + 22)))
        case "data" =>
          data = Some(java.util.Arrays.copyOfRange(bytes, off + 8, off + 8 + sz))
        case _ => () // skip unknown chunk (LIST, fact, cue, ...)
      }
      off += 8 + sz + (sz & 1) // RIFF chunks pad to even byte boundaries
    }
    for {
      (format, channels, rate, bits) <- fmt
      d <- data
      if format == 1 && bits == 16 && channels >= 1 && rate > 0
    } yield WavInfo(format, channels, rate, bits, d)
  }

  /** Real WAV encode — canonical 44-byte RIFF header around a PCM16
    * payload; the inverse of [[parseWav]], used to synthesize genuine
    * container-level fixtures (and pinned against parseWav round-trip in
    * MultimodalSpec).
    */
  def wavBytes(samples: Array[Short], sampleRate: Int, channels: Int = 1): Array[Byte] = {
    val data = pcm16Bytes(samples)
    val out = new Array[Byte](44 + data.length)
    def putCC(off: Int, s: String): Unit =
      System.arraycopy(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII), 0, out, off, 4)
    def put32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def put16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
    }
    putCC(0, "RIFF"); put32(4, 36 + data.length); putCC(8, "WAVE")
    putCC(12, "fmt "); put32(16, 16)
    put16(20, 1); put16(22, channels); put32(24, sampleRate)
    put32(28, sampleRate * channels * 2) // byte rate
    put16(32, channels * 2); put16(34, 16) // block align, bits
    putCC(36, "data"); put32(40, data.length)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** Real PNG encode through the JDK's ImageIO — the inverse of
    * [[decodeImage]].
    */
  def pngBytes(img: java.awt.image.RenderedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** PNG of a `w`×`h` RGB image whose pixel (x, y) is `rgb(x, y)` — how
    * the multimodal fixtures synthesize genuine container-level images
    * ([[wavBytes]]'s sibling).
    */
  def pngBytes(w: Int, h: Int)(rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb(x, y))
    pngBytes(img)
  }

  /** Container-genuine audio features: RIFF walk via [[parseWav]], then the
    * exact PCM16 fold of [[pcmFeatures]] over the data chunk. Malformed
    * containers come back `decoded = false` with zeroed features — a
    * quarantine ROW, not a dropped row or an exception, so the caller
    * decides the policy (filter, sink, alert). Same mapPartitions batch
    * contract as every decoder here: row-local, payloads never shuffle.
    */
  def extractWavFeatures(media: Dataset[MediaRecord]): Dataset[WavFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.map { m =>
      parseWav(m.content) match {
        case Some(w) =>
          val p = pcmFeatures(m.id, w.data)
          WavFeature(m.id, decoded = true, w.sampleRate.toLong, w.channels.toLong,
            p.nSamples, p.peakAbs, p.sumSq, p.nZero)
        case None =>
          WavFeature(m.id, decoded = false, 0L, 0L, 0L, 0L, 0L, 0L)
      }
    })
  }

  /** Wrap a DataFrame with a binary column into the typed media Dataset. */
  def toMedia(df: DataFrame, idCol: String, binCol: String, mime: String): Dataset[MediaRecord] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("id"),
      lit(mime).as("mime"),
      col(binCol).cast("binary").as("content")).as[MediaRecord]
  }

  /** Per-partition batch feature extraction (decode → embed). */
  def extractFeatures(media: Dataset[MediaRecord], dim: Int): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { batch =>
      // real codec init would happen once per partition, here:
      batch.map { m =>
        val (fp, feat) = fakeDecode(m.content, dim)
        MediaFeature(m.id, m.mime, m.content.length, fp, feat)
      }
    }
  }

  /** "Resize": average-pool a feature vector down to `targetDim` — the
    * codec-free analog of image resize/thumbnailing (a real pipeline calls
    * the imaging library inside the same mapPartitions batch; the pooling
    * arithmetic and the typed in/out shape are what it keeps). Pure
    * per-row arithmetic: no shuffle, partitioning-invariant like the rest
    * of the family.
    */
  def resizeFeatures(feats: Dataset[MediaFeature], targetDim: Int): Dataset[MediaFeature] = {
    require(targetDim > 0, "targetDim must be positive")
    val spark = feats.sparkSession
    import spark.implicits._
    feats.mapPartitions(_.map { f =>
      val src = f.feature
      // Pure pooling: an empty feature stays empty (never down-pool into a
      // fabricated length-1 zero vector — that would change shape).
      val out = new Array[Float](math.min(targetDim, src.length))
      if (src.nonEmpty) {
        var i = 0
        val counts = new Array[Int](out.length)
        while (i < src.length) {
          val j = (i.toLong * out.length / src.length).toInt
          out(j) += src(i); counts(j) += 1
          i += 1
        }
        var j = 0
        while (j < out.length) { if (counts(j) > 0) out(j) /= counts(j); j += 1 }
      }
      f.copy(feature = out)
    })
  }

  /** Frame sampling: split the payload into fixed-size windows ("frames")
    * and keep every `stride`-th one, at most `maxFrames` — the video
    * analog of `explode`, but bounded so a pathological 10 GB payload
    * cannot fan out unboundedly.
    */
  def sampleFrames(media: Dataset[MediaRecord], frameBytes: Int,
                   stride: Int = 1, maxFrames: Int = 16): Dataset[MediaFrame] = {
    require(frameBytes > 0 && stride > 0 && maxFrames > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.flatMap { m =>
      val nWindows = (m.content.length + frameBytes - 1) / frameBytes
      Iterator.range(0, nWindows, stride).take(maxFrames).map { w =>
        val from = w * frameBytes
        val until = math.min(from + frameBytes, m.content.length)
        var h = 1125899906842597L
        var i = from
        while (i < until) { h = h * 31 + (m.content(i) & 0xff); i += 1 }
        MediaFrame(m.id, w, until - from, h)
      }
    }
  }
}
