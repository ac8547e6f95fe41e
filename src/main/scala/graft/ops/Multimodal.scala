package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as
  * opaque `binary` columns with a typed metadata struct, and
  * decode / feature-extract kernels run as typed `mapPartitions`
  * batch functions over the binary payloads (the Scala analogue of
  * Pandas-UDF-over-mapInPandas). No shuffle anywhere: every kernel
  * runs where the payload rows live, so the path scales to a 100 TB
  * media column exactly like any other embarrassingly parallel map.
  *
  * Decoders are REAL: netpbm P5/P6 (PGM/PPM), uncompressed 24-bit
  * BMP, PCM-16 RIFF/WAVE and FLAC (full pure-JVM decoder, [[Flac]])
  * are parsed directly from their public specs, and PNG/JPEG/GIF
  * decode through `javax.imageio` — JDK-only, no native libraries.
  * Still-codec-bound formats (MP3/H.264) are rejected with precise
  * errors — swapping in a binding only changes
  * `decodeImage`/`decodeAudio`, not the plumbing (scope rationale in
  * COVERAGE.md). The byte-statistics kernel is kept as the
  * format-agnostic fallback.
  */
object Multimodal {

  /** Media row schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("media", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("format", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))))

  /** Deterministic synthetic media: 16-byte payload derived from the
    * document text (unhex of md5) standing in for an encoded image.
    */
  def syntheticMedia(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      unhex(md5(col(textCol))).as("media"),
      struct(lit("fake/rgb8").as("format"), lit(4).as("width"), lit(4).as("height")).as("meta"))

  // ---- real decoders (pure JVM, public formats) ----

  final case class DecodedImage(width: Int, height: Int, channels: Int,
      pixels: Array[Byte]) // interleaved row-major

  /** netpbm P5 (gray) / P6 (RGB), binary variants, maxval <= 255.
    * Header: magic, whitespace/comments, width, height, maxval, one
    * whitespace, then raw samples.
    */
  def decodePpm(payload: Array[Byte]): DecodedImage = {
    require(payload.length >= 2, "not netpbm: too short")
    val magic = new String(payload, 0, 2, "US-ASCII")
    require(magic == "P5" || magic == "P6", s"not binary netpbm: magic '$magic'")
    val channels = if (magic == "P6") 3 else 1
    var pos = 2
    def token(): Int = {
      // skip whitespace and '#' comments
      var inComment = false
      while (pos < payload.length && {
        val c = payload(pos).toChar
        if (inComment) { if (c == '\n') inComment = false; true }
        else if (c == '#') { inComment = true; true }
        else c.isWhitespace
      }) pos += 1
      var v = 0
      var any = false
      while (pos < payload.length && payload(pos).toChar.isDigit) {
        v = v * 10 + (payload(pos) - '0'); pos += 1; any = true
      }
      require(any, "malformed netpbm header")
      v
    }
    val w = token(); val h = token(); val maxval = token()
    require(maxval > 0 && maxval <= 255, s"netpbm maxval $maxval unsupported (8-bit only)")
    pos += 1 // single whitespace after maxval
    val n = w * h * channels
    require(payload.length >= pos + n, s"netpbm payload truncated: ${payload.length - pos} < $n")
    DecodedImage(w, h, channels, java.util.Arrays.copyOfRange(payload, pos, pos + n))
  }

  /** Uncompressed bottom-up 24-bit BMP (BITMAPINFOHEADER). Rows are
    * 4-byte aligned; output is top-down interleaved RGB.
    */
  def decodeBmp(payload: Array[Byte]): DecodedImage = {
    require(payload.length >= 54 && payload(0) == 'B' && payload(1) == 'M', "not a BMP")
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val dataOff = bb.getInt(10)
    val w = bb.getInt(18); val h = bb.getInt(22)
    val bpp = bb.getShort(28).toInt
    val comp = bb.getInt(30)
    require(bpp == 24 && comp == 0, s"BMP bpp=$bpp compression=$comp unsupported (24-bit uncompressed)")
    require(h > 0, "top-down BMP unsupported")
    val rowBytes = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val src = dataOff + (h - 1 - y) * rowBytes
      var x = 0
      while (x < w) {
        // BMP stores BGR
        out((y * w + x) * 3) = payload(src + x * 3 + 2)
        out((y * w + x) * 3 + 1) = payload(src + x * 3 + 1)
        out((y * w + x) * 3 + 2) = payload(src + x * 3)
        x += 1
      }
      y += 1
    }
    DecodedImage(w, h, 3, out)
  }

  final case class DecodedAudio(sampleRate: Int, channels: Int, samples: Array[Short])

  /** RIFF/WAVE with a PCM-16 `fmt ` chunk; chunks walked per spec. */
  def decodeWav(payload: Array[Byte]): DecodedAudio = {
    require(payload.length >= 44 &&
      new String(payload, 0, 4, "US-ASCII") == "RIFF" &&
      new String(payload, 8, 4, "US-ASCII") == "WAVE", "not a RIFF/WAVE file")
    val bb = java.nio.ByteBuffer.wrap(payload).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = 0; var channels = 0; var bits = 0
    var samples: Array[Short] = null
    while (pos + 8 <= payload.length) {
      val id = new String(payload, pos, 4, "US-ASCII")
      val size = bb.getInt(pos + 4)
      require(size >= 0, s"corrupt WAVE chunk '$id' with negative size $size")
      if (id == "fmt ") {
        val fmt = bb.getShort(pos + 8).toInt
        require(fmt == 1, s"WAVE format $fmt unsupported (PCM only)")
        channels = bb.getShort(pos + 10).toInt
        rate = bb.getInt(pos + 12)
        bits = bb.getShort(pos + 22).toInt
        require(bits == 16, s"WAVE $bits-bit unsupported (PCM-16 only)")
      } else if (id == "data") {
        require(bits == 16, "WAVE data chunk before fmt chunk")
        val n = size / 2
        samples = new Array[Short](n)
        var i = 0
        while (i < n) { samples(i) = bb.getShort(pos + 8 + 2 * i); i += 1 }
      }
      pos += 8 + size + (size & 1) // chunks are word-aligned
    }
    require(samples != null, "WAVE file has no data chunk")
    DecodedAudio(rate, channels, samples)
  }

  // ---- feature kernels ----

  final case class ImageFeature(doc_id: Long, width: Int, height: Int,
      channels: Int, mean_c0: Double, mean_c1: Double, mean_c2: Double)

  /** Per-channel pixel means (channels beyond the image's report -1). */
  def imageFeature(docId: Long, img: DecodedImage): ImageFeature = {
    val sums = new Array[Long](img.channels)
    var i = 0
    while (i < img.pixels.length) {
      sums(i % img.channels) += img.pixels(i) & 0xff
      i += 1
    }
    val n = img.width.toLong * img.height
    def mean(c: Int): Double = if (c < img.channels) sums(c).toDouble / n else -1.0
    ImageFeature(docId, img.width, img.height, img.channels, mean(0), mean(1), mean(2))
  }

  final case class AudioFeature(doc_id: Long, sample_rate: Int, n_samples: Int,
      sum_sq: Double, peak: Int)

  /** RMS energy pieces (sum of squares kept exact in Long) + peak. */
  def audioFeature(docId: Long, a: DecodedAudio): AudioFeature = {
    var sumSq = 0L
    var peak = 0
    var i = 0
    while (i < a.samples.length) {
      val s = a.samples(i).toInt
      sumSq += s.toLong * s
      val m = math.abs(s)
      if (m > peak) peak = m
      i += 1
    }
    AudioFeature(docId, a.sampleRate, a.samples.length, sumSq.toDouble, peak)
  }

  /** Box-filter thumbnail (the resize kernel): average each target
    * cell's source box per channel. Real resize, runs partition-local.
    */
  def thumbnail(img: DecodedImage, tw: Int, th: Int): DecodedImage = {
    val out = new Array[Byte](tw * th * img.channels)
    var ty = 0
    while (ty < th) {
      val y0 = ty * img.height / th
      val y1 = math.max(y0 + 1, (ty + 1) * img.height / th)
      var tx = 0
      while (tx < tw) {
        val x0 = tx * img.width / tw
        val x1 = math.max(x0 + 1, (tx + 1) * img.width / tw)
        var c = 0
        while (c < img.channels) {
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              sum += img.pixels((y * img.width + x) * img.channels + c) & 0xff
              x += 1
            }
            y += 1
          }
          out((ty * tw + tx) * img.channels + c) =
            (sum / ((y1 - y0).toLong * (x1 - x0))).toByte
          c += 1
        }
        tx += 1
      }
      ty += 1
    }
    DecodedImage(tw, th, img.channels, out)
  }

  /** PNG/JPEG/GIF decode via `javax.imageio` (ships with the JDK —
    * no native codec). Channels mirror the decoded raster's bands
    * (gray 1, RGB 3, RGBA 4), pixels interleaved row-major like every
    * other decoder here. Palette images (all GIFs, indexed PNGs)
    * expand through the color model to RGB — their raster bands are
    * lookup-table INDICES, not colors. Components wider than 8 bits
    * (16-bit PNG) are rejected rather than silently truncated to the
    * low byte.
    */
  def decodeJavax(payload: Array[Byte]): DecodedImage = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "javax.imageio has no reader for this payload")
    val w = img.getWidth
    val h = img.getHeight
    if (img.getColorModel.isInstanceOf[java.awt.image.IndexColorModel]) {
      // bulk palette lookup: one getRGB call for the whole raster
      // (per-pixel getRGB pays a ColorModel dispatch per call — this
      // runs per image inside mapPartitions over the corpus)
      val rgb = img.getRGB(0, 0, w, h, new Array[Int](w * h), 0, w)
      val out = new Array[Byte](w * h * 3)
      var i = 0
      while (i < rgb.length) {
        out(i * 3) = ((rgb(i) >> 16) & 0xff).toByte
        out(i * 3 + 1) = ((rgb(i) >> 8) & 0xff).toByte
        out(i * 3 + 2) = (rgb(i) & 0xff).toByte
        i += 1
      }
      return DecodedImage(w, h, 3, out)
    }
    val maxBits = img.getColorModel.getComponentSize.max
    if (maxBits > 8) throw new UnsupportedOperationException(
      s"$maxBits-bit-per-channel image unsupported (8-bit components only)")
    val raster = img.getRaster
    val nb = raster.getNumBands
    val px = raster.getPixels(0, 0, w, h, new Array[Int](w * h * nb))
    val out = new Array[Byte](px.length)
    var i = 0
    while (i < out.length) { out(i) = px(i).toByte; i += 1 }
    DecodedImage(w, h, nb, out)
  }

  /** Dispatch on magic bytes; precise error for codec-bound formats. */
  def decodeImage(payload: Array[Byte]): DecodedImage = {
    if (payload.length >= 2 && payload(0) == 'P'.toByte &&
      (payload(1) == '5'.toByte || payload(1) == '6'.toByte)) decodePpm(payload)
    else if (payload.length >= 2 && payload(0) == 'B'.toByte && payload(1) == 'M'.toByte)
      decodeBmp(payload)
    else if (payload.length >= 3 && (payload(0) & 0xff) == 0xff && (payload(1) & 0xff) == 0xd8)
      decodeJavax(payload) // JPEG
    else if (payload.length >= 4 && (payload(0) & 0xff) == 0x89 && payload(1) == 'P'.toByte)
      decodeJavax(payload) // PNG
    else if (payload.length >= 3 && new String(payload, 0, 3, "US-ASCII") == "GIF")
      decodeJavax(payload)
    else if (payload.length >= 4 && (payload(0) & 0xff) == 0xff &&
      (payload(1) & 0xff) == 0x4f && (payload(2) & 0xff) == 0xff &&
      (payload(3) & 0xff) == 0x51)
      decodeJ2k(payload) // raw JPEG 2000 codestream (SOC+SIZ)
    else if (payload.length >= 12 && (payload(4) & 0xff) == 0x6a &&
      (payload(5) & 0xff) == 0x50)
      decodeJ2k(payload) // JP2 box container ("jP " signature box)
    else throw new UnsupportedOperationException("unrecognized image payload")
  }

  /** JPEG 2000 via the pure-JVM T.800 decoder (graylevel/RGB
    * reversible profile; a JP2 box wrapper strips to the codestream).
    */
  private def decodeJ2k(payload: Array[Byte]): DecodedImage = {
    var soc = 0
    while (soc + 1 < payload.length &&
      !((payload(soc) & 0xff) == 0xff && (payload(soc + 1) & 0xff) == 0x4f))
      soc += 1
    require(soc + 1 < payload.length, "JP2 container without a codestream")
    val img = graft.operators.Jpeg2k.decode(
      if (soc == 0) payload else java.util.Arrays.copyOfRange(payload, soc, payload.length))
    require(img.precision <= 8,
      s"JPEG 2000 image payloads support 8-bit (got ${img.precision})")
    val out = new Array[Byte](img.samples.length)
    var i = 0
    while (i < out.length) { out(i) = img.samples(i).toByte; i += 1 }
    DecodedImage(img.width, img.height, img.components, out)
  }

  /** Distributed image feature extraction over (doc_id, media). */
  def extractImageFeatures(spark: SparkSession, media: DataFrame): Dataset[ImageFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => imageFeature(id, decodeImage(payload)) })
  }

  /** Distributed audio feature extraction over (doc_id, media). */
  def extractAudioFeatures(spark: SparkSession, media: DataFrame): Dataset[AudioFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => audioFeature(id, decodeAudio(payload)) })
  }

  /** Sniff-dispatch audio decode: RIFF/WAVE (PCM-16) or FLAC (pure-JVM
    * decoder, [[Flac]]). Other containers refuse with precise errors.
    */
  def decodeAudio(payload: Array[Byte]): DecodedAudio =
    if (payload.length >= 4 && payload(0) == 'f' && payload(1) == 'L' &&
        payload(2) == 'a' && payload(3) == 'C') Flac.decodeFlac(payload)
    else if (Mp3.sniff(payload))
      throw new IllegalArgumentException("MP3 PCM decode is out of scope " +
        "(COVERAGE.md codec-scope freeze); frame metadata is available via " +
        "Mp3.parse / Multimodal.extractMp3Meta")
    else decodeWav(payload)

  // ---- format-agnostic byte-statistics fallback ----

  final case class MediaFeature(
      doc_id: Long, n_bytes: Int, byte_sum: Long, byte_max: Int, mean_byte: Double)

  /** Byte-statistics kernel — the fallback when the payload's codec
    * has no JVM decoder; keeps the end-to-end path verifiable.
    */
  def decodeBytes(docId: Long, payload: Array[Byte]): MediaFeature = {
    var sum = 0L
    var max = 0
    var i = 0
    while (i < payload.length) {
      val b = payload(i) & 0xff
      sum += b
      if (b > max) max = b
      i += 1
    }
    MediaFeature(docId, payload.length, sum, max, sum.toDouble / payload.length)
  }

  /** Batch feature extraction: one JVM kernel invocation per
    * partition iterator — the batch shape a Pandas UDF would see.
    * No shuffle: features are computed where the payload rows live.
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) => decodeBytes(id, payload) })
  }

  final case class VideoFeature(doc_id: Long, width: Int, height: Int,
      n_frames: Int, n_sampled: Int, mean_f0: Double)

  /** REAL video frame-sampling over MJPEG-in-AVI payloads ([[Avi]]):
    * container-level frame count plus features of every `stride`-th
    * DECODED frame — undecoded frames are never touched, the shape a
    * 100 TB video column needs. Same typed-mapPartitions batch kernel
    * as every other media path; codec-bound containers refuse in
    * [[Avi.parseAvi]] with precise errors.
    */
  def extractVideoFeatures(spark: SparkSession, media: DataFrame,
      stride: Int = 2): Dataset[VideoFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (avi, sampled) = Avi.sampleFrames(payload, stride)
        require(sampled.nonEmpty, s"AVI $id has no decodable frames")
        val f0 = sampled.head
        var sum = 0L
        var i = 0
        while (i < f0.width * f0.height) {
          sum += f0.pixels(i * f0.channels) & 0xff
          i += 1
        }
        VideoFeature(id, avi.width, avi.height, avi.frames.length,
          sampled.length, sum.toDouble / (f0.width * f0.height))
      })
  }

  /** Deterministic per-doc MJPEG AVI payloads (closed-form frame
    * content, [[Avi.encodeSyntheticMjpeg]]) — the m58 gate input.
    */
  def syntheticAvi(docs: DataFrame, nFrames: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, Avi.encodeSyntheticMjpeg(id, nFrames))))
      .toDF("doc_id", "media")
  }

  /** [[syntheticAvi]] with a planted scene cut ([[Avi.encodeSyntheticMjpegCut]])
    * — the m64 gate input.
    */
  def syntheticAviCut(docs: DataFrame, nFrames: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions(_.map(id => (id, Avi.encodeSyntheticMjpegCut(id, nFrames))))
      .toDF("doc_id", "media")
  }

  final case class SceneCuts(doc_id: Long, n_frames: Int, n_cuts: Int,
      first_cut: Int)

  /** Scene-cut detection over MJPEG-in-AVI payloads — the keyframe /
    * shot-segmentation pass a video-captioning pipeline runs before
    * sampling frames to caption (one frame per SHOT beats one frame
    * per N: a stride straddling a cut describes two scenes at once).
    *
    * Frame f is a cut iff the mean-luma jump from frame f−1 is at
    * least `meanDiffThreshold` gray levels. The comparison stays in
    * EXACT integers: per-frame luma SUMS (channel 0) against
    * threshold·w·h — no float enters the decision, so the verdict is
    * engine-reproducible (JPEG decode noise is bounded, ±4 levels on
    * uniform blocks at q0.95, far under any sensible threshold).
    *
    * Same typed-mapPartitions batch kernel as every media path:
    * partition-local, one video per row, frames decoded once in
    * order. Output first_cut = −1 when no cut fires.
    */
  def sceneCuts(spark: SparkSession, media: DataFrame,
      meanDiffThreshold: Int = 50): Dataset[SceneCuts] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val (avi, frames) = Avi.sampleFrames(payload, stride = 1)
        require(frames.nonEmpty, s"AVI $id has no decodable frames")
        def lumaSum(img: DecodedImage): Long = {
          var sum = 0L
          var i = 0
          val n = img.width * img.height
          while (i < n) { sum += img.pixels(i * img.channels) & 0xff; i += 1 }
          sum
        }
        val sums = frames.map(lumaSum)
        val pixels = frames.head.width.toLong * frames.head.height
        val thr = meanDiffThreshold * pixels
        val cuts = (1 until sums.length)
          .filter(f => math.abs(sums(f) - sums(f - 1)) >= thr)
        SceneCuts(id, frames.length, cuts.length,
          if (cuts.isEmpty) -1 else cuts.head)
      })
  }

  final case class ThumbPixel(doc_id: Long, ty: Int, tx: Int, c: Int, v: Int)

  /** Distributed thumbnail resize with EVERY output pixel emitted —
    * the resize kernel as an oracle-checkable surface: decode →
    * exact-integer box filter ([[thumbnail]]: floor-division means
    * over [x0,x1)×[y0,y1) boxes, no float resampling) → one row per
    * (doc, ty, tx, channel). Typed mapPartitions like every media
    * kernel; the payload never shuffles, only the (tiny) thumbnail
    * rows do whatever the caller's next step needs.
    */
  def thumbnailPixels(spark: SparkSession, media: DataFrame,
      tw: Int, th: Int): Dataset[ThumbPixel] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        val t = thumbnail(decodeImage(payload), tw, th)
        for (ty <- 0 until th; tx <- 0 until tw; c <- 0 until t.channels)
          yield ThumbPixel(id, ty, tx, c,
            t.pixels((ty * tw + tx) * t.channels + c) & 0xff)
      })
  }

  // ---- deterministic synthetic encoded payloads (gate inputs) ----

  /** A real P6 PPM blob per doc: 6×4 RGB, pixel byte i =
    * (doc_id · 37 + i · 11) mod 256 — closed-form, so a SQL oracle
    * can replay the per-channel means that the REAL decoder extracts.
    */
  def syntheticPpm(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 6; val h = 4
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val body = Array.tabulate[Byte](w * h * 3)(i => ((id * 37 + i * 11) % 256).toByte)
      (id, header ++ body)
    }).toDF("doc_id", "media")
  }

  /** 36×32 P6 PPMs whose pixels are CONSTANT within each 4×4 cell of
    * the 9×8 dHash grid, so [[ImageDedup.dHash]] is replayable in
    * closed form: with group g = doc_id mod 40 and variant
    * t = doc_id div 40, cell (row cr, col cc) holds gray value
    * v = (g·31 + cc·7 + cr·13) mod 200, plus 50 on the single cell
    * (cr,cc) = (t,t). Variants of a group differ in at most two cells
    * (≤ 4 hash bits) — planted near-duplicates.
    */
  def syntheticPpmCells(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 36; val h = 32
      val g = id % 40; val t = id / 40
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val body = new Array[Byte](w * h * 3)
      var i = 0
      while (i < w * h) {
        val cc = (i % w) / 4; val cr = (i / w) / 4
        val v = ((g * 31 + cc * 7 + cr * 13) % 200 +
          (if (cc == t && cr == t) 50 else 0)).toByte
        body(3 * i) = v; body(3 * i + 1) = v; body(3 * i + 2) = v
        i += 1
      }
      (id, header ++ body)
    }).toDF("doc_id", "media")
  }

  /** A real PNG blob per doc, encoded by `javax.imageio` on the
    * executor: 6×4 RGB with the SAME closed-form pixels as
    * [[syntheticPpm]] (byte i = (doc_id·37 + i·11) mod 256). PNG is
    * lossless, so decoding through the real ImageIO path reproduces
    * the closed form exactly and the PPM oracle arithmetic carries
    * over unchanged.
    */
  def syntheticPng(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 6; val h = 4
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      var i = 0
      while (i < w * h) {
        def ch(c: Int) = ((id * 37 + (i * 3 + c) * 11) % 256).toInt
        img.setRGB(i % w, i / w, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        i += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (id, bos.toByteArray)
    }).toDF("doc_id", "media")
  }

  /** A real JPEG 2000 blob per doc: 11×7 grayscale codestream,
    * pixel i = (doc_id·37 + i·13) mod 256, through [[graft.operators
    * .Jpeg2kEncode]] (reversible 5/3 + MQ-coded EBCOT — LOSSLESS, so
    * unlike the JPEG gate the oracle is exact).
    */
  def syntheticJp2(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 11; val h = 7
      val img = Array.tabulate(w * h)(i => ((id * 37 + i * 13) % 256).toInt)
      (id, graft.operators.Jpeg2kEncode.encode(Seq(img), w, h, 8,
        levels = 1, cbw = 8, cbh = 8))
    }).toDF("doc_id", "media")
  }

  /** A real STYLED JPEG 2000 blob per doc: same closed-form 11×7
    * pixels as [[syntheticJp2]], but encoded with the vertically
    * stripe-CAUSAL context style and per-cleanup-pass SEGMENTATION
    * SYMBOLS (Table A.19 bits 0x08 | 0x20) — the decode path where
    * context formation must clip at stripe boundaries and verify the
    * 1010 symbol. Lossless, so the oracle replay stays EXACT.
    */
  def syntheticJp2Styled(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 11; val h = 7
      val img = Array.tabulate(w * h)(i => ((id * 37 + i * 13) % 256).toInt)
      (id, graft.operators.Jpeg2kEncode.encode(Seq(img), w, h, 8,
        levels = 1, cbw = 8, cbh = 8, cbstyle = 0x28))
    }).toDF("doc_id", "media")
  }

  /** A real LOSSY JPEG 2000 blob per doc: 11×7 grayscale ramp
    * base = (doc_id·37) mod 128 plus 3x+5y (no wrap cliffs), encoded
    * through the irreversible 9/7 with step-1 scalar-expounded
    * quantization — the DICOM .4.91 / Aperio SVS shape. Smooth
    * content keeps the decode within a couple of levels of the
    * original, so the gate takes m56's bounded-error verdict while
    * exercising the REAL lossy path (dead-zone dequantization,
    * double 9/7 synthesis, midpoint reconstruction, rounding).
    */
  def syntheticJp2Lossy(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val w = 11; val h = 7
      val img = Array.tabulate(w * h)(i =>
        ((id * 37) % 128 + (i % w) * 3 + (i / w) * 5).toInt)
      (id, graft.operators.Jpeg2kEncode.encode(Seq(img), w, h, 8,
        levels = 1, cbw = 8, cbh = 8, transform = "97", quant = Some((8, 0))))
    }).toDF("doc_id", "media")
  }

  /** A real JPEG blob per doc: 16×16 GRAYSCALE of four uniform 8×8
    * blocks, block b = (doc_id·37 + b·29) mod 256, written at quality
    * 0.95. Uniform blocks aligned to the JPEG MCU grid decode to
    * within DC-quantization error (≤ ~2 levels) of the original, so a
    * bounded-error verdict against the closed-form block means is
    * robust while still exercising the REAL lossy decode path.
    */
  def syntheticJpeg(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      val raster = img.getRaster
      var y = 0
      while (y < 16) {
        var x = 0
        while (x < 16) {
          val b = (y / 8) * 2 + (x / 8)
          raster.setSample(x, y, 0, ((id * 37 + b * 29) % 256).toInt)
          x += 1
        }
        y += 1
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
      val params = writer.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.95f)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
      ios.close()
      writer.dispose()
      (id, bos.toByteArray)
    }).toDF("doc_id", "media")
  }

  /** A real PCM-16 WAV blob per doc: 64 samples at 8 kHz, sample i =
    * ((doc_id · 13 + i · 7) mod 65536) − 32768 — same closed form
    * contract for the audio oracle.
    */
  /** Deterministic per-doc FLAC payloads (same sample formula as
    * [[syntheticWav]], so the m57 oracle mirrors m54's): the REAL
    * encoder emits a verbatim single-frame stream, the REAL decoder
    * parses it back in the gate — header, CRCs and subframe layout
    * are all on the verified path.
    */
  def syntheticFlac(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val n = 64
      val samples = Array.tabulate[Short](n)(i =>
        (((id * 13 + i * 7) % 65536) - 32768).toShort)
      (id, Flac.encodeVerbatim(samples, 1, 8000))
    }).toDF("doc_id", "media")
  }

  /** MP3 frame-metadata row per doc (the m59 surface): the typed
    * result of a full strict frame walk — duration/bitrate facts a
    * corpus filter keys on. Integer-exact except duration_ms (one
    * IEEE division, replayed identically by the oracle).
    */
  final case class Mp3MetaFeature(doc_id: Long, sample_rate: Int, channels: Int,
      n_frames: Int, n_samples: Long, duration_ms: Double,
      bitrate_min_kbps: Int, bitrate_max_kbps: Int, vbr: Boolean, has_crc: Boolean)

  /** Distributed MP3 metadata extraction over (doc_id, media):
    * partition-local, no shuffle, refuse-loudly on malformed frames.
    */
  def extractMp3Meta(spark: SparkSession, media: DataFrame): Dataset[Mp3MetaFeature] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val m = Mp3.parse(payload)
        Mp3MetaFeature(id, m.sampleRate, m.channels, m.nFrames, m.nSamples,
          m.durationMs, m.bitrateMinKbps, m.bitrateMaxKbps, m.vbr, m.hasCrc)
      })
  }

  /** Deterministic per-doc MP3 payloads: an ID3v2 prefix plus
    * 3 + (doc_id mod 4) MPEG-1 Layer III silence frames at 44.1 kHz.
    * Docs divisible by 3 are CBR at index 9 (128 kbps); the rest
    * rotate bitrate indices 5..7 per frame (VBR). Docs divisible by 5
    * carry real, verified CRC-16s; odd docs are stereo. Every branch
    * of the walker — padding, CRC span, side-info width — is on the
    * gate path with a closed-form oracle.
    */
  def syntheticMp3(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val nFrames = 3 + (id % 4).toInt
      val bos = new java.io.ByteArrayOutputStream()
      bos.write(Mp3.id3v2(padBytes = (id % 7).toInt * 3))
      var f = 0
      while (f < nFrames) {
        val bri = if (id % 3 == 0) 9 else 5 + ((id + f) % 3).toInt
        bos.write(Mp3.silenceFrame(bri, srIndex = 0, mono = id % 2 == 0,
          padding = (id + f) % 2 == 1, withCrc = id % 5 == 0))
        f += 1
      }
      (id, bos.toByteArray)
    }).toDF("doc_id", "media")
  }

  /** 650-sample WAVs (65 windows of exactly 10) with planted audio
    * near-dups for [[AudioFp]]: effective id e = id−1 when
    * id mod 4 = 3 (else id), sample s(i) = ((e·7919 + i·104729 + p)
    * mod 65536) − 32768 — the 104729 stride wraps ~0.6× per sample,
    * so window energies scatter per (e, window) and distinct ids get
    * DIVERSE fingerprints (a slow stride makes every id's energy
    * profile identical and the pair graph degenerate-complete). The
    * perturbation p = 9999 applies only to the variant's window
    * ⌊i/10⌋ = e mod 60, so a variant differs from its base in ONE
    * window's energy — at most the two adjacent comparison bits.
    */
  def syntheticWavPlanted(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val n = 650
      val rate = 8000
      val e = if (id % 4 == 3) id - 1 else id
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
      var i = 0
      while (i < n) {
        val p = if (id % 4 == 3 && i / 10 == e % 60) 9999L else 0L
        bb.putShort((((e * 7919 + i * 104729L + p) % 65536) - 32768).toShort)
        i += 1
      }
      (id, bb.array())
    }).toDF("doc_id", "media")
  }

  /** 200-sample WAVs alternating planted silence and voiced bursts
    * for the VAD gate (m66): frame w = ⌊i/10⌋ is VOICED iff
    * (id·7 + w·5) mod 7 < 4. Voiced samples sit in [20000, 29999]
    * (frame energy ≥ 4·10⁹) and silence within ±80 (energy ≤ 64000),
    * so the 10⁶ energy threshold is DETERMINISTICALLY on the right
    * side of every frame — the verdict never rides a rounding edge.
    */
  def syntheticWavSpeech(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val n = 200
      val rate = 8000
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
      var i = 0
      while (i < n) {
        val w = i / 10
        val v =
          if ((id * 7 + w * 5) % 7 < 4)
            20000 + (id * 7919 + i * 104729L) % 10000
          else (id * 13 + i * 7) % 161 - 80
        bb.putShort(v.toShort)
        i += 1
      }
      (id, bb.array())
    }).toDF("doc_id", "media")
  }

  def syntheticWav(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long].mapPartitions(_.map { id =>
      val n = 64
      val rate = 8000
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(rate).putInt(rate * 2).putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
      var i = 0
      while (i < n) {
        bb.putShort((((id * 13 + i * 7) % 65536) - 32768).toShort)
        i += 1
      }
      (id, bb.array())
    }).toDF("doc_id", "media")
  }
}
