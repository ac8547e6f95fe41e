package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model.ImageMeta
import graft.operators.ChunkOps.ChunkRow
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — constrained pure-JVM DICOM reader (.dcm): the clinical
  * format the reference ingests through itkwasm/itk
  * (`py/ngff_zarr/detect_cli_io_backend.py:38`). Decodable transfer
  * syntaxes:
  *   - 1.2.840.10008.1.2      Implicit VR Little Endian
  *   - 1.2.840.10008.1.2.1    Explicit VR Little Endian
  *   - 1.2.840.10008.1.2.2    Explicit VR Big Endian (retired but real)
  *   - 1.2.840.10008.1.2.5    RLE Lossless (PS3.5 Annex G PackBits
  *                            byte planes — spec-exact)
  *   - 1.2.840.10008.1.2.4.50 JPEG Baseline, 8-bit, via the JDK
  *                            codec (the common clinical-export
  *                            syntax; lossy by nature)
  *   - 1.2.840.10008.1.2.4.51 JPEG Extended (8/12-bit sequential
  *                            DCT, SOF1), via the pure-JVM decoder
  *                            in [[JpegExtended]] — javax.imageio
  *                            cannot decode 12-bit streams
  *   - 1.2.840.10008.1.2.4.57/.70 JPEG Lossless (ITU-T T.81
  *                            process 14 / SV1), via the pure-JVM
  *                            codec in [[JpegLossless]]
  *   - 1.2.840.10008.1.2.4.80 JPEG-LS Lossless and
  *   - 1.2.840.10008.1.2.4.81 JPEG-LS Near-Lossless, via the pure-JVM
  *                            ITU-T T.87 codec in [[JpegLs]]
  *   - 1.2.840.10008.1.2.4.90/.91 JPEG 2000: reversible 5/3 AND
  *                            irreversible 9/7 with scalar
  *                            quantization, tiles, precincts,
  *                            tile-parts, quality layers and all
  *                            five progression orders, via the
  *                            pure-JVM T.800 decoder in [[Jpeg2k]]
  *                            incl. COC/QCC per-component styles,
  *                            subsampling, all Table-A.19 code-block
  *                            styles, RGN ROI, POC progression
  *                            changes, and PPM/PPT packed headers —
  *                            the complete still-image marker surface
  *   - 1.2.840.10008.1.2.1.99 Deflated Explicit VR LE (the whole
  *                            post-meta dataset is one raw-deflate
  *                            stream, re-inflated per decode task)
  * Every remaining refusal (MPEG/HEVC video syntaxes, JPIP) is
  * loud — same codec-scope posture as MP3/H.264 (COVERAGE.md): no
  * silently-wrong pixels.
  * MONOCHROME1/2 8/16-bit grayscale, plus 8-bit RGB color
  * (SamplesPerPixel 3: native interleaved or planar, RLE color
  * planes, JPEG-baseline YBR/RGB — a `c` dimension appends to the
  * volume); Rescale slope/intercept applies NIfTI-style (float32
  * output).
  *
  * Shapes: one multi-frame file → (x, y, z=frames); a SERIES directory
  * (one slice per file) reads in two metadata-sized passes — executors
  * parse per-file headers (stopping before PixelData), the driver sees
  * only tiny meta rows to validate consistency and fix the z order
  * (InstanceNumber, then ImagePositionPatient z), then executors
  * decode their own slice into its chunk. Pixel bytes never transit
  * the driver.
  */
object DicomIO {

  private val ImplicitLE = "1.2.840.10008.1.2"
  private[operators] val ExplicitLE = "1.2.840.10008.1.2.1"
  private val ExplicitBE = "1.2.840.10008.1.2.2"
  private[operators] val JpegBaseline = "1.2.840.10008.1.2.4.50"
  private val JpegExtended12 = "1.2.840.10008.1.2.4.51"
  private val JpegLossless14 = "1.2.840.10008.1.2.4.57"
  private val JpegLosslessSv1 = "1.2.840.10008.1.2.4.70"
  private val JpegLsLossless = "1.2.840.10008.1.2.4.80"
  private val JpegLsNear = "1.2.840.10008.1.2.4.81"
  private val Jpeg2000Lossless = "1.2.840.10008.1.2.4.90"
  private val Jpeg2000 = "1.2.840.10008.1.2.4.91"
  private val RleLossless = "1.2.840.10008.1.2.5"
  private val DeflatedLE = "1.2.840.10008.1.2.1.99"

  /** The per-file facts the reader extracts (header-only pass).
    * Encapsulated syntaxes carry `frameFragments`: per frame, the
    * (offset, length) byte ranges of its fragment payloads — one
    * range in the common case, several when a large frame is split
    * across fragments (delimited by the Basic Offset Table). Native
    * syntaxes leave it empty and use `pixelDataOffset +
    * frame·frameBytes` positioned reads.
    */
  final case class SliceMeta(
      rows: Int, cols: Int, bitsAllocated: Int, signed: Boolean,
      samples: Int, photometric: String, planarConfig: Int, nFrames: Int,
      pixelSpacingRow: Double, pixelSpacingCol: Double,
      sliceThickness: Double, spacingBetween: Double,
      instanceNumber: Int, ippZ: Double,
      slope: Double, inter: Double,
      transferSyntax: String, pixelDataOffset: Long, pixelDataLength: Long,
      bigEndianData: Boolean,
      frameFragments: Seq[Seq[(Long, Long)]] = Nil,
      // >= 0 when the dataset is one raw-deflate stream starting at
      // this FILE offset; all other offsets then index the inflated
      // dataset, so decode tasks re-inflate before slicing
      deflateFrom: Long = -1L)

  // ------------------------------------------------------------ parsing

  private def u16(b: Array[Byte], off: Int, be: Boolean): Int =
    if (be) ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    else ((b(off + 1) & 0xff) << 8) | (b(off) & 0xff)

  private def u32(b: Array[Byte], off: Int, be: Boolean): Long =
    if (be) (u16(b, off, be).toLong << 16) | u16(b, off + 2, be)
    else (u16(b, off + 2, be).toLong << 16) | u16(b, off, be)

  /** VRs with the 2-reserved + 4-byte-length explicit form. */
  private val longVRs = Set("OB", "OW", "OF", "OD", "OL", "SQ", "UC", "UR", "UT", "UN")

  /** Walk one element at `pos`; returns (group, elem, vr-or-"" for
    * implicit, valueOffset, valueLength). Length 0xFFFFFFFF =
    * undefined (SQ / encapsulated).
    */
  private def element(b: Array[Byte], pos: Int, explicitVr: Boolean,
      be: Boolean): (Int, Int, String, Int, Long) = {
    val group = u16(b, pos, be)
    val elem = u16(b, pos + 2, be)
    if (!explicitVr || group == 0xfffe) { // delimitation items are always implicit
      (group, elem, "", pos + 8, u32(b, pos + 4, be))
    } else {
      val vr = new String(b, pos + 4, 2, "US-ASCII")
      if (longVRs.contains(vr)) (group, elem, vr, pos + 12, u32(b, pos + 8, be))
      else (group, elem, vr, pos + 8, u16(b, pos + 6, be).toLong)
    }
  }

  /** Skip an undefined-length sequence/item body starting at `pos`
    * (after the element header): walks nested items until the closing
    * delimiter at this depth, returns the offset past it.
    */
  private def skipUndefined(b: Array[Byte], start: Int, explicitVr: Boolean,
      be: Boolean, closing: Int): Int = {
    var pos = start
    while (pos + 8 <= b.length) {
      val (g, e, _, voff, vlen) = element(b, pos, explicitVr, be)
      if (g == 0xfffe && e == closing) return voff.toInt
      if (vlen == 0xffffffffL) {
        // nested undefined: items close with E00D, sequences with E0DD
        val close = if (g == 0xfffe && e == 0xe000) 0xe00d else 0xe0dd
        pos = skipUndefined(b, voff, explicitVr, be, close)
      } else pos = voff + vlen.toInt
    }
    throw new IllegalArgumentException("unterminated undefined-length DICOM sequence")
  }

  private def ascii(b: Array[Byte], off: Int, len: Int): String =
    new String(b, off, len, "US-ASCII").trim

  /** Parse the Part 10 file: preamble + DICM, the little-endian
    * explicit-VR meta group, then the dataset in its transfer syntax.
    * Stops at PixelData (records offset/length; never copies pixels).
    */
  def parse(bytes: Array[Byte]): SliceMeta = {
    require(bytes.length > 140 && ascii(bytes, 128, 4) == "DICM",
      "not a DICOM Part 10 file (missing DICM magic)")
    var pos = 132
    // file meta group (0002,xxxx): always explicit VR little endian
    var transferSyntax = ""
    while (pos + 8 <= bytes.length && u16(bytes, pos, be = false) == 0x0002) {
      val (_, elem, _, voff, vlen) = element(bytes, pos, explicitVr = true, be = false)
      if (elem == 0x0010) transferSyntax = ascii(bytes, voff, vlen.toInt)
        .replace("\u0000", "")
      pos = voff + vlen.toInt
    }
    require(transferSyntax.nonEmpty, "DICOM file meta without TransferSyntaxUID")
    if (transferSyntax == DeflatedLE) {
      // Deflated Explicit VR LE: the WHOLE post-meta dataset is one
      // raw-deflate stream — inflate, walk as explicit LE, and record
      // the deflate origin so decode tasks can re-inflate; offsets in
      // the returned meta index the INFLATED dataset
      parseDataset(inflateRaw(bytes, pos), 0, ExplicitLE, deflateFrom = pos)
        .copy(transferSyntax = DeflatedLE)
    } else parseDataset(bytes, pos, transferSyntax, deflateFrom = -1L)
  }

  /** Inflate a raw (headerless) deflate stream starting at `from`. */
  private[operators] def inflateRaw(bytes: Array[Byte], from: Long): Array[Byte] = {
    val inf = new java.util.zip.Inflater(true)
    inf.setInput(bytes, from.toInt, bytes.length - from.toInt)
    val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 2))
    val buf = new Array[Byte](65536)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      require(n > 0 || inf.finished(),
        "DICOM deflated dataset: truncated deflate stream")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }

  private def parseDataset(bytes: Array[Byte], start: Int,
      transferSyntax: String, deflateFrom: Long): SliceMeta = {
    var pos = start
    // encapsulated syntaxes use the default (explicit LE) dataset VR
    val encapsulated = transferSyntax == JpegBaseline ||
      transferSyntax == JpegExtended12 || transferSyntax == RleLossless ||
      transferSyntax == JpegLsLossless || transferSyntax == JpegLsNear ||
      transferSyntax == JpegLossless14 || transferSyntax == JpegLosslessSv1 ||
      transferSyntax == Jpeg2000Lossless || transferSyntax == Jpeg2000
    val (explicitVr, be) = transferSyntax match {
      case ImplicitLE => (false, false)
      case ExplicitLE => (true, false)
      case ExplicitBE => (true, true)
      case JpegBaseline | JpegExtended12 | RleLossless | JpegLsLossless |
          JpegLsNear | JpegLossless14 | JpegLosslessSv1 |
          Jpeg2000Lossless | Jpeg2000 =>
        (true, false)
      case other => throw new UnsupportedOperationException(
        s"DICOM transfer syntax $other unsupported (decodable here: " +
          "implicit/explicit LE, explicit BE, JPEG baseline, " +
          "JPEG extended 12-bit, JPEG lossless, JPEG-LS, JPEG 2000, " +
          "RLE lossless)")
    }

    var rows = -1; var cols = -1; var bits = -1; var signed = false
    var samples = 1; var photometric = "MONOCHROME2"; var planar = 0
    var nFrames = 1
    var psRow = 1.0; var psCol = 1.0; var thick = 1.0; var between = 0.0
    var instance = 0; var ippZ = 0.0; var slope = 1.0; var inter = 0.0
    var pdOff = -1L; var pdLen = -1L
    val fragOffs = Seq.newBuilder[Long]
    val fragLens = Seq.newBuilder[Long]
    val fragHdrs = Seq.newBuilder[Long] // item-header pos relative to BOT end
    val botOffs = Seq.newBuilder[Long]

    while (pdOff < 0 && pos + 8 <= bytes.length) {
      val (g, e, vr, voff, vlen) = element(bytes, pos, explicitVr, be)
      def str = ascii(bytes, voff, vlen.toInt)
      def ds(i: Int) = str.split("\\\\")(i).trim.toDouble
      (g, e) match {
        case (0x0028, 0x0010) => rows = u16(bytes, voff, be)
        case (0x0028, 0x0011) => cols = u16(bytes, voff, be)
        case (0x0028, 0x0100) => bits = u16(bytes, voff, be)
        case (0x0028, 0x0103) => signed = u16(bytes, voff, be) == 1
        case (0x0028, 0x0002) => samples = u16(bytes, voff, be)
        case (0x0028, 0x0004) => photometric = str
        case (0x0028, 0x0006) => planar = u16(bytes, voff, be)
        case (0x0028, 0x0008) => nFrames = str.toInt
        case (0x0028, 0x0030) => psRow = ds(0); psCol = ds(1)
        case (0x0018, 0x0050) => thick = str.toDouble
        case (0x0018, 0x0088) => between = str.toDouble
        case (0x0020, 0x0013) => instance = str.toInt
        case (0x0020, 0x0032) => ippZ = ds(2)
        case (0x0028, 0x1053) => slope = str.toDouble
        case (0x0028, 0x1052) => inter = str.toDouble
        case (0x7fe0, 0x0010) =>
          if (encapsulated) {
            require(vlen == 0xffffffffL,
              s"$transferSyntax PixelData must be encapsulated (undefined length)")
            // item walk: first item is the Basic Offset Table (maybe
            // empty — uint32 LE offsets of each frame's first
            // fragment ITEM, measured from the byte after the BOT),
            // every later item is one fragment
            var p = voff
            var sawBot = false
            var open = true
            var fragBase = -1L // first byte after the BOT item
            while (open) {
              require(p + 8 <= bytes.length, "unterminated encapsulated PixelData")
              val (ig, ie, _, ivoff, ivlen) = element(bytes, p, explicitVr = false, be = false)
              if (ig == 0xfffe && ie == 0xe0dd) open = false
              else {
                require(ig == 0xfffe && ie == 0xe000,
                  f"expected fragment item, got ($ig%04x,$ie%04x)")
                if (!sawBot) {
                  sawBot = true
                  require(ivlen % 4 == 0, s"Basic Offset Table length $ivlen not 4-aligned")
                  (0L until ivlen / 4).foreach(i =>
                    botOffs += u32(bytes, ivoff + 4 * i.toInt, be = false))
                  fragBase = ivoff + ivlen
                } else {
                  fragHdrs += p - fragBase // item-header pos, BOT origin
                  fragOffs += ivoff.toLong
                  fragLens += ivlen
                }
                p = ivoff + ivlen.toInt
              }
            }
            pdOff = voff.toLong; pdLen = fragLens.result().sum
          } else {
            require(vlen != 0xffffffffL, "encapsulated (compressed) PixelData " +
              "unsupported — transfer syntax lied or file malformed")
            pdOff = voff.toLong; pdLen = vlen
          }
        case _ => ()
      }
      pos =
        if ((g, e) == ((0x7fe0, 0x0010))) pos // loop exits (pdOff set)
        else if (vlen == 0xffffffffL) {
          require(vr == "SQ" || vr.isEmpty, s"undefined length on VR '$vr'")
          skipUndefined(bytes, voff, explicitVr, be, closing = 0xe0dd)
        } else voff + vlen.toInt
    }
    require(pdOff >= 0, "DICOM dataset without PixelData")
    require(rows > 0 && cols > 0, "DICOM without Rows/Columns")
    require(bits == 8 || bits == 16, s"BitsAllocated $bits unsupported (8/16)")
    require(samples == 1 || samples == 3,
      s"SamplesPerPixel $samples unsupported (1 grayscale / 3 color)")
    if (samples == 1)
      require(photometric == "MONOCHROME1" || photometric == "MONOCHROME2",
        s"PhotometricInterpretation '$photometric' unsupported for 1 sample")
    else {
      // color: native/RLE carry RGB; JPEG baseline streams are YCbCr
      // (YBR_FULL_422) or RGB — the JDK codec emits RGB either way
      val okColor = photometric == "RGB" ||
        (transferSyntax == JpegBaseline &&
          (photometric == "YBR_FULL" || photometric == "YBR_FULL_422")) ||
        ((transferSyntax == Jpeg2000Lossless || transferSyntax == Jpeg2000) &&
          (photometric == "YBR_RCT" || photometric == "YBR_ICT"))
      require(okColor,
        s"PhotometricInterpretation '$photometric' unsupported for 3 samples")
      require(bits == 8, s"color DICOM supports 8-bit samples (got $bits)")
      require(transferSyntax != JpegLsLossless && transferSyntax != JpegLsNear &&
        transferSyntax != JpegLossless14 && transferSyntax != JpegLosslessSv1 &&
        transferSyntax != JpegExtended12,
        s"color via $transferSyntax unsupported (single-component codecs here)")
      require(photometric != "YBR_ICT",
        "JPEG 2000 YBR_ICT is the irreversible 9/7 path — unsupported (RCT only)")
      require(planar == 0 || planar == 1,
        s"PlanarConfiguration $planar invalid")
    }
    val frags = fragOffs.result().zip(fragLens.result())
    val hdrs = fragHdrs.result()
    val bot = botOffs.result()
    var frameFrags: Seq[Seq[(Long, Long)]] = Nil
    if (encapsulated) {
      require(transferSyntax != JpegBaseline || bits == 8,
        "JPEG baseline is 8-bit — 12-bit data uses JPEG Extended (.4.51)")
      frameFrags =
        if (frags.length == nFrames) frags.map(Seq(_)) // 1:1, BOT unneeded
        else if (nFrames == 1) Seq(frags) // one frame split across fragments
        else {
          // multi-frame with split frames: the BOT delimits — frame i
          // owns the fragments whose item headers sit in
          // [bot(i), bot(i+1))
          require(bot.length == nFrames,
            s"$transferSyntax: ${frags.length} fragments for $nFrames frames " +
              s"and a ${bot.length}-entry Basic Offset Table — cannot delimit")
          val grouped = (0 until nFrames).map { i =>
            val lo = bot(i)
            val hi = if (i + 1 < nFrames) bot(i + 1) else Long.MaxValue
            frags.zip(hdrs).collect { case (f, h) if h >= lo && h < hi => f }
          }
          require(grouped.forall(_.nonEmpty) && grouped.map(_.length).sum == frags.length,
            s"$transferSyntax: Basic Offset Table does not partition the " +
              s"${frags.length} fragments over $nFrames frames")
          grouped
        }
      require(transferSyntax != RleLossless ||
        frameFrags.forall(_.length == 1),
        "RLE Lossless requires one fragment per frame (PS3.5 Annex G)")
    } else {
      require(pdLen >= rows.toLong * cols * samples * nFrames * (bits / 8),
        s"PixelData length $pdLen shorter than ${rows}x${cols}x$nFrames frames")
    }
    SliceMeta(rows, cols, bits, signed, samples, photometric, planar, nFrames,
      psRow, psCol, thick, between, instance, ippZ, slope, inter,
      transferSyntax, pdOff, pdLen, bigEndianData = be,
      frameFragments = frameFrags, deflateFrom = deflateFrom)
  }

  private def dtypeOf(m: SliceMeta): String = (m.bitsAllocated, m.signed) match {
    case (8, false) => "uint8"
    case (8, true) => "int8"
    case (16, false) => "uint16"
    case (16, true) => "int16"
  }

  final case class DicomImage(meta: ImageMeta, chunks: Dataset[ChunkRow])

  /** Read one .dcm file: frames become z. */
  def read(spark: SparkSession, path: String): DicomImage = readSeries(spark, Seq(path))

  /** Read a series directory (every .dcm/.DCM inside, one slice
    * each). Listing goes through the Hadoop FileSystem like every
    * other store path — local dirs, s3a://, gs:// all work.
    */
  def readSeriesDir(spark: SparkSession, dir: String): DicomImage = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.toLowerCase.endsWith(".dcm"))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"$dir contains no .dcm files")
    readSeries(spark, files)
  }

  /** Two metadata-sized passes over the series (header parse, slice
    * order fix) and one distributed decode. Output dims (x,y,z),
    * fastest-first like every volume reader here; z spacing prefers
    * SpacingBetweenSlices, then SliceThickness.
    */
  def readSeries(spark: SparkSession, paths: Seq[String]): DicomImage = {
    import spark.implicits._
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    // pass 1 (distributed): header facts only — pixels stay put
    val metas: Seq[(String, SliceMeta)] = spark.createDataset(paths)
      .map { p => (p, parse(new ZarrStore(p, hconf).readBytes(""))) }
      .collect().toSeq

    val first = metas.head._2
    metas.foreach { case (p, m) =>
      require(m.rows == first.rows && m.cols == first.cols &&
        m.bitsAllocated == first.bitsAllocated && m.signed == first.signed &&
        m.slope == first.slope && m.inter == first.inter &&
        m.pixelSpacingRow == first.pixelSpacingRow &&
        m.pixelSpacingCol == first.pixelSpacingCol &&
        m.sliceThickness == first.sliceThickness &&
        m.spacingBetween == first.spacingBetween &&
        m.photometric == first.photometric && m.samples == first.samples &&
        m.planarConfig == first.planarConfig,
        s"series member $p disagrees with the first slice " +
          "(shape/dtype/rescale/spacing/photometric) — a mixed series would " +
          "get a silently wrong physical scale")
      require(m.nFrames == 1 || metas.length == 1,
        "multi-frame files cannot mix with a multi-file series")
    }
    // z order: InstanceNumber when distinct, else IPP z, else input order
    val ordered =
      if (metas.map(_._2.instanceNumber).distinct.length == metas.length && metas.length > 1)
        metas.sortBy(_._2.instanceNumber)
      else if (metas.map(_._2.ippZ).distinct.length == metas.length && metas.length > 1)
        metas.sortBy(_._2.ippZ)
      else metas

    val nz = if (metas.length == 1) first.nFrames else metas.length
    val srcDtype = dtypeOf(first)
    val rescale = (first.slope, first.inter) != ((1.0, 0.0))
    val outDtype = if (rescale) "float32" else srcDtype
    // z spacing follows the reference (ITK series readers): uniform
    // ImagePositionPatient deltas over the sorted series win over the
    // SpacingBetweenSlices/SliceThickness tags (which routinely
    // disagree with the actual slice positions in gantry-tilted or
    // gapped acquisitions); the tags are the fallback
    val ippSpacing: Option[Double] =
      if (ordered.length > 1) {
        val zs = ordered.map(_._2.ippZ)
        val deltas = zs.sliding(2).map(pr => pr(1) - pr(0)).toSeq
        if (deltas.forall(d =>
            math.abs(d - deltas.head) < 1e-6 * math.max(1.0, math.abs(deltas.head))) &&
          math.abs(deltas.head) > 0) Some(math.abs(deltas.head))
        else None
      } else None
    val zSpacing = ippSpacing.getOrElse(
      if (first.spacingBetween != 0.0) first.spacingBetween else first.sliceThickness)
    val nSamples = first.samples
    val cDims = if (nSamples > 1) Seq("c") else Nil
    val meta = ImageMeta(
      dims = Seq("x", "y", "z") ++ cDims,
      shape = Seq(first.cols.toLong, first.rows.toLong, nz.toLong) ++
        (if (nSamples > 1) Seq(nSamples.toLong) else Nil),
      chunks = Seq(first.cols, first.rows, 1) ++
        (if (nSamples > 1) Seq(nSamples) else Nil),
      dtype = outDtype,
      scale = Map("x" -> first.pixelSpacingCol, "y" -> first.pixelSpacingRow,
        "z" -> zSpacing) ++ cDims.map(_ -> 1.0),
      translation = Map("x" -> 0.0, "y" -> 0.0,
        "z" -> ordered.head._2.ippZ) ++ cDims.map(_ -> 0.0))

    val rows = first.rows; val cols = first.cols
    val planarCfg = first.planarConfig
    val slope = first.slope; val inter = first.inter
    val bigEndianData = first.bigEndianData
    val itemSize = first.bitsAllocated / 8
    // pass 2 (distributed): every (file, z) positioned-reads ONLY its
    // own frame — pass 1 already collected each file's PixelData
    // offset (or encapsulated fragment table), so tasks ship a
    // (offset, length, decode-mode) instead of re-reading whole files
    def mode(m: SliceMeta): Int = m.transferSyntax match {
      case JpegBaseline => 1
      case RleLossless => 2
      case JpegLsLossless | JpegLsNear => 3
      case JpegLossless14 | JpegLosslessSv1 => 4
      case JpegExtended12 => 5
      case Jpeg2000Lossless | Jpeg2000 => 6
      case _ => 0
    }
    // a frame is one or more byte ranges: encapsulated frames may be
    // split across fragments (multi-range); native frames are one
    // contiguous range
    def frameRanges(m: SliceMeta, frame: Int): Seq[(Long, Long)] =
      if (m.frameFragments.nonEmpty) m.frameFragments(frame)
      else {
        val frameBytes = rows.toLong * cols * itemSize * m.samples
        Seq((m.pixelDataOffset + frame * frameBytes, frameBytes))
      }
    // (path, z, ranges, mode, deflateFrom)
    val tasks: Seq[(String, Int, Seq[(Long, Long)], Int, Long)] =
      if (metas.length == 1)
        (0 until nz).map { z =>
          (ordered.head._1, z, frameRanges(ordered.head._2, z),
            mode(ordered.head._2), ordered.head._2.deflateFrom)
        }
      else ordered.zipWithIndex.map { case ((p, m), z) =>
        (p, z, frameRanges(m, 0), mode(m), m.deflateFrom)
      }
    val chunkRows = spark.createDataset(tasks)
      .repartition(math.min(tasks.length, spark.sparkContext.defaultParallelism))
      .map { case (path, z, ranges, decodeMode, deflateFrom) =>
        val st = new ZarrStore(path, hconf)
        // deflated datasets re-inflate in the task (ranges index the
        // inflated stream); positioned file reads otherwise
        def slice(off: Long, len: Int): Array[Byte] =
          if (deflateFrom >= 0) {
            val inflated = inflateRaw(st.readBytes(""), deflateFrom)
            java.util.Arrays.copyOfRange(inflated, off.toInt, off.toInt + len)
          } else st.readRange("", off, len)
        val raw =
          if (ranges.length == 1) slice(ranges.head._1, ranges.head._2.toInt)
          else {
            // split frame: concatenate fragment payloads — they form
            // one compressed stream (decoders ignore trailing pad)
            val total = ranges.map(_._2).sum.toInt
            val buf = new Array[Byte](total)
            var at = 0
            ranges.foreach { case (off, len) =>
              System.arraycopy(slice(off, len.toInt), 0, buf, at, len.toInt)
              at += len.toInt
            }
            buf
          }
        // every decoder yields PIXEL-INTERLEAVED samples
        // (y-major; planar native frames rearrange below)
        val px = decodeMode match {
          case 1 =>
            if (nSamples == 1) decodeJpegGray(raw, rows, cols)
            else decodeJpegBands(raw, rows, cols, nSamples)
          case 2 => decodeRleFrame(raw, rows * cols, itemSize, srcDtype, nSamples)
          case 3 => decodeJpegLsFrame(raw, rows, cols, srcDtype)
          case 4 => decodeJpegLosslessFrame(raw, rows, cols, srcDtype)
          case 5 => decodeJpegExtFrame(raw, rows, cols, srcDtype)
          case 6 => decodeJpeg2kFrame(raw, rows, cols, srcDtype, nSamples)
          case _ =>
            val vals = ZarrStore.decodeToDoubles(raw, srcDtype, bigEndianData)
            if (planarCfg == 1 && nSamples > 1) {
              // planar RRR..GGG..BBB → interleaved
              val n = rows * cols
              val inter2 = new Array[Double](vals.length)
              var c = 0
              while (c < nSamples) {
                var i = 0
                while (i < n) { inter2(i * nSamples + c) = vals(c * n + i); i += 1 }
                c += 1
              }
              inter2
            } else vals
        }
        // DICOM rows are y-major; chunk payload is C-order over
        // (x,y,z=1[,c])
        val out = new Array[Double](rows * cols * nSamples)
        var y = 0
        while (y < rows) {
          var x = 0
          while (x < cols) {
            var c = 0
            while (c < nSamples) {
              val v = px((y * cols + x) * nSamples + c)
              out((x * rows + y) * nSamples + c) =
                if (rescale) (v * slope + inter).toFloat.toDouble else v
              c += 1
            }
            x += 1
          }
          y += 1
        }
        val cIdx = if (nSamples > 1) Seq(0) else Nil
        ChunkRow(Seq(0, 0, z) ++ cIdx, Seq(0L, 0L, z.toLong) ++ cIdx.map(_.toLong),
          Seq(cols, rows, 1) ++ (if (nSamples > 1) Seq(nSamples) else Nil),
          ZarrStore.encodeFromDoubles(out, outDtype))
      }
    DicomImage(meta, chunkRows)
  }

  // ---- encapsulated-frame decoders (JPEG baseline, RLE) ----

  /** Decode one JPEG-baseline fragment to grayscale doubles via the
    * JDK codec — the same `javax.imageio` path the TIFF compression-7
    * reader uses, so no native codec dependency.
    */
  private[operators] def decodeJpegGray(frag: Array[Byte], rows: Int, cols: Int): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frag))
    require(img != null, "JPEG fragment failed to decode")
    require(img.getHeight == rows && img.getWidth == cols,
      s"JPEG frame is ${img.getHeight}x${img.getWidth}, header says ${rows}x$cols")
    val raster = img.getRaster
    val out = new Array[Double](rows * cols)
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) { out(y * cols + x) = raster.getSample(x, y, 0).toDouble; x += 1 }
      y += 1
    }
    out
  }

  /** Decode one JPEG-LS fragment (transfer syntaxes .4.80/.4.81) via
    * the pure-JVM T.87 codec. DICOM stores signed pixels in JPEG-LS
    * as their two's-complement bit pattern (the codec itself is
    * unsigned), so `int8`/`int16` reinterpret at the stored width.
    */
  private[operators] def decodeJpegLsFrame(frag: Array[Byte], rows: Int,
      cols: Int, dtype: String): Array[Double] = {
    val img = JpegLs.decode(frag)
    require(img.height == rows && img.width == cols,
      s"JPEG-LS frame is ${img.height}x${img.width}, header says ${rows}x$cols")
    val out = new Array[Double](rows * cols)
    var i = 0
    dtype match {
      case "int16" =>
        while (i < out.length) { out(i) = img.samples(i).toShort.toDouble; i += 1 }
      case "int8" =>
        while (i < out.length) { out(i) = img.samples(i).toByte.toDouble; i += 1 }
      case _ =>
        while (i < out.length) { out(i) = img.samples(i).toDouble; i += 1 }
    }
    out
  }

  /** Decode one JPEG Lossless fragment (transfer syntaxes .4.57/.4.70)
    * via the pure-JVM T.81 process-14 codec — same signed
    * reinterpretation convention as JPEG-LS.
    */
  private[operators] def decodeJpegLosslessFrame(frag: Array[Byte], rows: Int,
      cols: Int, dtype: String): Array[Double] = {
    val img = JpegLossless.decode(frag)
    require(img.height == rows && img.width == cols,
      s"JPEG-lossless frame is ${img.height}x${img.width}, header says ${rows}x$cols")
    val out = new Array[Double](rows * cols)
    var i = 0
    dtype match {
      case "int16" =>
        while (i < out.length) { out(i) = img.samples(i).toShort.toDouble; i += 1 }
      case "int8" =>
        while (i < out.length) { out(i) = img.samples(i).toByte.toDouble; i += 1 }
      case _ =>
        while (i < out.length) { out(i) = img.samples(i).toDouble; i += 1 }
    }
    out
  }

  /** Decode one 8/12-bit extended sequential JPEG fragment (transfer
    * syntax .4.51) via the pure-JVM SOF0/SOF1 decoder. Lossy — same
    * posture as JPEG baseline: callers pin values with bounded-error
    * or reconstruction-parity checks.
    */
  private[operators] def decodeJpegExtFrame(frag: Array[Byte], rows: Int,
      cols: Int, dtype: String): Array[Double] = {
    val img = JpegExtended.decode(frag)
    require(img.height == rows && img.width == cols,
      s"JPEG-extended frame is ${img.height}x${img.width}, header says ${rows}x$cols")
    val out = new Array[Double](rows * cols)
    var i = 0
    dtype match {
      case "int16" =>
        while (i < out.length) { out(i) = img.samples(i).toShort.toDouble; i += 1 }
      case "int8" =>
        while (i < out.length) { out(i) = img.samples(i).toByte.toDouble; i += 1 }
      case _ =>
        while (i < out.length) { out(i) = img.samples(i).toDouble; i += 1 }
    }
    out
  }

  /** Decode one JPEG-baseline color fragment to pixel-interleaved
    * band values via the JDK codec (which upsamples and converts the
    * stream's YCbCr to RGB — the DICOM .50 color convention).
    */
  private[operators] def decodeJpegBands(frag: Array[Byte], rows: Int,
      cols: Int, bands: Int): Array[Double] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(frag))
    require(img != null, "JPEG fragment failed to decode")
    require(img.getHeight == rows && img.getWidth == cols,
      s"JPEG frame is ${img.getHeight}x${img.getWidth}, header says ${rows}x$cols")
    val raster = img.getRaster
    require(raster.getNumBands == bands,
      s"JPEG frame has ${raster.getNumBands} bands, header says $bands")
    val out = new Array[Double](rows * cols * bands)
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) {
        var c = 0
        while (c < bands) {
          out((y * cols + x) * bands + c) = raster.getSample(x, y, c).toDouble
          c += 1
        }
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode one JPEG 2000 fragment (transfer syntaxes .4.90/.4.91)
    * via the pure-JVM T.800 decoder — reversible 5/3 or irreversible
    * 9/7 with quantization (the .4.91 clinical-export shape). Signed
    * codestreams carry signed components natively; unsigned ones
    * reinterpret per the dataset dtype like the other codecs.
    */
  private[operators] def decodeJpeg2kFrame(frag: Array[Byte], rows: Int,
      cols: Int, dtype: String, bands: Int = 1): Array[Double] = {
    val img = Jpeg2k.decode(frag)
    require(img.height == rows && img.width == cols,
      s"JPEG 2000 frame is ${img.height}x${img.width}, header says ${rows}x$cols")
    require(img.components == bands,
      s"JPEG 2000 frame has ${img.components} components, header says $bands")
    val out = new Array[Double](rows * cols * bands)
    var i = 0
    if (img.signed) {
      while (i < out.length) { out(i) = img.samples(i).toDouble; i += 1 }
    } else dtype match {
      case "int16" =>
        while (i < out.length) { out(i) = img.samples(i).toShort.toDouble; i += 1 }
      case "int8" =>
        while (i < out.length) { out(i) = img.samples(i).toByte.toDouble; i += 1 }
      case _ =>
        while (i < out.length) { out(i) = img.samples(i).toDouble; i += 1 }
    }
    out
  }

  /** PS3.5 Annex G PackBits: n in [0,127] → copy n+1 literals;
    * n in [-127,-1] → repeat next byte 1−n times; −128 → no-op.
    */
  private def packBitsDecode(b: Array[Byte], start: Int, end: Int,
      out: Array[Byte]): Unit = {
    var i = start
    var o = 0
    while (i < end && o < out.length) {
      val n = b(i)
      if (n >= 0) {
        val run = n + 1
        require(i + 1 + run <= end,
          s"RLE literal run overruns its segment ($run bytes at $i, end $end)")
        System.arraycopy(b, i + 1, out, o, math.min(run, out.length - o))
        o += run; i += 1 + run
      } else if (n != -128) {
        val run = 1 - n
        require(i + 1 < end,
          s"RLE replicate run truncated at segment end ($i, end $end)")
        val v = b(i + 1)
        var k = 0
        while (k < run && o < out.length) { out(o) = v; o += 1; k += 1 }
        i += 2
      } else i += 1
    }
    require(o >= out.length, s"RLE segment short: $o of ${out.length} bytes")
  }

  /** Decode one RLE Lossless frame (PS3.5 Annex G): 64-byte header of
    * 16 little-endian uint32s (segment count + 15 offsets), then one
    * PackBits segment per composite-pixel-code byte plane — sample-
    * major, most significant byte first (grayscale 16-bit: MSB, LSB;
    * RGB 8-bit: R, G, B) — so the composed interleaved stream is
    * big-endian regardless of the dataset encoding.
    */
  private[operators] def decodeRleFrame(frag: Array[Byte], nPix: Int,
      itemSize: Int, dtype: String, samples: Int = 1): Array[Double] = {
    require(frag.length >= 64, "RLE frame shorter than its 64-byte header")
    def u32le(off: Int): Long = u32(frag, off, be = false)
    val nSeg = u32le(0).toInt
    require(nSeg == itemSize * samples,
      s"RLE frame has $nSeg segments for $samples x $itemSize-byte samples")
    val offsets = (0 until nSeg).map(i => u32le(4 + 4 * i).toInt)
    val composed = new Array[Byte](nPix * itemSize * samples)
    val seg = new Array[Byte](nPix)
    var s = 0
    while (s < nSeg) {
      val end = if (s + 1 < nSeg) offsets(s + 1) else frag.length
      packBitsDecode(frag, offsets(s), end, seg)
      // plane s belongs to sample s/itemSize, byte s%itemSize (MSB 1st)
      var p = 0
      while (p < nPix) { composed(p * itemSize * samples + s) = seg(p); p += 1 }
      s += 1
    }
    ZarrStore.decodeToDoubles(composed, dtype, bigEndian = true)
  }

  // ---- minimal encoder (fixtures + synthetic gate payloads) ----

  private[operators] def le16(v: Int): Array[Byte] = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private[operators] def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def shortEl(g: Int, e: Int, vr: String, value: Array[Byte]): Array[Byte] = {
    // odd values pad to even length: UIDs with NUL, text VRs with space
    val pad: Byte = if (vr == "UI") 0 else ' '.toByte
    val padded = if (value.length % 2 == 1) value :+ pad else value
    le16(g) ++ le16(e) ++ vr.getBytes("US-ASCII") ++ le16(padded.length) ++ padded
  }
  private def usEl(g: Int, e: Int, v: Int) = shortEl(g, e, "US", le16(v))
  private def asciiEl(g: Int, e: Int, vr: String, s: String) =
    shortEl(g, e, vr, s.getBytes("US-ASCII"))

  /** Part 10 wrapper + common dataset elements shared by the slice
    * encoders here and the specs' fixture encoders; `pixelData` is the
    * fully formed (7FE0,0010) element in whichever form the transfer
    * syntax requires.
    */
  private[operators] def buildSlice(ts: String, bits: Int, signed: Boolean,
      rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixelData: Array[Byte], samples: Int = 1,
      photometric: String = "MONOCHROME2", planar: Int = -1): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(new Array[Byte](128))
    out.write("DICM".getBytes("US-ASCII"))
    val tsEl = asciiEl(0x0002, 0x0010, "UI", ts)
    out.write(shortEl(0x0002, 0x0000, "UL", le32(tsEl.length)))
    out.write(tsEl)

    out.write(asciiEl(0x0008, 0x0060, "CS", "OT"))
    out.write(asciiEl(0x0018, 0x0050, "DS", sliceThickness.toString))
    out.write(asciiEl(0x0020, 0x0013, "IS", instanceNumber.toString))
    out.write(asciiEl(0x0020, 0x0032, "DS", s"0\\0\\$ippZ"))
    out.write(usEl(0x0028, 0x0002, samples))
    out.write(asciiEl(0x0028, 0x0004, "CS", photometric))
    if (planar >= 0) out.write(usEl(0x0028, 0x0006, planar))
    out.write(usEl(0x0028, 0x0010, rows))
    out.write(usEl(0x0028, 0x0011, cols))
    out.write(asciiEl(0x0028, 0x0030, "DS",
      s"${pixelSpacingRowCol._1}\\${pixelSpacingRowCol._2}"))
    out.write(usEl(0x0028, 0x0100, bits))
    out.write(usEl(0x0028, 0x0101, bits))
    out.write(usEl(0x0028, 0x0102, bits - 1))
    out.write(usEl(0x0028, 0x0103, if (signed) 1 else 0))
    out.write(pixelData)
    out.toByteArray
  }

  /** One Explicit-VR-LE Part 10 slice with int16 pixels — the layout
    * every DICOM parser must accept. Used by the i68 gate and specs.
    */
  def encodeSliceInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val bb = ByteBuffer.allocate(pixels.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    pixels.foreach(bb.putShort)
    val pd = le16(0x7fe0) ++ le16(0x0010) ++ "OW".getBytes("US-ASCII") ++
      Array[Byte](0, 0) ++ le32(pixels.length * 2L) ++ bb.array()
    buildSlice(ExplicitLE, bits = 16, signed = true, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness, pd)
  }

  /** Encapsulated (7FE0,0010): OB undefined length, empty Basic
    * Offset Table item, one fragment item per frame (even-padded),
    * sequence delimiter.
    */
  private[operators] def encapsulate(fragments: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(le16(0x7fe0) ++ le16(0x0010) ++ "OB".getBytes("US-ASCII") ++
      Array[Byte](0, 0) ++ le32(0xffffffffL))
    out.write(le16(0xfffe) ++ le16(0xe000) ++ le32(0)) // empty BOT
    fragments.foreach { f =>
      val padded = if (f.length % 2 == 1) f :+ 0.toByte else f
      out.write(le16(0xfffe) ++ le16(0xe000) ++ le32(padded.length.toLong))
      out.write(padded)
    }
    out.write(le16(0xfffe) ++ le16(0xe0dd) ++ le32(0))
    out.toByteArray
  }

  /** PS3.5 Annex G PackBits encoder: runs of ≥3 replicate, the rest
    * copy as literals of ≤128.
    */
  private[operators] def packBitsEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < data.length) {
      var run = 1
      while (i + run < data.length && data(i + run) == data(i) && run < 128) run += 1
      if (run >= 3) {
        out.write(1 - run); out.write(data(i)); i += run
      } else {
        var lit = 0
        val start = i
        // literals extend until a ≥3 run starts or 128 bytes accrue
        while (i < data.length && lit < 128 &&
            !(i + 2 < data.length && data(i) == data(i + 1) && data(i) == data(i + 2))) {
          i += 1; lit += 1
        }
        out.write(lit - 1)
        out.write(data, start, lit)
      }
    }
    out.toByteArray
  }

  /** One RLE Lossless Part 10 slice with int16 pixels: two PackBits
    * byte planes (MSB segment first per Annex G), 64-byte offset
    * header, encapsulated fragments. Lossless — decodes bit-identical
    * to the explicit-LE form, which is exactly what the i68 gate
    * exploits by mixing both syntaxes in one series.
    */
  def encodeSliceRleInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val msb = pixels.map(p => ((p >> 8) & 0xff).toByte)
    val lsb = pixels.map(p => (p & 0xff).toByte)
    val segs = Seq(packBitsEncode(msb), packBitsEncode(lsb))
      .map(s => if (s.length % 2 == 1) s :+ 0.toByte else s)
    val frame = new java.io.ByteArrayOutputStream()
    // 16-word header: segment count + 15 offsets (2 used, 13 zero)
    frame.write(le32(2))
    frame.write(le32(64))
    frame.write(le32(64L + segs.head.length))
    (0 until 13).foreach(_ => frame.write(le32(0)))
    segs.foreach(s => frame.write(s))
    buildSlice(RleLossless, bits = 16, signed = true, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(frame.toByteArray)))
  }

  /** One JPEG-LS Lossless Part 10 slice with int16 pixels: the frame
    * goes through [[JpegLs.encode]] at precision 16 with the signed
    * values reinterpreted as their unsigned bit pattern (the DICOM
    * convention for signed JPEG-LS data). Lossless — decodes
    * bit-identical to the explicit-LE form, so the i68 gate can mix
    * all three syntaxes under one closed-form oracle.
    */
  def encodeSliceJpegLsInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val unsigned = pixels.map(_ & 0xffff)
    val jls = JpegLs.encode(unsigned, cols, rows, precision = 16)
    buildSlice(JpegLsLossless, bits = 16, signed = true, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(jls)))
  }

  /** One JPEG Lossless (SV1, .4.70) Part 10 slice with int16 pixels —
    * the fourth lossless syntax the i68 gate can mix under one oracle.
    */
  def encodeSliceJpegLosslessInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val unsigned = pixels.map(_ & 0xffff)
    val jlo = JpegLossless.encode(unsigned, cols, rows, precision = 16,
      predictor = 1)
    buildSlice(JpegLosslessSv1, bits = 16, signed = true, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(jlo)))
  }

  /** One JPEG 2000 Lossless (.4.90) Part 10 slice with int16 pixels:
    * encoded as a SIGNED single component through [[Jpeg2kEncode]]
    * (reversible 5/3, 1 level, 4x4 code-blocks at gate sizes) — the
    * fifth lossless syntax the i68 gate mixes under one oracle.
    */
  def encodeSliceJpeg2kInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val j2c = Jpeg2kEncode.encode(Seq(pixels.map(_.toInt)), cols, rows,
      prec = 16, signed = true, levels = 1, cbw = 4, cbh = 4)
    buildSlice(Jpeg2000Lossless, bits = 16, signed = true, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(j2c)))
  }

  /** One Deflated-Explicit-VR-LE (.1.99) Part 10 slice with int16
    * pixels: the explicit-LE dataset raw-deflated after the meta
    * group — the sixth syntax in the i68 mix.
    */
  def encodeSliceDeflatedInt16(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Short]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    // build the plain explicit-LE file, then split after the meta
    // group and deflate the dataset portion
    val plain = encodeSliceInt16(rows, cols, instanceNumber, ippZ,
      pixelSpacingRowCol, sliceThickness, pixels)
    var pos = 132
    while (pos + 8 <= plain.length && u16(plain, pos, be = false) == 0x0002) {
      val (_, _, _, voff, vlen) = element(plain, pos, explicitVr = true, be = false)
      pos = voff + vlen.toInt
    }
    val ds = java.util.Arrays.copyOfRange(plain, pos, plain.length)
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    defl.setInput(ds)
    defl.finish()
    val out = new java.io.ByteArrayOutputStream()
    val bb = new Array[Byte](8192)
    while (!defl.finished()) out.write(bb, 0, defl.deflate(bb))
    defl.end()
    val head = new java.io.ByteArrayOutputStream()
    head.write(new Array[Byte](128))
    head.write("DICM".getBytes("US-ASCII"))
    val tsEl = asciiEl(0x0002, 0x0010, "UI", DeflatedLE)
    head.write(shortEl(0x0002, 0x0000, "UL", le32(tsEl.length)))
    head.write(tsEl)
    head.write(out.toByteArray)
    head.toByteArray
  }
}
