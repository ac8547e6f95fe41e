package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model._
import graft.zarr.{SerializableHadoopConf, ZarrStore}
import ChunkOps.ChunkRow

/** S10 — pure-JVM baseline TIFF ingestion (classic and BigTIFF), the
  * reference's tifffile-as-zarr path
  * (`py/ngff_zarr/cli_input_to_ngff_image.py:17-60`) re-expressed for
  * Spark: every strip or tile is an independently compressed region,
  * so the chunk table maps 1:1 onto the file's own layout and each
  * Spark task positioned-reads just its strip/tile — scalable to
  * arbitrarily large BigTIFFs with no driver transit.
  *
  * Supported: II/MM byte orders, classic (42) + BigTIFF (43) IFDs,
  * strip and tile layouts, grayscale/RGB pixels in BOTH chunky and
  * planar configurations (tag 284 = 2: channel-major strip/tile runs
  * land as c-depth-1 chunks — each region already has single-sample
  * stride, so the decode path is unchanged), 8/16/32-bit
  * unsigned/signed/float samples (64-bit float too), compressions
  * none/Deflate(8,32946)/PackBits(32773)/LZW(5) with the horizontal-
  * differencing predictor (tag 317 = 2), new-style JPEG (7) via
  * `javax.imageio` including shared JPEGTables (tag 347), and
  * old-style JPEG (6) in BOTH surviving profiles — a complete
  * JPEGInterchangeFormat stream (tags 513/514, decoded as one
  * full-page region) and the per-strip tables-in-tags form (tags
  * 519/520/521: each strip's entropy data re-headed into a complete
  * baseline stream; 8-bit grayscale, the only unambiguously
  * specified variant), multi-page stacks of equal shape as a z
  * dimension, and OME-TIFF
  * axes metadata: the OME-XML in ImageDescription (tag 270) supplies
  * DimensionOrder/SizeZ/C/T page interleaving and PhysicalSizeX/Y/Z
  * spacing (normalized to µm), so a `.ome.tif` ingests with correct
  * t/c/z dims instead of pages→z; multi-Image (multi-series) OME
  * documents read one series per call via their TiffData plane→IFD
  * mappings (`read(..., omeSeries = n)`). Palette color (photometric
  * 3) expands its 16-bit ColorMap at decode to interleaved uint16
  * RGB (8-bit or packed 4-bit indices). Rejected with precise
  * errors: old-style JPEG with neither an interchange stream
  * nor table tags (and its color tables-in-tags variant, whose
  * subsampling was never unambiguously specified), movie codecs,
  * scrambled/sparse OME TiffData mappings, unknown OME units.
  */
object TiffIO {

  final case class TiffPage(
      width: Int, height: Int,
      samplesPerPixel: Int, bitsPerSample: Int, sampleFormat: Int,
      compression: Int, predictor: Int,
      // strip layout: tileWidth == 0; tile layout otherwise
      rowsPerStrip: Int, tileWidth: Int, tileLength: Int,
      offsets: Seq[Long], byteCounts: Seq[Long],
      // tag 347: shared quantization/Huffman tables for abbreviated
      // JPEG (compression 7) regions
      jpegTables: Option[Array[Byte]] = None,
      // tag 254: bit 0 marks a reduced-resolution page (LSM writes a
      // thumbnail IFD after every image IFD — those are skipped)
      newSubfileType: Long = 0L,
      // tag 262, checked at read time over the pages actually used
      photometric: Int = 1,
      // tag 284: 1 = chunky (samples interleaved per pixel), 2 =
      // planar (one strip/tile run per channel, channel-major)
      planarConfig: Int = 1,
      // old-style JPEG (compression 6) per-strip profile: raw tables
      // from tags 519/520/521, each strip is entropy-coded scan data
      // re-headed at decode time (None for the interchange profile,
      // which collapses to one complete stream at parse time)
      oldJpeg: Option[OldJpeg] = None,
      // tag 320 (palette-color, photometric 3): 3*2^bits u16 entries,
      // all reds then greens then blues
      colorMap: Option[Array[Int]] = None,
      // tag 270 of THIS page — Aperio SVS names associated images
      // (label/macro) in later pages' descriptions
      description: Option[String] = None)

  /** TIFF 6.0 §22 tables-in-tags: one 64-byte quantization table
    * (tag 519), raw DC/AC Huffman tables (16 counts + values, tags
    * 520/521), optional restart interval (tag 515).
    */
  final case class OldJpeg(qTable: Array[Byte], dcTable: Array[Byte],
      acTable: Array[Byte], restartInterval: Int)

  final case class TiffInfo(littleEndian: Boolean, pages: Seq[TiffPage],
      // first page's ImageDescription (tag 270) — OME-TIFFs carry
      // their OME-XML here
      description: Option[String] = None,
      // tag 34412 on IFD 0 — Zeiss LSM dimensions and voxel sizes
      lsmInfo: Option[LsmInfo] = None)

  /** The axes-bearing head of the Zeiss CZ_LSMINFO struct (private
    * TIFF tag 34412, always little-endian): dimensions at byte
    * offsets 8..27, the intensity data type at 28, and the voxel
    * sizes as float64 METERS at 40/48/56 — kept in meters here
    * because ITK's LSMImageIO (the reference's `.lsm` route,
    * `py/ngff_zarr/detect_cli_io_backend.py:36-68`) adopts the raw
    * values as spacing without unit conversion.
    */
  final case class LsmInfo(dimX: Int, dimY: Int, dimZ: Int,
      channels: Int, time: Int, dataType: Int,
      voxelX: Double, voxelY: Double, voxelZ: Double)

  private[operators] def parseLsmInfo(b: Array[Byte]): LsmInfo = {
    require(b.length >= 64, s"CZ_LSMINFO too short (${b.length} bytes)")
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt(0)
    require(magic == 0x0300494c || magic == 0x0400494c,
      f"CZ_LSMINFO magic 0x$magic%08x unrecognized")
    LsmInfo(bb.getInt(8), bb.getInt(12), bb.getInt(16), bb.getInt(20),
      bb.getInt(24), bb.getInt(28),
      bb.getDouble(40), bb.getDouble(48), bb.getDouble(56))
  }

  /** The axes-bearing subset of an OME-XML `Pixels` element
    * (DimensionOrder, Size*, PhysicalSize* normalized to µm). The
    * reference reaches the same metadata through tifffile's OME
    * series support (`py/ngff_zarr/detect_cli_io_backend.py:92-106`,
    * `py/ngff_zarr/cli_input_to_ngff_image.py:62-73`).
    */
  final case class OmePixels(dimensionOrder: String,
      sizeX: Int, sizeY: Int, sizeZ: Int, sizeC: Int, sizeT: Int,
      omeType: Option[String],
      // x/y/z physical spacing in micrometers, only when declared
      physicalScale: Map[String, Double])

  /** True when an ImageDescription is OME-XML (tifffile's own probe:
    * the payload is an XML document whose root element is OME).
    */
  private[operators] def isOmeXml(desc: String): Boolean = {
    val t = desc.trim
    t.startsWith("<OME") || (t.startsWith("<?xml") && t.contains("<OME"))
  }

  /** OME PhysicalSize units → micrometers (the OME default unit). An
    * unknown unit refuses loudly rather than silently mis-scaling.
    */
  private val UnitToMicron = Map(
    "µm" -> 1.0, "um" -> 1.0, "micron" -> 1.0, "micrometer" -> 1.0,
    "nm" -> 1e-3, "pm" -> 1e-6, "Å" -> 1e-4, "angstrom" -> 1e-4,
    "mm" -> 1e3, "cm" -> 1e4, "m" -> 1e6)

  /** OME `Pixels/@Type` names → engine dtypes (the subset this reader
    * decodes; OME also defines bit/complex types we refuse).
    */
  private val OmeTypeToDtype = Map(
    "uint8" -> "uint8", "int8" -> "int8", "uint16" -> "uint16",
    "int16" -> "int16", "uint32" -> "uint32", "int32" -> "int32",
    "float" -> "float32", "double" -> "float64")

  /** Parse ALL `Image` elements of a (possibly multi-series) OME-XML
    * document: per image, its `Pixels` metadata plus the IFD index
    * list its planes occupy, from the `TiffData` plane→IFD mappings
    * (`IFD`/`PlaneCount`/`FirstZ`/`FirstC`/`FirstT`). Blocks may
    * arrive in ANY plane order (multi-position acquisitions commonly
    * scramble plane→IFD mappings; tifffile accepts arbitrary
    * permutations) — the result is always indexed by plane, IFDs
    * permuted to match. Conflicting (twice-mapped) and SPARSE
    * mappings refuse loudly by name: a plane with no IFD has no
    * pixels, and zero-filling silently would corrupt downstream
    * statistics. A single-Image document with no TiffData keeps the
    * default one-to-one rule.
    */
  def parseOmeImages(xml: String): Seq[(OmePixels, Seq[Int])] = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    // no DOCTYPE: the description is untrusted file content
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder().parse(
      new org.xml.sax.InputSource(new java.io.StringReader(xml)))
    val images = doc.getElementsByTagNameNS("*", "Image")
    require(images.getLength >= 1, "OME-XML has no Image element")
    var nextIfd = 0 // default IFD when a TiffData block omits it
    (0 until images.getLength).map { ii =>
      val img = images.item(ii).asInstanceOf[org.w3c.dom.Element]
      val pixelsList = img.getElementsByTagNameNS("*", "Pixels")
      require(pixelsList.getLength == 1,
        s"OME Image needs exactly one Pixels element, found ${pixelsList.getLength}")
      val pxEl = pixelsList.item(0).asInstanceOf[org.w3c.dom.Element]
      val px = parsePixels(pxEl)
      val nPlanes = px.sizeZ * px.sizeC * px.sizeT
      // plane index of a (z, c, t) coordinate under DimensionOrder
      // (fastest-varying axis first after XY)
      val strides: Map[Char, Int] = {
        val sizes = px.dimensionOrder.drop(2).map {
          case 'Z' => ('Z', px.sizeZ)
          case 'C' => ('C', px.sizeC)
          case 'T' => ('T', px.sizeT)
        }
        val st = sizes.map(_._2).scanLeft(1)(_ * _).init
        sizes.map(_._1).zip(st).toMap
      }
      val tds = pxEl.getElementsByTagNameNS("*", "TiffData")
      val ifds =
        if (tds.getLength == 0) {
          require(images.getLength == 1,
            "multi-Image OME-TIFF without TiffData plane mappings is ambiguous")
          (0 until nPlanes).toSeq
        } else {
          val planeToIfd = Array.fill(nPlanes)(-1)
          (0 until tds.getLength).foreach { ti =>
            val td = tds.item(ti).asInstanceOf[org.w3c.dom.Element]
            def ia(n: String, dflt: Int): Int =
              Option(td.getAttribute(n)).filter(_.nonEmpty).map(_.toInt).getOrElse(dflt)
            val first = ia("FirstZ", 0) * strides('Z') +
              ia("FirstC", 0) * strides('C') + ia("FirstT", 0) * strides('T')
            require(first >= 0 && first < nPlanes,
              s"OME TiffData FirstZ/C/T addresses plane $first of $nPlanes")
            val ifd0 = ia("IFD", nextIfd)
            val count = ia("PlaneCount", nPlanes - first)
            require(count >= 1, "OME TiffData with PlaneCount < 1")
            require(first + count <= nPlanes,
              s"OME TiffData block [$first, ${first + count}) exceeds $nPlanes planes")
            var k = 0
            while (k < count) {
              require(planeToIfd(first + k) < 0,
                s"OME TiffData maps plane ${first + k} twice")
              planeToIfd(first + k) = ifd0 + k
              k += 1
            }
            nextIfd = ifd0 + count
          }
          val missing = planeToIfd.count(_ < 0)
          require(missing == 0,
            s"sparse OME TiffData: covers ${nPlanes - missing} of $nPlanes planes")
          planeToIfd.toIndexedSeq
        }
      (px, ifds)
    }
  }

  private def parsePixels(px: org.w3c.dom.Element): OmePixels = {
    def attr(n: String): Option[String] =
      Option(px.getAttribute(n)).filter(_.nonEmpty)
    def intAttr(n: String, dflt: Int): Int = attr(n).map(_.toInt).getOrElse(dflt)
    val order = attr("DimensionOrder").getOrElse("XYZCT")
    require(order.length == 5 && order.startsWith("XY") &&
      order.drop(2).sorted == "CTZ", s"bad OME DimensionOrder '$order'")
    def phys(axis: String): Option[(String, Double)] =
      attr(s"PhysicalSize$axis").map { v =>
        val unit = attr(s"PhysicalSize${axis}Unit").getOrElse("µm")
        val factor = UnitToMicron.getOrElse(unit,
          throw new UnsupportedOperationException(
            s"OME PhysicalSize${axis}Unit '$unit' unsupported"))
        axis.toLowerCase -> v.toDouble * factor
      }
    OmePixels(order,
      intAttr("SizeX", 1), intAttr("SizeY", 1), intAttr("SizeZ", 1),
      intAttr("SizeC", 1), intAttr("SizeT", 1),
      attr("Type"),
      Seq("X", "Y", "Z").flatMap(phys).toMap)
  }

  /** Engine dtype for (bitsPerSample, sampleFormat). Format 1 =
    * unsigned, 2 = signed, 3 = IEEE float (TIFF 6.0 + TechNote).
    */
  def dtypeFor(bits: Int, fmt: Int): String = (bits, fmt) match {
    case (8, 1) => "uint8"
    case (8, 2) => "int8"
    case (16, 1) => "uint16"
    case (16, 2) => "int16"
    case (32, 1) => "uint32"
    case (32, 2) => "int32"
    case (32, 3) => "float32"
    case (64, 3) => "float64"
    case other => throw new UnsupportedOperationException(
      s"TIFF sample type $other unsupported (bits, sampleFormat)")
  }

  // ---- IFD parsing ----

  /** Random-access byte source for IFD parsing. TIFF metadata can sit
    * anywhere in the file — libtiff-family writers put IFDs AFTER the
    * pixel data on close — so parsing must not assume a head window.
    */
  private[operators] trait TiffSource {
    def length: Long
    def get(off: Long, len: Int): Array[Byte]
  }

  private[operators] final class ArraySource(a: Array[Byte]) extends TiffSource {
    def length: Long = a.length
    def get(off: Long, len: Int): Array[Byte] = {
      require(off >= 0 && off + len <= a.length,
        s"TIFF read [$off, ${off + len}) beyond file length ${a.length}")
      java.util.Arrays.copyOfRange(a, off.toInt, off.toInt + len)
    }
  }

  /** Driver-side page cache over positioned reads: IFD walking does
    * many tiny reads at arbitrary offsets; 256 KiB pages keep it to a
    * handful of store round-trips however the writer laid the file
    * out, without pulling pixel data.
    */
  private[operators] final class PagedSource(store: ZarrStore, val length: Long,
      pageSize: Int = 256 << 10) extends TiffSource {
    private val pages = scala.collection.mutable.HashMap.empty[Long, Array[Byte]]
    private def page(i: Long): Array[Byte] = pages.getOrElseUpdate(i, {
      val off = i * pageSize
      store.readRange("", off, math.min(pageSize.toLong, length - off).toInt)
    })
    def get(off: Long, len: Int): Array[Byte] = {
      require(off >= 0 && off + len <= length,
        s"TIFF read [$off, ${off + len}) beyond file length $length")
      val out = new Array[Byte](len)
      var copied = 0
      while (copied < len) {
        val pos = off + copied
        val p = page(pos / pageSize)
        val inPage = (pos % pageSize).toInt
        val n = math.min(len - copied, p.length - inPage)
        System.arraycopy(p, inPage, out, copied, n)
        copied += n
      }
      out
    }
  }

  private final class Reader(src: TiffSource, val le: Boolean) {
    private def order = if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN
    def u16(off: Long): Int =
      ByteBuffer.wrap(src.get(off, 2)).order(order).getShort(0) & 0xffff
    def u32(off: Long): Long =
      ByteBuffer.wrap(src.get(off, 4)).order(order).getInt(0) & 0xffffffffL
    def u64(off: Long): Long =
      ByteBuffer.wrap(src.get(off, 8)).order(order).getLong(0)
    def i16(off: Long): Short = ByteBuffer.wrap(src.get(off, 2)).order(order).getShort(0)
    def i32(off: Long): Int = ByteBuffer.wrap(src.get(off, 4)).order(order).getInt(0)
    def u8(off: Long): Int = src.get(off, 1)(0) & 0xff
  }

  /** Parse header + all IFDs from an in-memory TIFF. */
  def parseInfo(raw: Array[Byte]): TiffInfo = parseInfo(new ArraySource(raw))

  private[operators] def parseInfo(src: TiffSource): TiffInfo = {
    require(src.length >= 8, "not a TIFF: too short")
    val bom = src.get(0, 4)
    val le = bom(0) == 'I'.toByte && bom(1) == 'I'.toByte
    val be = bom(0) == 'M'.toByte && bom(1) == 'M'.toByte
    require(le || be, "not a TIFF: bad byte-order mark")
    val r = new Reader(src, le)
    val version = r.u16(2)
    require(version == 42 || version == 43, s"not a TIFF: version $version")
    val big = version == 43
    if (big) require(r.u16(4) == 8 && r.u16(6) == 0, "malformed BigTIFF header")

    val pages = Seq.newBuilder[TiffPage]
    var firstDescription: Option[String] = None
    var lsm: Option[LsmInfo] = None
    var ifdOff = if (big) r.u64(8) else r.u32(4)
    var guard = 0
    while (ifdOff != 0 && guard < 65536) {
      require(ifdOff + 8 <= src.length,
        s"IFD at $ifdOff beyond file length ${src.length}")
      val nEntries = if (big) r.u64(ifdOff).toInt else r.u16(ifdOff)
      val entrySize = if (big) 20 else 12
      val base = ifdOff + (if (big) 8 else 2)

      var width = 0; var height = 0; var spp = 1; var bits = 8; var fmt = 1
      var comp = 1; var pred = 1; var rps = Int.MaxValue; var planar = 1
      var tw = 0; var tl = 0
      var stripOff: Seq[Long] = Nil; var stripCnt: Seq[Long] = Nil
      var tileOff: Seq[Long] = Nil; var tileCnt: Seq[Long] = Nil
      var photometric = 1
      var jpegTables: Option[Array[Byte]] = None
      var colorMap: Option[Array[Int]] = None
      var nsft = 0L
      var pageDesc: Option[String] = None
      var oldJpegOff = -1L; var oldJpegLen = -1L
      var oldProc = 1; var oldRestart = 0
      var qOffs: Seq[Long] = Nil; var dcOffs: Seq[Long] = Nil
      var acOffs: Seq[Long] = Nil

      var e = 0
      while (e < nEntries) {
        val eo = base + e.toLong * entrySize
        val tag = r.u16(eo)
        val typ = r.u16(eo + 2)
        val count = if (big) r.u64(eo + 4) else r.u32(eo + 4)
        val valOff = eo + (if (big) 12 else 8)
        val typeSize = typ match {
          case 1 | 2 | 6 | 7 => 1 // BYTE/ASCII/SBYTE/UNDEFINED
          case 3 | 8 => 2         // SHORT/SSHORT
          case 4 | 9 | 11 => 4    // LONG/SLONG/FLOAT
          case 5 | 10 | 12 | 16 | 17 => 8 // RATIONAL/LONG8/DOUBLE
          case _ => 1
        }
        val inline = if (big) 8 else 4
        val dataOff: Long =
          if (count * typeSize <= inline) valOff
          else if (big) r.u64(valOff) else r.u32(valOff)
        def valueAt(i: Long): Long = typ match {
          case 3 => r.u16(dataOff + 2 * i)
          case 4 => r.u32(dataOff + 4 * i)
          case 16 => r.u64(dataOff + 8 * i)
          case 1 => r.u8(dataOff + i)
          case 8 => r.i16(dataOff + 2 * i).toLong
          case 9 => r.i32(dataOff + 4 * i).toLong
          case _ => throw new UnsupportedOperationException(
            s"TIFF tag $tag has unsupported field type $typ")
        }
        def values: Seq[Long] = (0L until count).map(valueAt)
        tag match {
          case 254 => nsft = valueAt(0)
          case 256 => width = valueAt(0).toInt
          case 257 => height = valueAt(0).toInt
          case 258 => bits = valueAt(0).toInt
            require(values.distinct.size == 1, "per-sample bit depths unsupported")
          case 259 => comp = valueAt(0).toInt
          case 262 => photometric = valueAt(0).toInt
          case 270 =>
            // ImageDescription — IFD 0's carries OME-XML / the Aperio
            // header; later pages' descriptions name SVS associated
            // images (label/macro). Drop the ASCII NUL terminator(s).
            pageDesc = Some(new String(src.get(dataOff, count.toInt),
              "UTF-8").takeWhile(_ != '\u0000'))
            if (guard == 0 && firstDescription.isEmpty)
              firstDescription = pageDesc
          case 273 => stripOff = values
          case 277 => spp = valueAt(0).toInt
          case 278 => rps = valueAt(0).toInt
          case 279 => stripCnt = values
          case 284 => planar = valueAt(0).toInt
          case 317 => pred = valueAt(0).toInt
          case 322 => tw = valueAt(0).toInt
          case 323 => tl = valueAt(0).toInt
          case 324 => tileOff = values
          case 325 => tileCnt = values
          case 339 => fmt = valueAt(0).toInt
          case 512 => oldProc = valueAt(0).toInt
          case 513 => oldJpegOff = valueAt(0)
          case 514 => oldJpegLen = valueAt(0)
          case 515 => oldRestart = valueAt(0).toInt
          case 519 => qOffs = values
          case 520 => dcOffs = values
          case 521 => acOffs = values
          case 320 => colorMap = Some(values.map(_.toInt).toArray)
          case 347 => jpegTables = Some(src.get(dataOff, count.toInt))
          case 34412 if guard == 0 =>
            lsm = Some(parseLsmInfo(src.get(dataOff, math.min(count, 88L).toInt)))
          case _ => () // resolution, description, etc. — not structural
        }
        e += 1
      }
      require(width > 0 && height > 0, s"TIFF page missing dimensions")
      var oldJpeg: Option[OldJpeg] = None
      if (comp == 6) {
        // Old-style JPEG (TIFF 6.0 §22), two surviving profiles:
        // (a) interchange — tags 513/514 point at ONE complete JPEG
        //     stream for the whole page; rewrite the page to a single
        //     full-height region over that stream (libtiff-compatible);
        // (b) per-strip tables-in-tags — no 513; tags 519/520/521 hold
        //     raw quantization + Huffman tables and every strip is
        //     entropy-coded scan data, re-headed into a complete
        //     stream at decode. Grayscale baseline only: the color
        //     variant's subsampling/positioning was never specified
        //     unambiguously (the reason §22 was deprecated) — refuse.
        if (oldJpegOff > 0 && oldJpegLen > 0) {
          require(oldJpegOff + oldJpegLen <= src.length,
            s"JPEGInterchangeFormat stream [$oldJpegOff, +$oldJpegLen) " +
              s"beyond file length ${src.length}")
          stripOff = Seq(oldJpegOff); stripCnt = Seq(oldJpegLen)
          rps = height; tw = 0; tl = 0; tileOff = Nil; tileCnt = Nil
        } else {
          require(qOffs.nonEmpty && dcOffs.nonEmpty && acOffs.nonEmpty,
            "old-style JPEG (compression 6) without a JPEGInterchangeFormat " +
              "stream or JPEGQTables/DCTables/ACTables unsupported — " +
              "rewrite with compression 7")
          require(spp == 1 && bits == 8,
            s"old-style per-strip JPEG supports 8-bit grayscale only " +
              s"(got $spp samples x $bits bits) — the color profile's " +
              "subsampling was never unambiguously specified")
          require(oldProc == 1,
            s"old-style JPEG process $oldProc unsupported (1 = baseline)")
          def huff(off: Long): Array[Byte] = {
            val counts = src.get(off, 16)
            src.get(off, 16 + counts.map(_ & 0xff).sum)
          }
          oldJpeg = Some(OldJpeg(src.get(qOffs.head, 64),
            huff(dcOffs.head), huff(acOffs.head), oldRestart))
        }
      }
      val tiled = tw > 0
      if (tiled) require(tl > 0 && tileOff.nonEmpty, "malformed tiled TIFF")
      else require(stripOff.nonEmpty, "TIFF page has neither strips nor tiles")
      val effRps = if (tiled) 0 else math.min(rps, height)
      val offs = if (tiled) tileOff else stripOff
      var cnts = if (tiled) tileCnt else stripCnt
      if (cnts.isEmpty && comp == 1 && !tiled) {
        // old writers omit StripByteCounts for uncompressed strips —
        // the counts are implied by the geometry
        val rowBytes = width.toLong * spp * (bits / 8)
        cnts = offs.indices.map { s =>
          math.min(effRps.toLong, height - s.toLong * effRps) * rowBytes
        }
      }
      require(cnts.length == offs.length,
        s"TIFF page has ${offs.length} ${if (tiled) "tiles" else "strips"} " +
          s"but ${cnts.length} byte counts")
      require(planar == 1 || planar == 2,
        s"TIFF PlanarConfiguration $planar invalid (1 chunky / 2 planar)")
      pages += TiffPage(width, height, spp, bits, fmt, comp, pred,
        effRps, tw, tl, offs, cnts, jpegTables, nsft, photometric, planar,
        oldJpeg, colorMap, pageDesc)
      ifdOff = if (big) r.u64(base + nEntries.toLong * entrySize)
        else r.u32(base + nEntries.toLong * entrySize)
      guard += 1
    }
    val ps = pages.result()
    require(ps.nonEmpty, "TIFF has no pages")
    TiffInfo(le, ps, firstDescription, lsm)
  }

  // ---- region codecs ----

  /** Decompress one strip/tile to exactly `expect` bytes. For the
    * old-style per-strip JPEG profile, `oldJpeg` carries the page's
    * tables and (regionW, regionH) the strip geometry the synthesized
    * frame header needs.
    */
  private[operators] def decodeRegion(comp: Int, data: Array[Byte], expect: Int,
      jpegTables: Option[Array[Byte]] = None,
      oldJpeg: Option[OldJpeg] = None, regionW: Int = 0,
      regionH: Int = 0, littleEndian: Boolean = true): Array[Byte] =
    comp match {
      case 1 =>
        require(data.length >= expect, s"short uncompressed region: ${data.length} < $expect")
        if (data.length == expect) data else java.util.Arrays.copyOf(data, expect)
      case 8 | 32946 => // Deflate (zlib)
        val inf = new java.util.zip.Inflater()
        inf.setInput(data)
        val out = new Array[Byte](expect)
        var got = 0
        while (got < expect && !inf.finished()) {
          val n = inf.inflate(out, got, expect - got)
          require(n > 0 || inf.finished(), "truncated deflate region")
          got += n
        }
        inf.end()
        require(got == expect, s"deflate region decoded $got of $expect")
        out
      case 32773 => unpackBits(data, expect)
      case 5 => lzwDecode(data, expect)
      case 7 => jpegDecodeRegion(data, jpegTables, expect) // new-style JPEG
      case 6 =>
        oldJpeg match {
          case None =>
            // parseInfo already collapsed the page to one region
            // holding the complete JPEGInterchangeFormat stream
            jpegDecodeRegion(data, None, expect)
          case Some(oj) =>
            // tables-in-tags: strips may be complete streams (SOI),
            // SOS-prefixed scans, or bare entropy data
            if (data.length >= 2 && (data(0) & 0xff) == 0xff &&
                (data(1) & 0xff) == 0xd8)
              jpegDecodeRegion(data, None, expect)
            else
              jpegDecodeRegion(
                synthOldJpegStream(data, oj, regionW, regionH), None, expect)
        }
      case 34712 | 33003 | 33005 =>
        // JPEG 2000 codestream per region (34712 = standard TIFF JP2;
        // 33003/33005 = the Aperio SVS pathology variants) via the
        // pure-JVM T.800 decoder — reversible profile, grayscale or
        // RGB (samples pixel-interleaved, matching chunky layout);
        // irreversible codestreams refuse inside the codec.
        // Strip an optional JP2 box wrapper down to the raw
        // codestream (starts with the SOC marker FF4F).
        val soc = {
          var i = 0
          while (i + 1 < data.length &&
            !((data(i) & 0xff) == 0xff && (data(i + 1) & 0xff) == 0x4f)) i += 1
          i
        }
        require(soc + 1 < data.length, "TIFF JPEG2000 region without SOC marker")
        val img = Jpeg2k.decode(
          if (soc == 0) data else java.util.Arrays.copyOfRange(data, soc, data.length))
        val bytesPer = if (img.precision <= 8) 1 else 2
        require(img.width * img.height * img.components * bytesPer == expect,
          s"JPEG2000 region is ${img.width}x${img.height}@${img.precision}" +
            s"x${img.components}, layout expects $expect bytes")
        val out = new Array[Byte](expect)
        var i = 0
        if (bytesPer == 1)
          while (i < img.samples.length) { out(i) = img.samples(i).toByte; i += 1 }
        else
          // emit in the CONTAINER's byte order — downstream decodes
          // samples with the file's endianness
          while (i < img.samples.length) {
            val v = img.samples(i)
            if (littleEndian) {
              out(2 * i) = (v & 0xff).toByte
              out(2 * i + 1) = ((v >> 8) & 0xff).toByte
            } else {
              out(2 * i) = ((v >> 8) & 0xff).toByte
              out(2 * i + 1) = (v & 0xff).toByte
            }
            i += 1
          }
        out
      case other => throw new UnsupportedOperationException(
        s"TIFF compression $other unsupported (none/deflate/packbits/lzw/jpeg/jp2)")
    }

  /** Re-head one tables-in-tags old-JPEG strip into a complete
    * baseline stream: SOI + DQT/DHT built from the raw tag tables +
    * optional DRI + a single-component SOF0/SOS for this strip's
    * geometry + the entropy data (+ EOI when absent). Strips already
    * starting at SOS keep their own scan header.
    */
  private[operators] def synthOldJpegStream(data: Array[Byte], oj: OldJpeg,
      w: Int, h: Int): Array[Byte] = {
    require(oj.qTable.length == 64, s"JPEGQTables entry is ${oj.qTable.length} bytes")
    val out = new java.io.ByteArrayOutputStream()
    def m(marker: Int, payload: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      val len = payload.length + 2
      out.write((len >> 8) & 0xff); out.write(len & 0xff)
      out.write(payload)
    }
    out.write(0xff); out.write(0xd8) // SOI
    m(0xdb, 0.toByte +: oj.qTable) // DQT: Pq=0 (8-bit), Tq=0
    m(0xc4, 0x00.toByte +: oj.dcTable) // DHT class 0 (DC), id 0
    m(0xc4, 0x10.toByte +: oj.acTable) // DHT class 1 (AC), id 0
    if (oj.restartInterval > 0)
      m(0xdd, Array(((oj.restartInterval >> 8) & 0xff).toByte,
        (oj.restartInterval & 0xff).toByte))
    m(0xc0, Array[Byte](8, // SOF0: precision, h, w, 1 component 1x1/Tq0
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      1, 1, 0x11, 0))
    val sosAlready = data.length >= 2 && (data(0) & 0xff) == 0xff &&
      (data(1) & 0xff) == 0xda
    if (!sosAlready)
      m(0xda, Array[Byte](1, 1, 0x00, 0, 63, 0)) // SOS: comp 1 → DC0/AC0
    out.write(data)
    val n = data.length
    if (n < 2 || (data(n - 2) & 0xff) != 0xff || (data(n - 1) & 0xff) != 0xd9) {
      out.write(0xff); out.write(0xd9)
    }
    out.toByteArray
  }

  /** New-style JPEG (compression 7) region decode via `javax.imageio`
    * (JDK-only). A region is either a complete JFIF stream, or an
    * abbreviated stream whose quantization/Huffman tables live in the
    * page-level JPEGTables tag (347): per TIFF-EP the tables blob is
    * SOI + table segments + EOI and each region starts with its own
    * SOI, so splicing `tables minus EOI` with `region minus SOI`
    * reconstitutes a complete stream.
    */
  private[operators] def jpegDecodeRegion(data: Array[Byte],
      tables: Option[Array[Byte]], expect: Int): Array[Byte] = {
    require(data.length >= 2, "empty JPEG region")
    val stream = tables match {
      case Some(t) if t.length > 4 =>
        require((t(0) & 0xff) == 0xff && (t(1) & 0xff) == 0xd8,
          "JPEGTables blob does not start with SOI")
        t.dropRight(2) ++ data.drop(2)
      case _ => data
    }
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(stream))
    require(img != null, "undecodable JPEG region")
    if (img.getColorModel.getComponentSize.max > 8)
      throw new UnsupportedOperationException(
        "JPEG region with >8-bit components unsupported")
    val raster = img.getRaster
    val nb = raster.getNumBands
    val n = img.getWidth * img.getHeight * nb
    require(n == expect,
      s"JPEG region decodes to $n samples, layout expects $expect " +
        s"(${img.getWidth}x${img.getHeight}x$nb)")
    val px = raster.getPixels(0, 0, img.getWidth, img.getHeight, new Array[Int](n))
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = px(i).toByte; i += 1 }
    out
  }

  /** PackBits RLE (TIFF 6.0 spec): n in [0,127] → copy n+1 literal
    * bytes; n in [-127,-1] → repeat next byte 1-n times; -128 no-op.
    */
  private[operators] def unpackBits(in: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = 0; var o = 0
    while (o < expect && i < in.length) {
      val n = in(i); i += 1
      if (n >= 0) {
        val len = n + 1
        System.arraycopy(in, i, out, o, len); i += len; o += len
      } else if (n != -128) {
        val len = 1 - n
        java.util.Arrays.fill(out, o, o + len, in(i)); i += 1; o += len
      }
    }
    require(o == expect, s"packbits produced $o of $expect")
    out
  }

  /** TIFF-variant LZW (MSB-first codes, 256=ClearCode, 257=EOI,
    * early-change code-width bump at table sizes 511/1023/2047).
    */
  private[operators] def lzwDecode(in: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var o = 0
    val Clear = 256; val Eoi = 257
    var dict = new Array[Array[Byte]](4096)
    var dictSize = 258
    var codeWidth = 9
    var bitBuf = 0L; var bitCnt = 0; var i = 0
    var prev: Array[Byte] = null
    def reset(): Unit = { dict = new Array[Array[Byte]](4096); dictSize = 258; codeWidth = 9; prev = null }
    def nextCode(): Int = {
      while (bitCnt < codeWidth && i < in.length) {
        bitBuf = (bitBuf << 8) | (in(i) & 0xffL); bitCnt += 8; i += 1
      }
      if (bitCnt < codeWidth) Eoi
      else {
        val c = ((bitBuf >>> (bitCnt - codeWidth)) & ((1 << codeWidth) - 1)).toInt
        bitCnt -= codeWidth
        c
      }
    }
    var code = nextCode()
    while (code != Eoi && o < expect) {
      if (code == Clear) {
        reset()
        // consecutive Clear codes are legal — keep resetting
        while ({ code = nextCode(); code == Clear }) ()
        if (code == Eoi) return finishLzw(out, o, expect)
        require(code < 256, s"LZW code $code directly after Clear must be a literal")
        out(o) = code.toByte; o += 1
        prev = Array(code.toByte)
      } else {
        val entry: Array[Byte] =
          if (code < 256) Array(code.toByte)
          else if (code >= 258 && code < dictSize && dict(code) != null) dict(code)
          else if (code == dictSize && prev != null) prev :+ prev(0) // KwKwK case
          else throw new java.io.IOException(s"bad LZW code $code (dict $dictSize)")
        System.arraycopy(entry, 0, out, o, math.min(entry.length, expect - o))
        o += math.min(entry.length, expect - o)
        if (prev != null && dictSize < 4096) {
          dict(dictSize) = prev :+ entry(0)
          dictSize += 1
        }
        // TIFF early change: the decoder's dict lags the encoder's
        // next code by one, so widen at 2^w − 2 (510/1022/2046) to
        // stay in step with an encoder that widens at 2^w − 1
        if (dictSize == 510 && codeWidth == 9) codeWidth = 10
        else if (dictSize == 1022 && codeWidth == 10) codeWidth = 11
        else if (dictSize == 2046 && codeWidth == 11) codeWidth = 12
        prev = entry
      }
      code = nextCode()
    }
    finishLzw(out, o, expect)
  }

  private def finishLzw(out: Array[Byte], got: Int, expect: Int): Array[Byte] = {
    require(got == expect, s"LZW produced $got of $expect bytes")
    out
  }

  /** Undo the horizontal-differencing predictor in place: each sample
    * is the delta from its left neighbor (per channel, per row).
    */
  private[operators] def undoPredictor(rows: Array[Byte], width: Int, height: Int,
      spp: Int, bytesPerSample: Int, le: Boolean): Unit = {
    if (bytesPerSample == 1) {
      val rowBytes = width * spp
      var y = 0
      while (y < height) {
        var x = spp
        val base = y * rowBytes
        while (x < rowBytes) {
          rows(base + x) = (rows(base + x) + rows(base + x - spp)).toByte
          x += 1
        }
        y += 1
      }
    } else if (bytesPerSample == 2) {
      val bb = ByteBuffer.wrap(rows).order(
        if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN).asShortBuffer()
      val rowSamples = width * spp
      var y = 0
      while (y < height) {
        var x = spp
        val base = y * rowSamples
        while (x < rowSamples) {
          bb.put(base + x, (bb.get(base + x) + bb.get(base + x - spp)).toShort)
          x += 1
        }
        y += 1
      }
    } else throw new UnsupportedOperationException(
      s"predictor 2 with $bytesPerSample-byte samples unsupported")
  }

  final case class TiffImage(meta: ImageMeta, chunks: Dataset[ChunkRow])

  /** An Aperio SVS associated image's name and pixel dims — metadata
    * only, pixels never decode (the openslide associated-images
    * contract: label/macro/thumbnail ride along with the slide but
    * are not pyramid levels).
    */
  final case class SvsAssociated(name: String, width: Int, height: Int)

  /** Enumerate an Aperio SVS file's associated images by walking its
    * IFDs (driver-side metadata; no pixel reads): page 1 is the
    * stripped thumbnail, and trailing pages whose Aperio description
    * names "label" or "macro" classify by that name; tiled pyramid
    * levels are not associated images. `read` is unaffected — it
    * ingests page 0 (the openslide level-0 rule).
    */
  def svsAssociated(spark: SparkSession, path: String): Seq[SvsAssociated] = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val totalLen = store.size("")
    val info =
      if (totalLen <= (16 << 20)) parseInfo(store.readBytes(""))
      else parseInfo(new PagedSource(store, totalLen))
    require(info.description.exists(_.startsWith("Aperio")),
      s"$path is not an Aperio SVS file")
    info.pages.zipWithIndex.drop(1).flatMap { case (p, i) =>
      val d = p.description.getOrElse("")
      if (d.contains("label")) Some(SvsAssociated("label", p.width, p.height))
      else if (d.contains("macro")) Some(SvsAssociated("macro", p.width, p.height))
      else if (i == 1) Some(SvsAssociated("thumbnail", p.width, p.height))
      else None
    }
  }

  /** Read a TIFF into a chunked image. Multi-page files of identical
    * shape stack as a leading z dimension; samplesPerPixel > 1 adds a
    * trailing c. Chunk grid == the file's own strip/tile grid, one
    * Spark task per region. Multi-Image (multi-series) OME-TIFF
    * documents read ONE series per call — `omeSeries` selects it,
    * and the series' `TiffData` mappings pick its IFDs.
    */
  def read(spark: SparkSession, path: String, omeSeries: Int = 0): TiffImage = {
    import spark.implicits._
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val totalLen = store.size("")
    // small files parse in memory; larger ones go through the paged
    // random-access source so trailing IFDs (libtiff writes them after
    // the pixel data) resolve without pulling the payload
    val info =
      if (totalLen <= (16 << 20)) parseInfo(store.readBytes(""))
      else parseInfo(new PagedSource(store, totalLen))
    val omeImages = info.description.filter(isOmeXml).map(parseOmeImages)
    require(omeSeries >= 0 &&
        (omeSeries == 0 || omeImages.exists(_.length > omeSeries)),
      s"series $omeSeries requested but the file has " +
        s"${omeImages.map(_.length).getOrElse(1)} series")
    // LSM interleaves a reduced-resolution thumbnail IFD after every
    // image IFD (NewSubfileType bit 0); only full-resolution pages
    // carry voxels. Aperio SVS pathology slides (ImageDescription
    // starts "Aperio") are heterogeneous by design — page 0 is the
    // baseline image and later pages hold the thumbnail, pyramid
    // levels, label and macro — so only page 0 reads (the openslide
    // level-0 rule). Multi-Image OME documents keep the selected
    // series' TiffData-mapped IFDs; other plain TIFFs keep every page.
    val isAperio = info.description.exists(_.startsWith("Aperio"))
    val keptPages = info.lsmInfo match {
      case Some(_) => info.pages.filter(p => (p.newSubfileType & 1L) == 0L)
      case None if isAperio => Seq(info.pages.head)
      case None => omeImages match {
        case Some(imgs) if imgs.length > 1 =>
          imgs(omeSeries)._2.map { i =>
            require(i >= 0 && i < info.pages.length,
              s"OME TiffData IFD $i out of range (${info.pages.length} IFDs)")
            info.pages(i)
          }
        case _ => info.pages
      }
    }
    require(keptPages.nonEmpty, "TIFF has no full-resolution pages")
    val p0 = keptPages.head
    require(keptPages.forall(p => p.width == p0.width && p.height == p0.height &&
      p.samplesPerPixel == p0.samplesPerPixel && p.bitsPerSample == p0.bitsPerSample &&
      p.sampleFormat == p0.sampleFormat && p.rowsPerStrip == p0.rowsPerStrip &&
      p.tileWidth == p0.tileWidth && p.tileLength == p0.tileLength &&
      p.planarConfig == p0.planarConfig),
      "multi-page TIFF with heterogeneous page shapes or strip/tile layouts unsupported")
    require(keptPages.forall(_.samplesPerPixel >= 1), "bad samplesPerPixel")

    val nPages = keptPages.length
    // palette-color (photometric 3): regions carry 8-bit indices; the
    // ColorMap's 16-bit RGB triples expand at decode, so the OUTPUT is
    // 3-sample uint16 while the stored regions stay single-sample
    val paletteMap: Array[Int] =
      if (p0.photometric == 3) {
        require(p0.samplesPerPixel == 1 &&
          (p0.bitsPerSample == 8 || p0.bitsPerSample == 4),
          "palette-color TIFF supports 8-bit or 4-bit single-sample indices " +
            s"(got ${p0.samplesPerPixel} x ${p0.bitsPerSample})")
        require(p0.predictor != 2,
          "palette-color TIFF with horizontal differencing unsupported")
        val cm = p0.colorMap.getOrElse(throw new IllegalArgumentException(
          "palette-color TIFF without a ColorMap tag"))
        require(cm.length == 3 * (1 << p0.bitsPerSample),
          s"ColorMap has ${cm.length} entries, expected ${3 * (1 << p0.bitsPerSample)}")
        keptPages.foreach(p => require(p.colorMap.exists(_.sameElements(cm)),
          "multi-page palette TIFF with differing ColorMaps unsupported"))
        cm
      } else null
    // 4-bit palette indices pack two per byte (high nibble first),
    // rows byte-aligned — unpacked to one index per byte at decode
    val pack4 = paletteMap != null && p0.bitsPerSample == 4
    val paletteN = if (paletteMap != null) paletteMap.length / 3 else 0
    val dtype =
      if (paletteMap != null) "uint16"
      else dtypeFor(p0.bitsPerSample, p0.sampleFormat)
    val spp = if (paletteMap != null) 3 else p0.samplesPerPixel
    val tiled = p0.tileWidth > 0
    // planar (PlanarConfiguration 2): each strip/tile run carries ONE
    // channel, channel-major — spp regions-per-channel runs per page.
    // Regions then map 1:1 onto (y, x, c=channel) chunks of c-depth 1,
    // which is WHY planar needs no special decode: the per-region
    // stride is that of a single-sample image.
    val planar = p0.planarConfig == 2 && spp > 1
    if (planar) keptPages.foreach { p =>
      require(p.offsets.length % spp == 0,
        s"planar TIFF page has ${p.offsets.length} regions, not a multiple of $spp channels")
    }

    // OME-TIFF: the OME-XML in ImageDescription names the plane axes
    // (DimensionOrder, SizeZ/C/T) and physical spacing — without it a
    // t/c/z-interleaved stack would silently read as pages→z with
    // wrong dims and scale
    val omeOpt = omeImages.map(_(omeSeries)._1)
    omeOpt.foreach { ome =>
      require(ome.sizeX == p0.width && ome.sizeY == p0.height,
        s"OME-XML SizeX/Y ${ome.sizeX}x${ome.sizeY} != TIFF page ${p0.width}x${p0.height}")
      ome.omeType.foreach { t =>
        val mapped = OmeTypeToDtype.getOrElse(t,
          throw new UnsupportedOperationException(s"OME pixel Type '$t' unsupported"))
        require(mapped == dtype,
          s"OME pixel Type '$t' ($mapped) != TIFF sample type $dtype")
      }
    }
    // plane dims as (name, size, pageStride), slowest-varying first —
    // a page's coordinate on dim i is (page / stride_i) % size_i. Bare
    // multipage keeps the historical pages→z mapping.
    // LSM: CZ_LSMINFO names the stack layout (pages run z fastest,
    // then time) and the voxel sizes. Channels ride samplesPerPixel
    // in either configuration — interleaved (chunky) or per-channel
    // strip runs (planar, the common Zeiss multichannel layout).
    info.lsmInfo.foreach { l =>
      require(l.dimX == p0.width && l.dimY == p0.height,
        s"CZ_LSMINFO ${l.dimX}x${l.dimY} != TIFF page ${p0.width}x${p0.height}")
      require(l.channels <= 1 || l.channels == spp,
        s"LSM declares ${l.channels} channels but pages carry $spp samples")
      require(l.dimZ.toLong * math.max(l.time, 1) == nPages,
        s"CZ_LSMINFO declares ${l.dimZ}x${math.max(l.time, 1)} planes " +
          s"but the TIFF has $nPages full-resolution pages")
    }
    val planeDims: Seq[(String, Int, Int)] = (omeOpt, info.lsmInfo) match {
      case (_, Some(l)) =>
        val fastestFirst = Seq(("z", l.dimZ), ("t", math.max(l.time, 1)))
        val strides = fastestFirst.map(_._2).scanLeft(1)(_ * _).init
        fastestFirst.zip(strides).collect {
          case ((name, size), stride) if size > 1 => (name, size, stride)
        }.reverse
      case (Some(ome), None) =>
        val effC =
          if (spp > 1) {
            // interleaved samples carry the channels (RGB): SizeC must
            // be the sample count and no channel planes exist
            require(ome.sizeC == spp,
              s"OME SizeC ${ome.sizeC} != samplesPerPixel $spp with interleaved samples")
            1
          } else ome.sizeC
        // DimensionOrder lists XY then the plane axes fastest-first
        val fastestFirst = ome.dimensionOrder.drop(2).map {
          case 'Z' => ("z", ome.sizeZ)
          case 'C' => ("c", effC)
          case 'T' => ("t", ome.sizeT)
        }
        require(fastestFirst.map(_._2.toLong).product == nPages,
          s"OME-XML declares ${fastestFirst.map(_._2.toLong).product} planes " +
            s"but the TIFF has $nPages pages")
        val strides = fastestFirst.map(_._2).scanLeft(1)(_ * _).init
        // singleton dims drop out (tifffile's squeezed axes view)
        fastestFirst.zip(strides).collect {
          case ((name, size), stride) if size > 1 => (name, size, stride)
        }.reverse
      case (None, None) =>
        if (nPages > 1) Seq(("z", nPages, 1)) else Nil
    }
    val omeScale = info.lsmInfo match {
      case Some(l) =>
        // raw CZ_LSMINFO voxel sizes (meters) — the LSMImageIO rule
        Map("x" -> l.voxelX, "y" -> l.voxelY, "z" -> l.voxelZ)
          .filter(_._2 > 0.0)
      case None if isAperio =>
        // Aperio's pipe-delimited description carries MPP (microns
        // per pixel), the slide's level-0 resolution
        info.description
          .flatMap(d => "\\|MPP\\s*=\\s*([0-9.]+)".r.findFirstMatchIn(d))
          .map(m => m.group(1).toDouble)
          .map(mpp => Map("x" -> mpp, "y" -> mpp))
          .getOrElse(Map.empty)
      case None => omeOpt.map(_.physicalScale).getOrElse(Map.empty)
    }

    val dims = planeDims.map(_._1) ++ Seq("y", "x") ++
      (if (spp > 1) Seq("c") else Nil)
    val shape = planeDims.map(_._2.toLong) ++
      Seq(p0.height.toLong, p0.width.toLong) ++ (if (spp > 1) Seq(spp.toLong) else Nil)
    val (chunkY, chunkX) =
      if (tiled) (p0.tileLength, p0.tileWidth) else (p0.rowsPerStrip, p0.width)
    val chunks = planeDims.map(_ => 1) ++ Seq(chunkY, chunkX) ++
      (if (spp > 1) Seq(if (planar) 1 else spp) else Nil)
    val srcDtype =
      if (paletteMap != null) "uint8"
      else dtype
    val meta = ImageMeta(dims, shape, chunks, dtype,
      dims.map(d => d -> omeScale.getOrElse(d, 1.0)).toMap,
      dims.map(_ -> 0.0).toMap)

    // work list: one row per (page, region index)
    val work = for {
      z <- 0 until nPages
      p = keptPages(z)
      r <- p.offsets.indices
    } yield (z, r)
    val le = info.littleEndian
    val pages = keptPages.toArray
    val bytesPerSample = p0.bitsPerSample / 8
    val tilesAcross = if (tiled) (p0.width + p0.tileWidth - 1) / p0.tileWidth else 1
    // (size, stride) pairs for the executor closure — small and
    // serializable; maps a page number to its plane-dim coordinates
    val planeDimSS = planeDims.map { case (_, size, stride) => (size, stride) }

    val rows = spark.createDataset(work)
      .repartition(math.min(work.length, spark.sparkContext.defaultParallelism))
      .map { case (z, ri) =>
        val st = new ZarrStore(path, hconf)
        val p = pages(z)
        // planar: regions run channel-major — peel the channel off
        // and treat the region as single-sample from here on
        val (chan, rr) =
          if (planar) {
            val rpc = p.offsets.length / p.samplesPerPixel
            (ri / rpc, ri % rpc)
          } else (0, ri)
        val sppEff = if (planar) 1 else p.samplesPerPixel
        val raw = st.readRange("", p.offsets(ri), p.byteCounts(ri).toInt)
        // region pixel extent
        val (oy, ox, rh0, rw0) =
          if (p.tileWidth > 0) {
            val ty = rr / tilesAcross; val tx = rr % tilesAcross
            (ty * p.tileLength, tx * p.tileWidth, p.tileLength, p.tileWidth)
          } else {
            val y0 = rr * p.rowsPerStrip
            (y0, 0, math.min(p.rowsPerStrip, p.height - y0), p.width)
          }
        // tiles are stored padded to full tile size; strips are exact
        val storedH = if (p.tileWidth > 0) p.tileLength else rh0
        val storedW = rw0
        val expect =
          if (pack4) storedH * ((storedW + 1) / 2)
          else storedH * storedW * sppEff * bytesPerSample
        val decoded0 = decodeRegion(p.compression, raw, expect, p.jpegTables,
          p.oldJpeg, storedW, storedH, le)
        val decoded =
          if (pack4) {
            // two 4-bit indices per byte, high nibble first, rows
            // byte-aligned (TIFF FillOrder 1)
            val rowBytes = (storedW + 1) / 2
            val out = new Array[Byte](storedH * storedW)
            var y = 0
            while (y < storedH) {
              var x = 0
              while (x < storedW) {
                val b = decoded0(y * rowBytes + (x >> 1)) & 0xff
                out(y * storedW + x) =
                  (if ((x & 1) == 0) b >> 4 else b & 0x0f).toByte
                x += 1
              }
              y += 1
            }
            out
          } else decoded0
        if (p.predictor == 2)
          undoPredictor(decoded, storedW, storedH, sppEff, bytesPerSample, le)
        // big-endian samples normalize to the engine's layout on decode
        val decodedVals = ZarrStore.decodeToDoubles(decoded, srcDtype, bigEndian = !le)
        // palette indices expand to interleaved 16-bit RGB triples
        val (allVals, sppPix) =
          if (paletteMap != null) {
            val out = new Array[Double](decodedVals.length * 3)
            var i = 0
            while (i < decodedVals.length) {
              val ix = decodedVals(i).toInt
              out(3 * i) = paletteMap(ix)
              out(3 * i + 1) = paletteMap(paletteN + ix)
              out(3 * i + 2) = paletteMap(2 * paletteN + ix)
              i += 1
            }
            (out, 3)
          } else (decodedVals, sppEff)
        // crop tile padding at the right/bottom edges
        val rh = math.min(storedH, p.height - oy)
        val rw = math.min(storedW, p.width - ox)
        val vals =
          if (rh == storedH && rw == storedW) allVals
          else ChunkOps.sliceBlock(allVals,
            Array(storedH, storedW * sppPix), Array(0, 0),
            Array(rh, rw * sppPix))
        val planePart = planeDimSS.map { case (size, stride) => (z / stride) % size }
        val hasC = paletteMap != null || p.samplesPerPixel > 1
        val cPartI = if (hasC) Seq(chan) else Nil
        val idx = planePart ++ Seq(oy / chunkY, ox / chunkX) ++ cPartI
        val origin = planePart.map(_.toLong) ++ Seq(oy.toLong, ox.toLong) ++ cPartI.map(_.toLong)
        val shp = planePart.map(_ => 1) ++ Seq(rh, rw) ++
          (if (hasC) Seq(sppPix) else Nil)
        ChunkRow(idx, origin, shp, ZarrStore.encodeFromDoubles(vals, dtype))
      }
    TiffImage(meta, rows)
  }

  /** Minimal classic little-endian TIFF writer — uint8 grayscale
    * pages, one strip per page, optional ImageDescription on IFD 0.
    * This is the deterministic OME-TIFF input builder for the i66
    * gate (the committed spec fixture comes from the independent
    * python writer in `tools/make_tiff_fixture.py`).
    */
  private[graft] def encodeGray8(width: Int, height: Int,
      planes: Seq[Array[Byte]], description: Option[String] = None): Array[Byte] = {
    require(planes.nonEmpty && planes.forall(_.length == width * height),
      "every plane must be width*height uint8 bytes")
    val n = planes.length
    val pageBytes = width * height
    // ASCII payload: content + NUL (that length is the tag count),
    // padded to even for the next structure's word alignment
    val descRaw = description.map(d => d.getBytes("UTF-8") :+ 0.toByte)
    val descPadded = descRaw.map(b => if (b.length % 2 == 1) b :+ 0.toByte else b)
    descRaw.foreach(b => require(b.length > 4, "inline ImageDescription unsupported"))
    val pixelStart = 8L
    val descOff = pixelStart + n.toLong * pageBytes
    val ifdStart = descOff + descPadded.map(_.length).getOrElse(0)
    def entriesFor(i: Int): Int = 10 + (if (i == 0 && descRaw.nonEmpty) 1 else 0)
    val ifdOffs = (0 until n).map(i => 2 + 12 * entriesFor(i) + 4)
      .scanLeft(ifdStart)(_ + _)
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xff); bos.write((v >>> 8) & 0xff) }
    def w32(v: Long): Unit = {
      var i = 0
      while (i < 4) { bos.write(((v >>> (8 * i)) & 0xffL).toInt); i += 1 }
    }
    bos.write('I'.toInt); bos.write('I'.toInt); w16(42); w32(ifdOffs(0))
    planes.foreach(bos.write)
    descPadded.foreach(bos.write)
    for (i <- 0 until n) {
      def entry(tag: Int, typ: Int, count: Long, value: Long): Unit = {
        w16(tag); w16(typ); w32(count); w32(value)
      }
      w16(entriesFor(i))
      entry(256, 4, 1, width)       // ImageWidth
      entry(257, 4, 1, height)      // ImageLength
      entry(258, 3, 1, 8)           // BitsPerSample
      entry(259, 3, 1, 1)           // Compression: none
      entry(262, 3, 1, 1)           // Photometric: BlackIsZero
      if (i == 0) descRaw.foreach(b => entry(270, 2, b.length, descOff))
      entry(273, 4, 1, pixelStart + i.toLong * pageBytes) // StripOffsets
      entry(277, 3, 1, 1)           // SamplesPerPixel
      entry(278, 4, 1, height)      // RowsPerStrip
      entry(279, 4, 1, pageBytes)   // StripByteCounts
      entry(339, 3, 1, 1)           // SampleFormat: unsigned
      w32(if (i == n - 1) 0L else ifdOffs(i + 1))
    }
    bos.toByteArray
  }
}
