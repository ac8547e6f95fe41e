package graft.operators

import graft.SparkSpec
import DicomIOSpec._

/** Constrained DICOM reader (DicomIO.scala) against committed
  * fixtures from `tools/make_dicom_fixture.py` — an INDEPENDENT
  * Python construction of the Part 10 layout, covering the explicit
  * LE series path (shuffled InstanceNumbers), implicit VR with a
  * nested undefined-length sequence + rescale, the retired explicit
  * BE syntax, RLE Lossless (fixture encoded by an independent Python
  * PS3.5 Annex G implementation), JPEG baseline (bounded-error, the
  * codec is lossy), and refusal of still-unsupported syntaxes.
  * Round-trips through the JVM encoders close the loop.
  */
class DicomIOSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures/dicom"
  private val NX = 6; private val NY = 5

  private def v(x: Int, y: Int, z: Int) = (3 * x + 7 * y + 11 * z) % 126

  /** C-order expectation over dims (x,y,z). */
  private def expected(nz: Int, f: Double => Double = identity): Seq[Double] =
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until nz)
      yield f(v(x, y, z).toDouble)

  test("explicit-LE series: shuffled InstanceNumbers sort into z, spacing mapped") {
    val img = DicomIO.readSeriesDir(spark, s"$fx/series")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(NX.toLong, NY, 4L))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.0))
    assert(img.meta.translation("z") == 0.0) // slice with InstanceNumber 1
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(4))
  }

  test("implicit VR multi-frame: undefined-length SQ skipped, rescale to float32") {
    val img = DicomIO.read(spark, s"$fx/mf.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 3L))
    assert(img.meta.dtype == "float32")
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq
      == expected(3, raw => (raw * 2.0 + 10.0).toFloat.toDouble))
  }

  test("explicit big-endian slice decodes identically") {
    val img = DicomIO.read(spark, s"$fx/be.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(1))
  }

  private def messageChain(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messageChain(x.getCause))

  test("unsupported transfer syntax (MPEG2 video) refuses loudly") {
    // the header pass is distributed, so the precise refusal arrives
    // wrapped in the task failure — the message must survive verbatim
    val e = intercept[Exception](DicomIO.read(spark, s"$fx/mpeg.dcm"))
    assert(messageChain(e).exists(_.contains("1.2.840.10008.1.2.4.100")))
  }

  test("JPEG 2000 Lossless fixture (independent Python T.800 encoder) decodes exactly") {
    val img = DicomIO.read(spark, s"$fx/j2k.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    // signed 16-bit component: z=0 pattern minus 55 spans [-55, 70]
    val want = for (x <- 0 until NX; y <- 0 until NY)
      yield (v(x, y, 0) - 55).toDouble
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == want)
  }

  test("lossy JPEG 2000 (.4.91, irreversible 9/7) decodes to the pinned reconstruction") {
    val img = DicomIO.read(spark, s"$fx/j2klossy.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/j2klossy_recon.raw"))
    val recon = raw.grouped(2)
      .map(p => (((p(0) & 0xff) << 8) | (p(1) & 0xff)).toShort.toInt).toSeq
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until NY; x <- 0 until NX)
      assert(got(x * NY + y) == recon(y * NX + x).toDouble, s"($x,$y)")
    // lossy bound vs the ORIGINAL pixels: expounded e0=15 on a 16-bit
    // signed component is a ~2-step quantizer over a [-55, 70] ramp
    for (y <- 0 until NY; x <- 0 until NX)
      assert(math.abs(got(x * NY + y) - (v(x, y, 0) - 55)) <= 8, s"orig ($x,$y)")
  }

  test("JPEG 2000 color (YBR_RCT) decodes exactly through the c-dim path") {
    val img = DicomIO.read(spark, s"$fx/j2krgb.dcm")
    assert(img.meta.dims == Seq("x", "y", "z", "c"))
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L, 3L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (x <- 0 until NX; y <- 0 until NY; c <- 0 until 3)
      assert(got((x * NY + y) * 3 + c) == ((3 * x + 7 * y + 41 * c) % 256).toDouble,
        s"($x,$y,$c)")
  }

  test("RLE Lossless fixture (independent Python Annex G encoder) decodes exactly") {
    val img = DicomIO.read(spark, s"$fx/rle.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(1))
  }

  test("JPEG-LS fixture (independent Python T.87 encoder) decodes exactly, negatives intact") {
    val img = DicomIO.read(spark, s"$fx/jls.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    // jls.dcm carries the z=2 pattern shifted down by 60: values span
    // [-60, 65], so a dropped two's-complement reinterpretation fails
    val want = for (x <- 0 until NX; y <- 0 until NY)
      yield (v(x, y, 2) - 60).toDouble
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == want)
  }

  test("JPEG-LS series mixes with explicit-LE; JVM T.87 encoder round-trips") {
    val dir = tempDir("dcm_jls")
    for (z <- 0 until 3) {
      val px = Array.tabulate[Short](NY * NX) { p =>
        (v(p % NX, p / NX, z) - 30).toShort // negatives again
      }
      val bytes =
        if (z % 2 == 0) DicomIO.encodeSliceJpegLsInt16(NY, NX, z + 1, z * 2.0,
          (1.0, 1.0), 2.0, px)
        else DicomIO.encodeSliceInt16(NY, NX, z + 1, z * 2.0, (1.0, 1.0), 2.0, px)
      java.nio.file.Files.write(dir.resolve(s"s$z.dcm"), bytes)
    }
    val img = DicomIO.readSeriesDir(spark, dir.toString)
    assert(img.meta.shape == Seq(NX.toLong, NY, 3L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(3, _ - 30.0))
  }

  test("JPEG Lossless fixture (independent Python T.81 p14 encoder) decodes exactly") {
    val img = DicomIO.read(spark, s"$fx/jlo.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    val want = for (x <- 0 until NX; y <- 0 until NY)
      yield (v(x, y, 1) - 45).toDouble
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == want)
  }

  test("four lossless syntaxes mix in one series, bit-identical") {
    val dir = tempDir("dcm_mix4")
    val enc = Seq[(Int, Int, Array[Short]) => Array[Byte]](
      (z, inst, px) => DicomIO.encodeSliceInt16(NY, NX, inst, z * 2.0, (1.0, 1.0), 2.0, px),
      (z, inst, px) => DicomIO.encodeSliceRleInt16(NY, NX, inst, z * 2.0, (1.0, 1.0), 2.0, px),
      (z, inst, px) => DicomIO.encodeSliceJpegLsInt16(NY, NX, inst, z * 2.0, (1.0, 1.0), 2.0, px),
      (z, inst, px) => DicomIO.encodeSliceJpegLosslessInt16(NY, NX, inst, z * 2.0, (1.0, 1.0), 2.0, px))
    for (z <- 0 until 4) {
      val px = Array.tabulate[Short](NY * NX)(p => (v(p % NX, p / NX, z) - 50).toShort)
      java.nio.file.Files.write(dir.resolve(s"s$z.dcm"), enc(z)(z, z + 1, px))
    }
    val img = DicomIO.readSeriesDir(spark, dir.toString)
    assert(img.meta.shape == Seq(NX.toLong, NY, 4L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(4, _ - 50.0))
  }

  test("12-bit extended JPEG (.4.51) decodes to the encoder's exact reconstruction") {
    val img = DicomIO.read(spark, s"$fx/jext.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "uint16")
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/jext_recon.raw"))
    val recon = raw.grouped(2).map(p => ((p(0) & 0xff) << 8) | (p(1) & 0xff)).toSeq
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until NY; x <- 0 until NX)
      assert(got(x * NY + y) == recon(y * NX + x).toDouble, s"($x,$y)")
    // and the lossy bound vs the ORIGINAL pixels: uniform-ish content,
    // DC-dominated — error within a couple of quantization steps
    for (y <- 0 until NY; x <- 0 until NX) {
      val orig = ((v(x, y, 3) + 10) * 30).toDouble
      assert(math.abs(got(x * NY + y) - orig) <= 40, s"orig ($x,$y)")
    }
  }

  test("Deflated Explicit VR LE (.1.99) inflates and decodes, negatives intact") {
    val img = DicomIO.read(spark, s"$fx/defl.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(img.meta.dtype == "int16")
    val want = for (x <- 0 until NX; y <- 0 until NY)
      yield (v(x, y, 2) - 20).toDouble
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == want)
  }

  test("one frame split across 3 fragments concatenates and decodes") {
    val img = DicomIO.read(spark, s"$fx/jls_frag1.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(1))
  }

  test("two frames of 2 fragments each delimit via the Basic Offset Table") {
    val img = DicomIO.read(spark, s"$fx/jls_frag2.dcm")
    assert(img.meta.shape == Seq(NX.toLong, NY, 2L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(2))
  }

  private def rgbv(x: Int, y: Int, c: Int): Double = (3 * x + 7 * y + 41 * c) % 256

  private def assertRgb(img: DicomIO.DicomImage): Unit = {
    assert(img.meta.dims == Seq("x", "y", "z", "c"))
    assert(img.meta.shape == Seq(NX.toLong, NY, 1L, 3L))
    assert(img.meta.dtype == "uint8")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (x <- 0 until NX; y <- 0 until NY; c <- 0 until 3)
      assert(got(((x * NY + y) * 1 + 0) * 3 + c) == rgbv(x, y, c), s"($x,$y,$c)")
  }

  test("RGB color: interleaved, planar, and RLE color planes all decode") {
    assertRgb(DicomIO.read(spark, s"$fx/rgb.dcm"))
    assertRgb(DicomIO.read(spark, s"$fx/rgbp.dcm"))
    assertRgb(DicomIO.read(spark, s"$fx/rgbrle.dcm"))
  }

  test("JVM RGB encoder round-trips both planar configurations") {
    val dir = tempDir("dcm_rgb")
    val px = Array.tabulate[Byte](NY * NX * 3) { i =>
      val c = i % 3; val p = i / 3
      rgbv(p % NX, p / NX, c).toByte
    }
    for ((planar, name) <- Seq((0, "i.dcm"), (1, "p.dcm"))) {
      java.nio.file.Files.write(dir.resolve(name),
        encodeSliceRgb8(NY, NX, 1, 0.0, (1.0, 1.0), 1.0, px, planar))
      assertRgb(DicomIO.read(spark, dir.resolve(name).toString))
    }
  }

  test("JPEG-baseline color (YBR) decodes within quantization error on uniform blocks") {
    // four uniform 8x8 color blocks (MCU-aligned at 4:2:0 -> 16x16
    // luma MCUs; use 16-aligned regions so chroma subsampling is
    // exact on uniform areas)
    val rows = 32; val cols = 32
    def blockRgb(x: Int, y: Int, c: Int): Int =
      Seq(Seq(200, 60, 60), Seq(60, 200, 60), Seq(60, 60, 200),
        Seq(180, 180, 40))((y / 16) * 2 + (x / 16))(c)
    val px = Array.tabulate[Byte](rows * cols * 3) { i =>
      val c = i % 3; val p = i / 3
      blockRgb(p % cols, p / cols, c).toByte
    }
    val f = tempFile("dcm_jpegrgb", ".dcm")
    java.nio.file.Files.write(f,
      encodeSliceJpegRgb(rows, cols, 1, 0.0, (1.0, 1.0), 1.0, px))
    val img = DicomIO.read(spark, f.toString)
    assert(img.meta.dims == Seq("x", "y", "z", "c"))
    assert(img.meta.shape == Seq(cols.toLong, rows.toLong, 1L, 3L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 2 until rows - 2; x <- 2 until cols - 2
         if (x % 16) > 1 && (x % 16) < 14 && (y % 16) > 1 && (y % 16) < 14;
         c <- 0 until 3) {
      val want = blockRgb(x, y, c)
      val g = got((x * rows + y) * 3 + c)
      assert(math.abs(g - want) <= 6, s"($x,$y,$c): $g vs $want")
    }
  }

  test("JPEG-baseline fixture without PixelData refuses on the element, not the syntax") {
    val e = intercept[Exception](DicomIO.read(spark, s"$fx/jpeg.dcm"))
    assert(messageChain(e).exists(_.contains("without PixelData")))
  }

  test("RLE series mixes with explicit-LE slices; JVM RLE encoder round-trips") {
    val dir = tempDir("dcm_rle")
    for (z <- 0 until 3) {
      val px = Array.tabulate[Short](NY * NX) { p =>
        v(p % NX, p / NX, z).toShort
      }
      // alternate syntaxes within one series: values must be identical
      val bytes =
        if (z % 2 == 0) DicomIO.encodeSliceRleInt16(NY, NX, z + 1, z * 2.0,
          (1.0, 1.0), 2.0, px)
        else DicomIO.encodeSliceInt16(NY, NX, z + 1, z * 2.0, (1.0, 1.0), 2.0, px)
      java.nio.file.Files.write(dir.resolve(s"s$z.dcm"), bytes)
    }
    val img = DicomIO.readSeriesDir(spark, dir.toString)
    assert(img.meta.shape == Seq(NX.toLong, NY, 3L))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(3))
  }

  test("RLE long-run and 16-bit plane split survive: a worst-case raster") {
    // 128+ runs exercise the PackBits replicate cap; the v<<5 values
    // make MSB and LSB planes disagree so a swapped segment order fails
    val px = Array.tabulate[Short](NY * NX) { p =>
      if (p < 12) 0x1234.toShort else ((p % 3) << 5).toShort
    }
    val bytes = DicomIO.encodeSliceRleInt16(NY, NX, 1, 0.0, (1.0, 1.0), 1.0, px)
    val p = tempFile("rle", ".dcm")
    java.nio.file.Files.write(p, bytes)
    val img = DicomIO.read(spark, p.toString)
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until NY; x <- 0 until NX)
      assert(got(x * NY + y) == px(y * NX + x).toDouble, s"($x,$y)")
  }

  test("JPEG-baseline slice decodes within DC-quantization error on uniform blocks") {
    // four uniform 8x8 blocks, like the m53 multimodal JPEG surface:
    // aligned to the MCU grid, decode error is bounded by DC rounding
    val rows = 16; val cols = 16
    val px = Array.tabulate[Byte](rows * cols) { p =>
      val b = (p / (cols * 8)) * 2 + ((p % cols) / 8)
      (40 + b * 50).toByte
    }
    val bytes = encodeSliceJpegBaseline(rows, cols, 1, 0.0, (1.0, 1.0), 1.0, px)
    val f = tempFile("jb", ".dcm")
    java.nio.file.Files.write(f, bytes)
    val img = DicomIO.read(spark, f.toString)
    assert(img.meta.dtype == "uint8")
    assert(img.meta.shape == Seq(cols.toLong, rows.toLong, 1L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until rows; x <- 0 until cols) {
      val want = px(y * cols + x) & 0xff
      val g = got(x * rows + y)
      assert(math.abs(g - want) <= 3.0, s"($x,$y): $g vs $want")
    }
  }

  test("JVM encoder round-trips through the reader (series of 3)") {
    val dir = tempDir("dcm")
    for (z <- 0 until 3) {
      val px = Array.tabulate[Short](NY * NX)(i => v(i % NX, i / NX, z).toShort)
      java.nio.file.Files.write(dir.resolve(s"z$z.dcm"),
        DicomIO.encodeSliceInt16(NY, NX, instanceNumber = z + 1, ippZ = z * 2.0,
          pixelSpacingRowCol = (0.7, 0.4), sliceThickness = 2.0, pixels = px))
    }
    val img = DicomIO.readSeriesDir(spark, dir.toString)
    assert(img.meta.scale == Map("x" -> 0.4, "y" -> 0.7, "z" -> 2.0))
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq == expected(3))
  }

  test("series z spacing: uniform IPP deltas beat the thickness tags (ITK rule)") {
    val dir = tempDir("dcm_ipp")
    for (z <- 0 until 3) {
      val px = Array.tabulate[Short](NY * NX)(p => v(p % NX, p / NX, z).toShort)
      // SliceThickness says 2.0, but the slices actually sit 2.5 apart
      java.nio.file.Files.write(dir.resolve(s"s$z.dcm"),
        DicomIO.encodeSliceInt16(NY, NX, z + 1, z * 2.5, (1.0, 1.0), 2.0, px))
    }
    val img = DicomIO.readSeriesDir(spark, dir.toString)
    assert(img.meta.scale("z") == 2.5)
    // non-uniform IPP deltas fall back to the tags
    val dir2 = tempDir("dcm_ipp2")
    for ((zp, i) <- Seq(0.0, 2.5, 6.0).zipWithIndex) {
      val px = Array.tabulate[Short](NY * NX)(p => v(p % NX, p / NX, i).toShort)
      java.nio.file.Files.write(dir2.resolve(s"s$i.dcm"),
        DicomIO.encodeSliceInt16(NY, NX, i + 1, zp, (1.0, 1.0), 2.0, px))
    }
    assert(DicomIO.readSeriesDir(spark, dir2.toString).meta.scale("z") == 2.0)
  }

  test("mixed-syntax ingest rehearsal self-checks at spec size") {
    // the bench twin runs 256x256x256; the machinery (distributed
    // 6-codec write, shuffled-order series read, closed-form
    // checksum) is identical here and throws on any drift
    val sec = DicomRehearsal.run(spark, nSlices = 12, side = 32)
    assert(sec > 0.0)
  }

  test("not-DICOM payloads refuse with the magic error") {
    assert(intercept[IllegalArgumentException](
      DicomIO.parse(new Array[Byte](200))).getMessage.contains("DICM"))
  }
}

/** Fixture encoders for the color and lossy-JPEG cases: Part 10
  * slices built from [[DicomIO]]'s shared writer helpers.
  */
object DicomIOSpec {
  import DicomIO._

  /** One Explicit-VR-LE Part 10 slice with uint8 RGB pixels —
    * interleaved (planar 0) or channel-planar (planar 1). `pixels` is
    * always given interleaved [r,g,b, r,g,b, ...] y-major.
    */
  def encodeSliceRgb8(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Byte], planar: Int = 0): Array[Byte] = {
    require(pixels.length == rows * cols * 3, "pixels != rows*cols*3")
    val body =
      if (planar == 0) pixels
      else {
        val n = rows * cols
        val out = new Array[Byte](pixels.length)
        var c = 0
        while (c < 3) {
          var i = 0
          while (i < n) { out(c * n + i) = pixels(i * 3 + c); i += 1 }
          c += 1
        }
        out
      }
    val padded = if (body.length % 2 == 1) body :+ 0.toByte else body
    val pd = le16(0x7fe0) ++ le16(0x0010) ++ "OB".getBytes("US-ASCII") ++
      Array[Byte](0, 0) ++ le32(padded.length.toLong) ++ padded
    buildSlice(ExplicitLE, bits = 8, signed = false, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness, pd,
      samples = 3, photometric = "RGB", planar = planar)
  }

  /** One JPEG-baseline COLOR Part 10 slice: interleaved RGB through
    * the JDK JPEG writer (which emits the standard YCbCr stream —
    * hence photometric YBR_FULL_422), encapsulated. Lossy — callers
    * pin with bounded error on MCU-aligned uniform blocks.
    */
  def encodeSliceJpegRgb(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == rows * cols * 3, "pixels != rows*cols*3")
    val img = new java.awt.image.BufferedImage(cols, rows,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) {
        var c = 0
        while (c < 3) {
          raster.setSample(x, y, c, pixels((y * cols + x) * 3 + c) & 0xff)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    buildSlice(JpegBaseline, bits = 8, signed = false, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(bos.toByteArray)), samples = 3,
      photometric = "YBR_FULL_422", planar = 0)
  }

  /** One JPEG-baseline Part 10 slice: 8-bit grayscale frame through
    * the JDK JPEG writer, encapsulated. Lossy — callers pin decoded
    * values with a bounded-error check, like the multimodal JPEG
    * surface (m53).
    */
  def encodeSliceJpegBaseline(rows: Int, cols: Int, instanceNumber: Int, ippZ: Double,
      pixelSpacingRowCol: (Double, Double), sliceThickness: Double,
      pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == rows * cols, "pixels != rows*cols")
    val img = new java.awt.image.BufferedImage(cols, rows,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < rows) {
      var x = 0
      while (x < cols) { raster.setSample(x, y, 0, pixels(y * cols + x) & 0xff); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    buildSlice(JpegBaseline, bits = 8, signed = false, rows, cols,
      instanceNumber, ippZ, pixelSpacingRowCol, sliceThickness,
      encapsulate(Seq(bos.toByteArray)))
  }
}
