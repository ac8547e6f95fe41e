package graft.operators

import graft.SparkSpec

/** S10 — baseline TIFF ingestion against committed fixtures written
  * by `tools/make_tiff_fixture.py` (stdlib-only TIFF 6.0 / BigTIFF
  * bytes). Expected voxel values replay the generator formulas;
  * every codec path (none/deflate/packbits/LZW), the horizontal
  * predictor, big-endian samples, tile padding crop, multipage
  * stacking and BigTIFF IFDs are pinned.
  */
class TiffIOSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures"

  test("gray8 strips uncompressed: shape, grid, values") {
    val img = TiffIO.read(spark, s"$fx/gray8_strips.tif")
    assert(img.meta.dims == Seq("y", "x"))
    assert(img.meta.shape == Seq(17L, 21L))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.chunks == Seq(5, 21))
    assert(img.chunks.count() == 4) // ceil(17/5) strips
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 17; x <- 0 until 21)
      assert(got(y * 21 + x) == ((3 * x + 7 * y) % 256).toDouble, s"($x,$y)")
  }

  test("gray16 deflate + predictor 2, big-endian") {
    val img = TiffIO.read(spark, s"$fx/gray16_deflate.tif")
    assert(img.meta.dtype == "uint16")
    assert(img.meta.shape == Seq(12L, 16L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 12; x <- 0 until 16)
      assert(got(y * 16 + x) == ((x * 801 + y * 1203) % 65536).toDouble, s"($x,$y)")
  }

  test("RGB packbits: trailing c dim") {
    val img = TiffIO.read(spark, s"$fx/rgb_packbits.tif")
    assert(img.meta.dims == Seq("y", "x", "c"))
    assert(img.meta.shape == Seq(7L, 9L, 3L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 7; x <- 0 until 9) {
      val base = (y * 9 + x) * 3
      assert(got(base) == ((x * 20) % 256).toDouble)
      assert(got(base + 1) == ((y * 30) % 256).toDouble)
      assert(got(base + 2) == (((x + y) * 15) % 256).toDouble)
    }
  }

  test("RGB planar strips (PlanarConfiguration 2) equal the chunky twin pixel-wise") {
    val img = TiffIO.read(spark, s"$fx/rgb_planar.tif")
    assert(img.meta.dims == Seq("y", "x", "c"))
    assert(img.meta.shape == Seq(7L, 9L, 3L))
    // planar regions land as c-depth-1 chunks
    assert(img.meta.chunks == Seq(3, 9, 1))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    val chunky = ChunkOps.toArray(
      TiffIO.read(spark, s"$fx/rgb_packbits.tif").chunks,
      TiffIO.read(spark, s"$fx/rgb_packbits.tif").meta)
    assert(got.toSeq == chunky.toSeq,
      "planar and chunky encodings of the same image must read identically")
  }

  test("planar multichannel LSM: per-channel strip runs land as (z,y,x,c)") {
    val img = TiffIO.read(spark, s"$fx/vol/vol_planar.lsm")
    assert(img.meta.dims == Seq("z", "y", "x", "c"))
    assert(img.meta.shape == Seq(2L, 6L, 8L, 2L))
    assert(img.meta.scale("x") == 0.5e-6 && img.meta.scale("z") == 2.0e-6)
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (z <- 0 until 2; y <- 0 until 6; x <- 0 until 8; c <- 0 until 2)
      assert(got(((z * 6 + y) * 8 + x) * 2 + c) ==
        ((x * 7 + y * 11 + z * 13 + c * 31) % 200).toDouble, s"($x,$y,$z,$c)")
    assert(!got.contains(0xEE.toDouble)) // thumbnails skipped
  }

  test("palette-color (photometric 3): 16-bit ColorMap expands to RGB") {
    val img = TiffIO.read(spark, s"$fx/pal8.tif")
    assert(img.meta.dims == Seq("y", "x", "c"))
    assert(img.meta.shape == Seq(9L, 13L, 3L))
    assert(img.meta.dtype == "uint16")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 9; x <- 0 until 13) {
      val i = (x * 5 + y * 3) % 256
      val base = (y * 13 + x) * 3
      assert(got(base) == (i * 257).toDouble, s"R($x,$y)")
      assert(got(base + 1) == ((255 - i) * 257).toDouble, s"G($x,$y)")
      assert(got(base + 2) == (((i * 7) % 256) * 257).toDouble, s"B($x,$y)")
    }
  }

  test("Aperio SVS: heterogeneous pages read as page-0 baseline, MPP drives scale") {
    val img = TiffIO.read(spark, "src/test/resources/fixtures/aperio.svs")
    assert(img.meta.dims == Seq("y", "x"))
    assert(img.meta.shape == Seq(16L, 16L))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale("x") == 0.4965 && img.meta.scale("y") == 0.4965)
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 16; x <- 0 until 16)
      assert(got(y * 16 + x) == ((x * 3 + y * 5 + 7) % 256).toDouble, s"($x,$y)")
  }

  test("Aperio SVS associated images enumerate by name (metadata only)") {
    val assoc = TiffIO.svsAssociated(spark, "src/test/resources/fixtures/aperio.svs")
    assert(assoc == Seq(
      TiffIO.SvsAssociated("thumbnail", 8, 4),
      TiffIO.SvsAssociated("label", 6, 4),
      TiffIO.SvsAssociated("macro", 7, 3)))
    // a non-Aperio TIFF refuses by name
    val e = intercept[IllegalArgumentException](
      TiffIO.svsAssociated(spark, s"$fx/multipage.tif"))
    assert(e.getMessage.contains("not an Aperio SVS"))
  }

  test("multi-Image OME-TIFF: each series reads via its TiffData IFD mapping") {
    val s0 = TiffIO.read(spark, s"$fx/multiseries.ome.tif")
    assert(s0.meta.dims == Seq("z", "y", "x"))
    assert(s0.meta.shape == Seq(3L, 6L, 8L))
    assert(s0.meta.scale("x") == 0.4 && s0.meta.scale("y") == 0.7)
    val got0 = ChunkOps.toArray(s0.chunks, s0.meta)
    for (z <- 0 until 3; y <- 0 until 6; x <- 0 until 8)
      assert(got0((z * 6 + y) * 8 + x) == ((z * 17 + y * 5 + x * 3) % 251).toDouble,
        s"s0($x,$y,$z)")
    val s1 = TiffIO.read(spark, s"$fx/multiseries.ome.tif", omeSeries = 1)
    assert(s1.meta.dims == Seq("z", "y", "x"))
    assert(s1.meta.shape == Seq(2L, 4L, 10L))
    val got1 = ChunkOps.toArray(s1.chunks, s1.meta)
    for (z <- 0 until 2; y <- 0 until 4; x <- 0 until 10)
      assert(got1((z * 4 + y) * 10 + x) == ((31 + z * 17 + y * 5 + x * 3) % 251).toDouble,
        s"s1($x,$y,$z)")
    val e = intercept[IllegalArgumentException](
      TiffIO.read(spark, s"$fx/multiseries.ome.tif", omeSeries = 2))
    assert(e.getMessage.contains("2 series"))
    // a negative index must hit the same named refusal, not an
    // IndexOutOfBoundsException from imgs(omeSeries)
    val eNeg = intercept[IllegalArgumentException](
      TiffIO.read(spark, s"$fx/multiseries.ome.tif", omeSeries = -1))
    assert(eNeg.getMessage.contains("series -1"))
  }

  test("scrambled TiffData plane→IFD permutation reads equal to its in-order twin") {
    for (series <- 0 to 1) {
      val a = TiffIO.read(spark, s"$fx/multiseries.ome.tif", omeSeries = series)
      val b = TiffIO.read(spark, s"$fx/multiseries_scrambled.ome.tif", omeSeries = series)
      assert(b.meta == a.meta, s"series $series meta")
      assert(ChunkOps.toArray(b.chunks, b.meta).toSeq ==
        ChunkOps.toArray(a.chunks, a.meta).toSeq, s"series $series pixels")
    }
  }

  test("OME TiffData mappings: permutations accepted, sparse/dup refuse loudly") {
    def xmlFor(td0: String, td1: String): String =
      """<?xml version="1.0"?>""" +
        """<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06">""" +
        s"""<Image ID="Image:0"><Pixels ID="Pixels:0" DimensionOrder="XYZCT"
           | Type="uint8" SizeX="4" SizeY="4" SizeZ="2" SizeC="1" SizeT="1">
           |$td0</Pixels></Image>
           |<Image ID="Image:1"><Pixels ID="Pixels:1" DimensionOrder="XYZCT"
           | Type="uint8" SizeX="4" SizeY="4" SizeZ="2" SizeC="1" SizeT="1">
           |$td1</Pixels></Image></OME>""".stripMargin
    // in-order blocks parse
    val ok = TiffIO.parseOmeImages(xmlFor(
      """<TiffData IFD="0" PlaneCount="2"/>""",
      """<TiffData IFD="2" PlaneCount="2"/>"""))
    assert(ok.map(_._2) == Seq(Seq(0, 1), Seq(2, 3)))
    // scrambled plane→IFD mapping: accepted, result indexed by plane
    val perm = TiffIO.parseOmeImages(xmlFor(
      """<TiffData IFD="0" PlaneCount="1" FirstZ="1"/><TiffData IFD="1" PlaneCount="1"/>""",
      """<TiffData IFD="2" PlaneCount="2"/>"""))
    assert(perm.map(_._2) == Seq(Seq(1, 0), Seq(2, 3)))
    // a twice-mapped plane refuses
    val e1 = intercept[IllegalArgumentException](TiffIO.parseOmeImages(xmlFor(
      """<TiffData IFD="0" PlaneCount="2"/><TiffData IFD="1" PlaneCount="1" FirstZ="1"/>""",
      """<TiffData IFD="2" PlaneCount="2"/>""")))
    assert(e1.getMessage.contains("twice"))
    // sparse coverage
    val e2 = intercept[IllegalArgumentException](TiffIO.parseOmeImages(xmlFor(
      """<TiffData IFD="0" PlaneCount="1"/>""",
      """<TiffData IFD="2" PlaneCount="2"/>""")))
    assert(e2.getMessage.contains("covers 1 of 2"))
    // multi-Image without TiffData is ambiguous
    val e3 = intercept[IllegalArgumentException](TiffIO.parseOmeImages(xmlFor("", "")))
    assert(e3.getMessage.contains("ambiguous"))
  }

  test("palette-color 4-bit: packed nibble indices expand through a 16-entry ColorMap") {
    val img = TiffIO.read(spark, s"$fx/pal4.tif")
    assert(img.meta.dims == Seq("y", "x", "c"))
    assert(img.meta.shape == Seq(5L, 11L, 3L))
    assert(img.meta.dtype == "uint16")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 5; x <- 0 until 11) {
      val i = (x * 3 + y) % 16
      val base = (y * 11 + x) * 3
      assert(got(base) == (i * 4369).toDouble, s"R($x,$y)")
      assert(got(base + 1) == ((15 - i) * 4369).toDouble, s"G($x,$y)")
      assert(got(base + 2) == (((i * 5) % 16) * 4369).toDouble, s"B($x,$y)")
    }
  }

  test("LZW strip decodes (early-change code widths)") {
    val img = TiffIO.read(spark, s"$fx/gray8_lzw.tif")
    assert(img.meta.shape == Seq(9L, 33L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 9; x <- 0 until 33)
      assert(got(y * 33 + x) == ((x / 3 + y) % 7).toDouble, s"($x,$y)")
  }

  test("LZW round-trips a dictionary-heavy synthetic buffer") {
    // long repetitive payload pushes the code width through 10 bits
    val data = Array.tabulate[Byte](20000)(i => ((i / 7) % 11).toByte)
    val enc = lzwEncodeRef(data)
    assert(TiffIO.lzwDecode(enc, data.length).toSeq == data.toSeq)
  }

  /** Mirror of the generator's encoder, to stress widths beyond what
    * the small fixture reaches.
    */
  private def lzwEncodeRef(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nbits = 0
    def write(code: Int, width: Int): Unit = {
      acc = (acc << width) | code; nbits += width
      while (nbits >= 8) { out.write(((acc >> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
      acc &= (1L << nbits) - 1
    }
    var table = scala.collection.mutable.HashMap[Seq[Byte], Int]()
    (0 until 256).foreach(i => table(Seq(i.toByte)) = i)
    var nextCode = 258; var width = 9
    write(256, width)
    var w = Vector.empty[Byte]
    data.foreach { b =>
      val wc = w :+ b
      if (table.contains(wc)) w = wc
      else {
        write(table(w), width)
        table(wc) = nextCode; nextCode += 1
        if (nextCode == (1 << width) - 1 && width < 12) width += 1
        if (nextCode > 4093) {
          write(256, width)
          table = scala.collection.mutable.HashMap[Seq[Byte], Int]()
          (0 until 256).foreach(i => table(Seq(i.toByte)) = i)
          nextCode = 258; width = 9
        }
        w = Vector(b)
      }
    }
    if (w.nonEmpty) write(table(w), width)
    write(257, width)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  test("LZW tolerates consecutive Clear codes") {
    // stream: Clear, Clear, 'A', EOI at 9-bit width
    var acc = 0L; var nbits = 0
    val out = new java.io.ByteArrayOutputStream()
    def w(code: Int): Unit = {
      acc = (acc << 9) | code; nbits += 9
      while (nbits >= 8) { out.write(((acc >> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
      acc &= (1L << nbits) - 1
    }
    w(256); w(256); w(65); w(257)
    if (nbits > 0) out.write(((acc << (8 - nbits)) & 0xff).toInt)
    assert(TiffIO.lzwDecode(out.toByteArray, 1).toSeq == Seq(65.toByte))
  }

  test("tiled float32: padded edge tiles crop to image bounds") {
    val img = TiffIO.read(spark, s"$fx/tiled_f32.tif")
    assert(img.meta.dtype == "float32")
    assert(img.meta.shape == Seq(30L, 40L))
    assert(img.meta.chunks == Seq(16, 16))
    assert(img.chunks.count() == 6) // 2x3 tile grid
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 30; x <- 0 until 40)
      assert(got(y * 40 + x) == (x * 0.5f - y * 0.25f).toDouble, s"($x,$y)")
  }

  test("multipage stacks as z; BigTIFF parses") {
    val img = TiffIO.read(spark, s"$fx/multipage.tif")
    assert(img.meta.dims == Seq("z", "y", "x"))
    assert(img.meta.shape == Seq(3L, 6L, 8L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (z <- 0 until 3; y <- 0 until 6; x <- 0 until 8)
      assert(got((z * 6 + y) * 8 + x) == ((x + 2 * y + 10 * z) % 256).toDouble, s"($x,$y,$z)")

    val big = TiffIO.read(spark, s"$fx/big.tif")
    assert(big.meta.shape == Seq(5L, 10L))
    val bgot = ChunkOps.toArray(big.chunks, big.meta)
    for (y <- 0 until 5; x <- 0 until 10)
      assert(bgot(y * 10 + x) == ((5 * x + y) % 256).toDouble)
  }

  test("Zeiss LSM: thumbnail IFDs skip, CZ_LSMINFO dims + voxel sizes land") {
    val img = TiffIO.read(spark, s"$fx/vol/vol.lsm")
    assert(img.meta.dims == Seq("z", "y", "x"))
    assert(img.meta.shape == Seq(2L, 6L, 8L))
    assert(img.meta.dtype == "uint8")
    // raw CZ_LSMINFO voxel sizes (meters), the LSMImageIO rule
    assert(img.meta.scale("x") == 0.5e-6 && img.meta.scale("y") == 0.7e-6 &&
      img.meta.scale("z") == 2.0e-6)
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (z <- 0 until 2; y <- 0 until 6; x <- 0 until 8)
      assert(got((z * 6 + y) * 8 + x) == ((x * 7 + y * 11 + z * 13) % 200).toDouble,
        s"($x,$y,$z)")
    // the 0xEE thumbnail bytes must not appear anywhere in the stack
    assert(!got.contains(0xEE.toDouble))
  }

  test("LSM refuses a plane-count mismatch against CZ_LSMINFO") {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/vol/vol.lsm"))
    // flip DimensionZ (LE int32 at struct offset 16) to 3; the struct
    // sits right after the 4 IFDs
    val info = TiffIO.parseInfo(raw)
    assert(info.lsmInfo.exists(_.dimZ == 2))
    val structOff = raw.length - (2 * 48 + 2 * 12) - 88 // planes+thumbs+struct from EOF
    raw(structOff + 16) = 3
    val p = tempFile("bad", ".lsm")
    java.nio.file.Files.write(p, raw)
    val e = intercept[IllegalArgumentException](TiffIO.read(spark, p.toString))
    assert(e.getMessage.contains("full-resolution pages"))
  }

  test("OME-TIFF: OME-XML axes drive t/z/c dims, interleaving and physical scale") {
    val img = TiffIO.read(spark, s"$fx/interleaved.ome.tif")
    // DimensionOrder XYCZT reversed (minus XY) -> t, z, c slowest-first
    assert(img.meta.dims == Seq("t", "z", "c", "y", "x"))
    assert(img.meta.shape == Seq(2L, 3L, 2L, 8L, 10L))
    assert(img.meta.dtype == "uint8")
    // PhysicalSizeZ was declared as 2000 nm -> 2.0 um
    assert(img.meta.scale == Map("t" -> 1.0, "z" -> 2.0, "c" -> 1.0,
      "y" -> 0.6, "x" -> 0.5))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    // C-order over (t,z,c,y,x) against the generator formula — wrong
    // page decomposition (e.g. pages->z) would scramble every plane
    for (t <- 0 until 2; z <- 0 until 3; c <- 0 until 2; y <- 0 until 8; x <- 0 until 10) {
      val idx = (((t * 3 + z) * 2 + c) * 8 + y) * 10 + x
      val expect = ((t * 83 + c * 47 + z * 29 + y * 5 + x * 3) % 256).toDouble
      assert(got(idx) == expect, s"($t,$z,$c,$y,$x)")
    }
  }

  test("OME-TIFF via the Scala gate encoder matches the python fixture semantics") {
    // the i66 gate builds its input with TiffIO.encodeGray8 — prove
    // that encoder + reader agree with the independently-written
    // python fixture on the same formula
    val w = 10; val h = 8
    val omeXml =
      """<?xml version="1.0" encoding="UTF-8"?>""" +
        """<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06">""" +
        """<Image ID="Image:0"><Pixels ID="Pixels:0" DimensionOrder="XYCZT" Type="uint8"""" +
        s""" SizeX="$w" SizeY="$h" SizeZ="3" SizeC="2" SizeT="2"""" +
        """ PhysicalSizeX="0.5" PhysicalSizeY="0.6"""" +
        """ PhysicalSizeZ="2000" PhysicalSizeZUnit="nm"><TiffData/></Pixels></Image></OME>"""
    val planes = (0 until 12).map { p =>
      val c = p % 2; val z = (p / 2) % 3; val t = p / 6
      Array.tabulate(w * h) { i =>
        ((t * 83 + c * 47 + z * 29 + (i / w) * 5 + (i % w) * 3) % 256).toByte
      }
    }
    val bytes = TiffIO.encodeGray8(w, h, planes, Some(omeXml))
    val dir = tempDir("ometiff")
    val path = dir.resolve("gen.ome.tif")
    java.nio.file.Files.write(path, bytes)
    val gen = TiffIO.read(spark, path.toString)
    val fixture = TiffIO.read(spark, s"$fx/interleaved.ome.tif")
    assert(gen.meta == fixture.meta)
    assert(ChunkOps.toArray(gen.chunks, gen.meta).toSeq
      == ChunkOps.toArray(fixture.chunks, fixture.meta).toSeq)
  }

  test("OME-TIFF refusals: page/plane mismatch, unknown unit, type mismatch") {
    val w = 4; val h = 3
    def ome(extra: String, sizes: String = """SizeZ="2" SizeC="1" SizeT="1""""): String =
      s"""<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06"><Image>""" +
        s"""<Pixels DimensionOrder="XYZCT" Type="uint8" SizeX="$w" SizeY="$h" $sizes $extra/>""" +
        """</Image></OME>"""
    val planes = Seq.fill(2)(Array.fill(w * h)(7.toByte))
    def readWith(xml: String): Unit = {
      val p = tempFile("ome-bad", ".ome.tif")
      java.nio.file.Files.write(p, TiffIO.encodeGray8(w, h, planes, Some(xml)))
      TiffIO.read(spark, p.toString)
    }
    // happy path sanity for this helper
    readWith(ome(""))
    // declared planes != pages
    val e1 = intercept[IllegalArgumentException](
      readWith(ome("", sizes = """SizeZ="3" SizeC="1" SizeT="1"""")))
    assert(e1.getMessage.contains("planes"))
    // unknown physical unit
    val e2 = intercept[UnsupportedOperationException](
      readWith(ome("""PhysicalSizeX="1" PhysicalSizeXUnit="parsec"""")))
    assert(e2.getMessage.contains("parsec"))
    // OME type contradicts the TIFF sample type
    val e3 = intercept[IllegalArgumentException](
      readWith(ome("").replace("""Type="uint8"""", """Type="uint16"""")))
    assert(e3.getMessage.contains("uint16"))
  }

  test("TIFF feeds the pyramid + OME-Zarr write path end-to-end") {
    import graft.meta.Model._
    val img = TiffIO.read(spark, s"$fx/gray8_strips.tif")
    val base = MultiscaleBuilder.Level(img.meta, img.chunks)
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("tiff2zarr").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4", compressor = Some("blosc"))
    val back = OmeZarrIO.readMultiscales(spark, dir, validate = true)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == ChunkOps.toArray(img.chunks, img.meta).toSeq)
  }

  test("precise errors: palette, old-style JPEG, bad magic") {
    val ok = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/gray8_strips.tif"))
    intercept[IllegalArgumentException](TiffIO.parseInfo("NOPE".getBytes ++ ok.drop(4)))
    assert(TiffIO.dtypeFor(16, 1) == "uint16")
    intercept[UnsupportedOperationException](TiffIO.dtypeFor(1, 1)) // bilevel
  }

  test("old-style JPEG (compression 6): interchange stream decodes, " +
      "neither-stream-nor-tables refuses") {
    val full = jpegGray(16, 16, blockVal)
    val path = tempFile("oldjpeg", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(16, 16, 16, Seq(full),
      tiled = false, tables = None, oldStyle = true))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(16L, 16L) && img.meta.dtype == "uint8")
    assertBlocks(ChunkOps.toArray(img.chunks, img.meta), 16, 16, tol = 4)
    // compression 6 with neither a JPEGInterchangeFormat stream nor
    // table tags (519-521): loud refusal at parse time
    val noStream = buildJpegTiff(16, 16, 16, Seq(full),
      tiled = false, tables = None, oldStyle = true)
    // surgically retag the 513 entry to 515 (walk the IFD, don't
    // pattern-match bytes) so the stream pointer vanishes while
    // everything else stays intact
    def u16(o: Int) = (noStream(o) & 0xff) | ((noStream(o + 1) & 0xff) << 8)
    def u32(o: Int) = u16(o).toLong | (u16(o + 2).toLong << 16)
    val ifd = u32(4).toInt
    val entry = (0 until u16(ifd)).map(e => ifd + 2 + 12 * e)
      .find(o => u16(o) == 513).get
    noStream(entry) = 0x03.toByte
    val e = intercept[IllegalArgumentException](TiffIO.parseInfo(noStream))
    assert(e.getMessage.contains("JPEGInterchangeFormat"))
  }

  // ---- JPEG compression (7) fixtures, assembled in-test ----

  /** Expected gray value: four uniform 8×8 blocks (MCU-aligned, so
    * JPEG reproduces them within DC-quantization error).
    */
  private def blockVal(x: Int, y: Int): Int = 40 + 50 * ((y / 8) * 2 + (x / 8))

  private def jpegGray(w: Int, h: Int, value: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, value(x, y))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(0.95f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** Split a complete JPEG into (JPEGTables blob, abbreviated stream)
    * per TIFF-EP: DQT/DHT segments move to SOI+tables+EOI, everything
    * else (APPn, SOF, SOS+entropy, EOI) keeps its own SOI.
    */
  private def splitJpeg(full: Array[Byte]): (Array[Byte], Array[Byte]) = {
    val tables = new java.io.ByteArrayOutputStream()
    val abbrev = new java.io.ByteArrayOutputStream()
    def soi(o: java.io.ByteArrayOutputStream): Unit = { o.write(0xff); o.write(0xd8) }
    soi(tables); soi(abbrev)
    var i = 2
    while (i < full.length) {
      require((full(i) & 0xff) == 0xff, s"bad marker at $i")
      val marker = full(i + 1) & 0xff
      if (marker == 0xd9) { abbrev.write(full, i, 2); i = full.length } // EOI
      else if (marker == 0xda) { // SOS: entropy data runs to EOI
        abbrev.write(full, i, full.length - i); i = full.length
      } else {
        val len = ((full(i + 2) & 0xff) << 8) | (full(i + 3) & 0xff)
        val dst = if (marker == 0xdb || marker == 0xc4) tables else abbrev
        dst.write(full, i, 2 + len)
        i += 2 + len
      }
    }
    tables.write(0xff); tables.write(0xd9)
    (tables.toByteArray, abbrev.toByteArray)
  }

  /** Minimal little-endian classic TIFF: gray8, strip or single-tile
    * layout, compression 7, optional JPEGTables.
    */
  private def buildJpegTiff(w: Int, h: Int, rps: Int, regions: Seq[Array[Byte]],
      tiled: Boolean, tables: Option[Array[Byte]],
      oldStyle: Boolean = false,
      oldTagTables: Option[(Array[Byte], Array[Byte], Array[Byte])] = None,
      compOverride: Int = -1, bits: Int = 8)
      : Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    val regionOffs = regions.map { r => val o = 8 + body.size; body.write(r); o.toLong }
    val tablesOff = 8 + body.size
    tables.foreach(body.write)
    // old-style tables-in-tags: raw q/dc/ac table bytes in the body,
    // pointed at by LONG offsets in tags 519/520/521
    val oldTagOffs = oldTagTables.map { case (q, dc, ac) =>
      val qo = 8 + body.size; body.write(q)
      val dco = 8 + body.size; body.write(dc)
      val aco = 8 + body.size; body.write(ac)
      (qo.toLong, dco.toLong, aco.toLong)
    }
    // external value arrays (offsets/counts when count > 1)
    val ext = new java.io.ByteArrayOutputStream()
    val extBase = 8 + body.size
    def extLongs(vs: Seq[Long]): Long = {
      val o = extBase + ext.size
      vs.foreach { v =>
        ext.write((v & 0xff).toInt); ext.write(((v >> 8) & 0xff).toInt)
        ext.write(((v >> 16) & 0xff).toInt); ext.write(((v >> 24) & 0xff).toInt)
      }
      o.toLong
    }
    val n = regions.length
    val offVal = if (n == 1) regionOffs.head else extLongs(regionOffs)
    val cntVal = if (n == 1) regions.head.length.toLong
      else extLongs(regions.map(_.length.toLong))
    val ifdOff = extBase + ext.size
    case class E(tag: Int, typ: Int, count: Int, v: Long)
    val entries = (Seq(
      E(256, 3, 1, w), E(257, 3, 1, h), E(258, 3, 1, bits),
      E(259, 3, 1,
        if (compOverride > 0) compOverride
        else if (oldStyle || oldTagTables.nonEmpty) 6 else 7),
      E(262, 3, 1, 1), E(277, 3, 1, 1), E(339, 3, 1, 1)) ++
      (if (tiled) Seq(E(322, 3, 1, w), E(323, 3, 1, h),
        E(324, 4, n, offVal), E(325, 4, n, cntVal))
      else Seq(E(273, 4, n, offVal), E(278, 3, 1, rps), E(279, 4, n, cntVal))) ++
      // old-style JPEG: the complete interchange stream via 513/514
      // (strip entries stay, pointing at the same bytes — the real
      // files carry both and readers must prefer the stream)
      (if (oldStyle) Seq(E(513, 4, 1, regionOffs.head),
        E(514, 4, 1, regions.head.length.toLong)) else Nil) ++
      oldTagOffs.toSeq.flatMap { case (qo, dco, aco) =>
        Seq(E(512, 3, 1, 1), E(519, 4, 1, qo), E(520, 4, 1, dco),
          E(521, 4, 1, aco))
      } ++
      tables.map(t => E(347, 7, t.length, tablesOff.toLong)).toSeq)
      .sortBy(_.tag)
    val bb = java.nio.ByteBuffer.allocate(
        8 + body.size + ext.size + 2 + entries.length * 12 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOff)
    bb.put(body.toByteArray)
    bb.put(ext.toByteArray)
    bb.putShort(entries.length.toShort)
    entries.foreach { e =>
      bb.putShort(e.tag.toShort).putShort(e.typ.toShort).putInt(e.count)
      if (e.typ == 3 && e.count == 1) bb.putShort(e.v.toShort).putShort(0)
      else bb.putInt(e.v.toInt)
    }
    bb.putInt(0) // no next IFD
    bb.array()
  }

  /** Dissect a complete baseline JPEG into (qTable 64B, dcTable,
    * acTable, bare entropy data) — the raw forms TIFF 6.0 §22 spreads
    * over tags 519/520/521 and the strip. EOI is dropped from the
    * entropy so the reader's append-EOI path is exercised.
    */
  private def dissectJpeg(full: Array[Byte])
      : (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
    var q: Array[Byte] = null; var dc: Array[Byte] = null
    var ac: Array[Byte] = null; var ent: Array[Byte] = null
    var i = 2
    while (i < full.length && ent == null) {
      assert((full(i) & 0xff) == 0xff, s"lost sync at $i")
      val marker = full(i + 1) & 0xff
      val len = ((full(i + 2) & 0xff) << 8) | (full(i + 3) & 0xff)
      marker match {
        case 0xdb => // DQT: (PqTq + 64 bytes)*
          var p = i + 4
          while (p < i + 2 + len) {
            if ((full(p) & 0x0f) == 0 && q == null)
              q = java.util.Arrays.copyOfRange(full, p + 1, p + 65)
            p += 65
          }
        case 0xc4 => // DHT: (ClassId + 16 counts + values)*
          var p = i + 4
          while (p < i + 2 + len) {
            val cl = full(p) & 0xff
            val nv = (p + 1 until p + 17).map(full(_) & 0xff).sum
            val tbl = java.util.Arrays.copyOfRange(full, p + 1, p + 17 + nv)
            if (cl == 0x00) dc = tbl else if (cl == 0x10) ac = tbl
            p += 17 + nv
          }
        case 0xda => // entropy runs from after the SOS header to EOI
          ent = java.util.Arrays.copyOfRange(full, i + 2 + len, full.length - 2)
        case _ => ()
      }
      i += 2 + len
    }
    assert(q != null && dc != null && ac != null && ent != null)
    (q, dc, ac, ent)
  }

  test("old-style JPEG per-strip tables-in-tags profile decodes") {
    // two independently encoded 16x8 strips share the encoder's
    // tables; the tags carry the raw tables, each strip only its
    // entropy data — the reader must re-head every strip. Parity
    // oracle: decoding the COMPLETE per-strip streams directly (same
    // entropy bytes, same tables → bit-identical samples).
    val fulls = Seq(0, 8).map(y0 => jpegGray(16, 8, (x, y) => blockVal(x, y + y0)))
    val parts = fulls.map(dissectJpeg)
    val (q, dc, ac, _) = parts.head
    val path = tempFile("oldjpegstrips", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(16, 16, 8,
      parts.map(_._4), tiled = false, tables = None,
      oldTagTables = Some((q, dc, ac))))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(16L, 16L) && img.meta.dtype == "uint8")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    val want = fulls.flatMap(f => TiffIO.jpegDecodeRegion(f, None, 16 * 8))
    for (y <- 0 until 16; x <- 0 until 16)
      assert(got(y * 16 + x) == (want(y * 16 + x) & 0xff).toDouble, s"($x,$y)")
    // complete-stream strips (SOI-prefixed) pass through unchanged
    java.nio.file.Files.write(path, buildJpegTiff(16, 16, 8,
      fulls, tiled = false, tables = None, oldTagTables = Some((q, dc, ac))))
    val img2 = TiffIO.read(spark, path.toString)
    assert(ChunkOps.toArray(img2.chunks, img2.meta).toSeq == got.toSeq)
  }

  test("JPEG 2000 strips (compression 34712) decode via the T.800 codec") {
    // the committed 19x13 codestream from the independent Python
    // encoder is the strip payload; expectation is its .raw twin
    val j2c = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/j2k/g8_l1.j2c"))
    val want = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/j2k/g8_l1.raw"))
      .map(_ & 0xff)
    val path = tempFile("j2ktiff", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(19, 13, 13, Seq(j2c),
      tiled = false, tables = None, compOverride = 34712))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(13L, 19L) && img.meta.dtype == "uint8")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 13; x <- 0 until 19)
      assert(got(y * 19 + x) == want(y * 19 + x).toDouble, s"($x,$y)")
  }

  test("lossy 9/7 JPEG 2000 strips (Aperio 33003) decode to the pinned reconstruction") {
    // Aperio SVS regions in the wild predominantly carry LOSSY 9/7
    // codestreams; the committed lossy fixture's .raw twin is the
    // Python decoder's reconstruction, matched bit-for-bit
    val j2c = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/j2k/lossy97_exp.j2c"))
    val want = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/j2k/lossy97_exp.raw"))
      .map(_ & 0xff)
    val path = tempFile("j2klossytiff", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(33, 25, 25, Seq(j2c),
      tiled = false, tables = None, compOverride = 33003))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(25L, 33L) && img.meta.dtype == "uint8")
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until 25; x <- 0 until 33)
      assert(got(y * 33 + x) == want(y * 33 + x).toDouble, s"($x,$y)")
  }

  test("16-bit JPEG 2000 strips decode with the container's byte order") {
    // 16-bit codestream as a strip in a little-endian TIFF: the
    // region decoder must emit container-endian sample bytes
    val w = 11; val h = 9
    val img = Array.tabulate(w * h)(i => (i * 4099 + 17) % 65536)
    val j2c = Jpeg2kEncode.encode(Seq(img), w, h, 16, levels = 2, cbw = 8, cbh = 8)
    val path = tempFile("j2k16tiff", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(w, h, h, Seq(j2c),
      tiled = false, tables = None, compOverride = 34712, bits = 16))
    val tif = TiffIO.read(spark, path.toString)
    assert(tif.meta.dtype == "uint16")
    val got = ChunkOps.toArray(tif.chunks, tif.meta)
    for (y <- 0 until h; x <- 0 until w)
      assert(got(y * w + x) == img(y * w + x).toDouble, s"($x,$y)")
  }

  private def assertBlocks(got: Array[Double], w: Int, h: Int, tol: Int): Unit =
    for (y <- 0 until h; x <- 0 until w)
      assert(math.abs(got(y * w + x) - blockVal(x, y)) <= tol,
        s"($x,$y): ${got(y * w + x)} vs ${blockVal(x, y)}")

  test("JPEG-compressed strips (compression 7) decode within quantization error") {
    val strips = Seq(0, 8).map(y0 => jpegGray(16, 8, (x, y) => blockVal(x, y + y0)))
    val path = tempFile("jpegstrips", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(16, 16, 8, strips,
      tiled = false, tables = None))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(16L, 16L) && img.meta.dtype == "uint8")
    assertBlocks(ChunkOps.toArray(img.chunks, img.meta), 16, 16, tol = 4)
  }

  test("JPEG tile with shared JPEGTables (tag 347) splices and decodes") {
    val (tables, abbrev) = splitJpeg(jpegGray(16, 16, blockVal))
    // the abbreviated stream must really be abbreviated (no DQT/DHT)…
    assert(!abbrev.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xdb))
    // …and the tables blob must carry at least one DQT and one DHT
    assert(tables.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xdb))
    assert(tables.sliding(2).exists(s => (s(0) & 0xff) == 0xff && (s(1) & 0xff) == 0xc4))
    val path = tempFile("jpegtile", ".tif")
    java.nio.file.Files.write(path, buildJpegTiff(16, 16, 0, Seq(abbrev),
      tiled = true, tables = Some(tables)))
    val img = TiffIO.read(spark, path.toString)
    assert(img.meta.shape == Seq(16L, 16L))
    assertBlocks(ChunkOps.toArray(img.chunks, img.meta), 16, 16, tol = 4)
  }
}
