package graft.operators

import graft.SparkSpec

/** NRRD / MetaImage / MGH readers (VolumeFormats.scala) against
  * committed fixtures from `tools/make_volume_fixture.py` — one shared
  * synthetic volume across every container/encoding/endianness cell,
  * so values must agree bit-for-bit across all seven files, and each
  * header's spacing/origin must land in scale/translation. Plus the
  * refuse-loudly branches for everything the readers decline.
  */
class VolumeFormatsSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures/vol"
  private val NX = 6; private val NY = 5; private val NZ = 4

  /** C-order expectation over dims (x,y,z): v = (7x + 11y + 13z) % 200. */
  private def expected(frame: Int = 0): Seq[Double] =
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ)
      yield ((x * 7 + y * 11 + z * 13 + frame * 17) % 200).toDouble

  private def values(img: VolumeFormats.VolumeImage): Seq[Double] =
    ChunkOps.toArray(img.chunks, img.meta).toSeq

  test("NRRD attached gzip int16 BE: space directions -> scale, origin -> translation") {
    val img = VolumeFormats.read(spark, s"$fx/vol.nrrd")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    assert(img.meta.axesUnits == Map("x" -> "mm", "y" -> "mm", "z" -> "um"))
    assert(values(img) == expected())
  }

  test("NRRD detached raw uint8: data file indirection + spacings") {
    val img = VolumeFormats.read(spark, s"$fx/vol.nhdr")
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale == Map("x" -> 0.5, "y" -> 0.6, "z" -> 0.7))
    assert(values(img) == expected())
  }

  test("MetaImage attached raw float32: spacing/offset mapping") {
    val img = VolumeFormats.read(spark, s"$fx/vol.mha")
    assert(img.meta.dtype == "float32")
    assert(img.meta.scale == Map("x" -> 1.25, "y" -> 2.25, "z" -> 3.25))
    assert(img.meta.translation == Map("x" -> -1.0, "y" -> -2.0, "z" -> -3.0))
    assert(values(img) == expected())
  }

  test("MetaImage attached zlib int16 MSB decompresses identically") {
    val img = VolumeFormats.read(spark, s"$fx/volc.mha")
    assert(img.meta.dtype == "int16")
    assert(values(img) == expected())
  }

  test("MetaImage detached raw uint16") {
    val img = VolumeFormats.read(spark, s"$fx/vol.mhd")
    assert(img.meta.dtype == "uint16")
    assert(img.meta.scale == Map("x" -> 2.0, "y" -> 2.0, "z" -> 2.0))
    assert(values(img) == expected())
  }

  test("MGH int16 BE with 2 frames: t axis, goodRAS spacing; .mgz twin identical") {
    val img = VolumeFormats.read(spark, s"$fx/vol.mgh")
    assert(img.meta.dims == Seq("x", "y", "z", "t"))
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ, 2L))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale("x") == 0.800000011920929 || img.meta.scale("x") == 0.8f.toDouble)
    // C-order over (x,y,z,t): frame is the fastest-varying output axis
    val got = values(img)
    val want = for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ; t <- 0 until 2)
      yield ((x * 7 + y * 11 + z * 13 + t * 17) % 200).toDouble
    assert(got == want)
    val gz = VolumeFormats.read(spark, s"$fx/vol.mgz")
    assert(gz.meta == img.meta)
    assert(values(gz) == got)
  }

  test("VTK legacy structured points: BINARY big-endian scalars, spacing/origin") {
    val img = VolumeFormats.read(spark, s"$fx/vol.vtk")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 0.4, "y" -> 0.5, "z" -> 0.6))
    assert(img.meta.translation == Map("x" -> 1.0, "y" -> 2.0, "z" -> 3.0))
    assert(values(img) == expected())
  }

  test("GIPL uint16 big-endian: pixdim/origin mapping; .gz twin identical") {
    val img = VolumeFormats.read(spark, s"$fx/vol.gipl")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "uint16")
    assert(img.meta.scale == Map("x" -> 0.3f.toDouble, "y" -> 0.7f.toDouble,
      "z" -> 0.9f.toDouble))
    assert(img.meta.translation == Map("x" -> 4.0, "y" -> 5.0, "z" -> 6.0))
    assert(values(img) == expected())
    val gz = VolumeFormats.read(spark, s"$fx/vol.gipl.gz")
    assert(gz.meta == img.meta && values(gz) == expected())
  }

  test("multi-chunk positioned reads: non-dividing chunk grid, edge chunks") {
    // chunk (4,3,2) over shape (6,5,4) -> 2x2x2 grid, every edge chunk
    // ragged; the distributed positioned-read odometer and the C-order
    // scatter must still reassemble the identical volume
    for (f <- Seq("vol.nhdr", "vol.mha", "vol.mhd", "vol.vtk", "vol.gipl")) {
      val img = VolumeFormats.read(spark, s"$fx/$f", chunkShape = Some(Seq(4, 3, 2)))
      assert(img.chunks.count() == 8, f)
      assert(values(img) == expected(), f)
    }
    // gzip path scatters through the same chunk grid
    val gz = VolumeFormats.read(spark, s"$fx/vol.nrrd", chunkShape = Some(Seq(4, 3, 2)))
    assert(values(gz) == expected())
  }

  test("ascii encodings: NRRD text ints and VTK ASCII floats decode exactly") {
    val n = VolumeFormats.read(spark, s"$fx/vol_ascii.nrrd")
    assert(n.meta.dtype == "int32" && values(n) == expected())
    val v = VolumeFormats.read(spark, s"$fx/vol_ascii.vtk")
    assert(v.meta.dtype == "float32" && values(v) == expected())
  }

  test("MRC2014: LE float32 with extended header, BE int16; angstrom spacing") {
    val le = VolumeFormats.read(spark, s"$fx/vol.mrc")
    assert(le.meta.dtype == "float32")
    // CELLA is float32(M * step); the division back by M happens in double
    assert(le.meta.scale == Map(
      "x" -> (NX * 1.2).toFloat.toDouble / NX,
      "y" -> (NY * 1.4).toFloat.toDouble / NY,
      "z" -> (NZ * 1.6).toFloat.toDouble / NZ))
    assert(le.meta.axesUnits == Map("x" -> "angstrom", "y" -> "angstrom",
      "z" -> "angstrom"))
    assert(values(le) == expected())
    val be = VolumeFormats.read(spark, s"$fx/vol_be.mrc")
    assert(be.meta.dtype == "int16" && values(be) == expected())
  }

  test("every container yields the same frame-0 voxels (cross-format equality)") {
    val imgs = Seq("vol.nrrd", "vol.nhdr", "vol.mha", "volc.mha", "vol.mhd",
        "vol.vtk", "vol.gipl", "vol_ascii.nrrd", "vol_ascii.vtk",
        "vol.mrc", "vol_be.mrc")
      .map(f => values(VolumeFormats.read(spark, s"$fx/$f")))
    assert(imgs.distinct.size == 1)
  }

  test("VTK refuse-loudly: ASCII format, non-structured datasets, cell data") {
    def vtk(fmt: String, ds: String, tail: String = "") =
      (s"# vtk DataFile Version 3.0\ntitle\n$fmt\nDATASET $ds\n" + tail)
        .getBytes("ISO-8859-1")
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseVtk(vtk("ASCII FOO", "STRUCTURED_POINTS")))
      .getMessage.contains("unsupported"))
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseVtk(vtk("BINARY", "POLYDATA")))
      .getMessage.contains("STRUCTURED_POINTS only"))
    assert(intercept[UnsupportedOperationException](
      VolumeFormats.parseVtk(vtk("BINARY", "STRUCTURED_POINTS",
        "DIMENSIONS 2 2 2\nCELL_DATA 8\n")))
      .getMessage.contains("CELL_DATA"))
    // GIPL bad magic
    val junk = new Array[Byte](300)
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseGipl(junk)).getMessage.contains("magic"))
    // GIPL primary magic 0xEFFFE9B0 (itkGiplImageIO accepts both):
    // patching the fixture's secondary magic must parse identically
    val giplBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/vol.gipl"))
    val secondary = VolumeFormats.parseGipl(giplBytes)
    val patched = giplBytes.clone()
    java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.BIG_ENDIAN)
      .putInt(252, 0xEFFFE9B0)
    assert(VolumeFormats.parseGipl(patched) == secondary)
  }

  test("refuse-loudly: unsupported encodings, skips, lists, bad magic, truncation") {
    def nrrd(lines: String*): Array[Byte] =
      (("NRRD0004" +: lines).mkString("", "\n", "\n\n")).getBytes("US-ASCII")
    val base = Seq("type: uint8", "dimension: 3", "sizes: 2 2 2")
    assert(intercept[UnsupportedOperationException](
      VolumeFormats.parseNrrd(nrrd(base :+ "encoding: hex": _*)))
      .getMessage.contains("encoding"))
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseNrrd(nrrd(base ++ Seq("encoding: raw", "byte skip: 4"): _*)))
      .getMessage.contains("skip"))
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseNrrd("NOPE\n\n".getBytes("US-ASCII")))
      .getMessage.contains("magic"))

    def mha(lines: String*): Array[Byte] = lines.mkString("", "\n", "\n").getBytes("US-ASCII")
    assert(intercept[IllegalArgumentException](
      VolumeFormats.parseMetaImage(mha("ObjectType = Image", "NDims = 3",
        "DimSize = 2 2 2", "ElementType = MET_UCHAR", "ElementDataFile = LIST")))
      .getMessage.contains("lists unsupported"))
    assert(intercept[UnsupportedOperationException](
      VolumeFormats.parseMetaImage(mha("ObjectType = Image", "NDims = 3",
        "DimSize = 2 2 2", "ElementType = MET_WEIRD", "ElementDataFile = LOCAL")))
      .getMessage.contains("MET_WEIRD"))

    // MGH with an unsupported type code
    val bb = java.nio.ByteBuffer.allocate(284)
    bb.putInt(0, 1); bb.putInt(4, 2); bb.putInt(8, 2); bb.putInt(12, 2)
    bb.putInt(16, 1); bb.putInt(20, 9)
    assert(intercept[UnsupportedOperationException](
      VolumeFormats.parseMgh(bb.array())).getMessage.contains("type code 9"))

    // truncated payload refuses with byte counts
    val tiny = nrrd(base :+ "encoding: raw": _*) ++ Array[Byte](1, 2, 3)
    val p = tempFile("trunc", ".nrrd")
    java.nio.file.Files.write(p, tiny)
    val e = intercept[Exception](
      values(VolumeFormats.read(spark, p.toString)))
    assert(e.getMessage != null)
  }
}
