package graft.operators

import graft.SparkSpec

/** Vendor scanner formats (ScannerFormats.scala) — BioRad PIC, Scanco
  * ISQ, Varian FDF — against committed fixtures from
  * `tools/make_scanner_fixture.py` (pure-stdlib Python byte
  * construction, independent of the Scala reader). All share the
  * VolumeFormats synthetic volume, so values must agree bit-for-bit
  * with the NRRD/MetaImage/... cells, and each header's calibration
  * must land in scale/translation. Plus the refuse-loudly branches.
  */
class ScannerFormatsSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures/vol"
  private val NX = 6; private val NY = 5; private val NZ = 4

  /** C-order expectation over dims (x,y,z): v = (7x + 11y + 13z) % 200. */
  private def expected: Seq[Double] =
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ)
      yield ((x * 7 + y * 11 + z * 13) % 200).toDouble

  private def values(img: VolumeFormats.VolumeImage): Seq[Double] =
    ChunkOps.toArray(img.chunks, img.meta).toSeq

  test("BioRad PIC uint8: AXIS notes -> scale/translation, micron units") {
    val img = VolumeFormats.read(spark, s"$fx/vol.pic")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale == Map("x" -> 0.5, "y" -> 0.6, "z" -> 0.7))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    assert(img.meta.axesUnits ==
      Map("x" -> "micrometer", "y" -> "micrometer", "z" -> "micrometer"))
    assert(values(img) == expected)
  }

  test("BioRad PIC without notes defaults to unit spacing") {
    val bytes = ScannerFormats.encodePicUint8(NX, NY, NZ,
      Seq(1.0, 1.0, 1.0), Seq(0.0, 0.0, 0.0),
      Array.tabulate(NX * NY * NZ)(i => i % 200))
    // strip the note records and clear the notes flag -> bare image
    val bare = bytes.take(76 + NX * NY * NZ)
    bare(10) = 0; bare(11) = 0; bare(12) = 0; bare(13) = 0
    val p = tempFile("bare", ".pic")
    java.nio.file.Files.write(p, bare)
    val img = ScannerFormats.readPic(spark, p.toString)
    assert(img.meta.scale == Map("x" -> 1.0, "y" -> 1.0, "z" -> 1.0))
    assert(values(img) ==
      (for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ)
        yield ((x + y * NX + z * NX * NY) % 200).toDouble))
  }

  test("PIC refuses a wrong file_id magic") {
    val p = tempFile("bad", ".pic")
    java.nio.file.Files.write(p, new Array[Byte](76))
    val e = intercept[IllegalArgumentException](ScannerFormats.readPic(spark, p.toString))
    assert(e.getMessage.contains("12345"))
  }

  test("Scanco ISQ int16: dims_um -> mm spacing, block data offset") {
    val img = VolumeFormats.read(spark, s"$fx/vol.isq")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.axesUnits ==
      Map("x" -> "millimeter", "y" -> "millimeter", "z" -> "millimeter"))
    assert(values(img) == expected)
  }

  test("ISQ refuses unknown data types") {
    val bytes = ScannerFormats.encodeIsqInt16(Seq(2, 2, 2), Seq(2000, 2000, 2000),
      Array.fill(8)(1))
    bytes(16) = 7 // not 1/3
    val p = tempFile("bad", ".isq")
    java.nio.file.Files.write(p, bytes)
    val e = intercept[UnsupportedOperationException](ScannerFormats.readIsq(spark, p.toString))
    assert(e.getMessage.contains("data type"))
  }

  test("Varian FDF float32 big-endian default: span cm -> mm spacing, origin cm -> mm") {
    val img = VolumeFormats.read(spark, s"$fx/vol.fdf")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "float32")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    assert(values(img) == expected)
  }

  test("Varian FDF int16 explicit little-endian") {
    val img = VolumeFormats.read(spark, s"$fx/vol_le.fdf")
    assert(img.meta.dtype == "int16")
    assert(values(img) == expected)
  }

  test("FDF refuses unsupported storage/bits combinations") {
    val hdr = ("#!/usr/local/fdf/startup\n" +
      "char  *storage = \"double\";\nfloat  bits = 12;\n" +
      "float  matrix[] = {2, 2};\n").getBytes("US-ASCII") ++ Array[Byte](0) ++
      new Array[Byte](16)
    val p = tempFile("bad", ".fdf")
    java.nio.file.Files.write(p, hdr)
    val e = intercept[UnsupportedOperationException](ScannerFormats.readFdf(spark, p.toString))
    assert(e.getMessage.contains("storage"))
  }

  test("Scanco AIM refuses loudly (no authoritative public layout here)") {
    val p = tempFile("vol", ".aim")
    java.nio.file.Files.write(p, new Array[Byte](64))
    val e = intercept[UnsupportedOperationException](
      VolumeFormats.read(spark, p.toString))
    assert(e.getMessage.contains("volume"))
  }
}
