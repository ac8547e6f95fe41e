package graft.operators

import graft.SparkSpec

/** 2-D bitmap ingestion (Image2dIO) — BMP bytes built by hand per the
  * public BITMAPINFOHEADER layout, PNG via `javax.imageio` encode;
  * both must land as (y, x, c) uint8 chunks with the decoded pixel
  * parity the multimodal specs already pin.
  */
class Image2dIOSpec extends SparkSpec {

  test(".j2c 2-D bitmaps read as (y,x) volumes through the J2K codec") {
    val w = 14; val h = 10
    val img = Array.tabulate(w * h)(i => (i * 29 + 3) % 256)
    val f = tempFile("img2d", ".j2c")
    java.nio.file.Files.write(f,
      Jpeg2kEncode.encode(Seq(img), w, h, 8, levels = 1, cbw = 8, cbh = 8))
    val vol = Image2dIO.read(spark, f.toString)
    assert(vol.meta.dims == Seq("y", "x"))
    assert(vol.meta.shape == Seq(h.toLong, w.toLong))
    val got = ChunkOps.toArray(vol.chunks, vol.meta)
    for (y <- 0 until h; x <- 0 until w)
      assert(got(y * w + x) == img(y * w + x).toDouble, s"($x,$y)")
  }

  test("tiled multi-layer RPCL .j2c bitmaps read through the extended codec surface") {
    // the committed fixture exercises tiles + precincts + layers +
    // SOP/EPH + tile-parts through the 2-D bitmap ingestion route
    val src = java.nio.file.Paths.get("src/test/resources/fixtures/j2k/rpcl_tiles.j2c")
    val want = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/test/resources/fixtures/j2k/rpcl_tiles.raw"))
      .map(_ & 0xff)
    val f = tempFile("img2d", ".j2c")
    java.nio.file.Files.copy(src, f,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val vol = Image2dIO.read(spark, f.toString)
    assert(vol.meta.dims == Seq("y", "x"))
    assert(vol.meta.shape == Seq(31L, 42L))
    val got = ChunkOps.toArray(vol.chunks, vol.meta)
    for (y <- 0 until 31; x <- 0 until 42)
      assert(got(y * 42 + x) == want(y * 42 + x).toDouble, s"($x,$y)")
  }

  test("BMP reads as (y, x, c) uint8 with bottom-up/BGR undone") {
    val bb = java.nio.ByteBuffer.allocate(54 + 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
    bb.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24).putInt(0)
    bb.putInt(16).putInt(0).putInt(0).putInt(0).putInt(0)
    bb.put(Array[Byte](1, 2, 3, 4, 5, 6, 0, 0))
    bb.put(Array[Byte](7, 8, 9, 10, 11, 12, 0, 0))
    val p = tempFile("img", ".bmp")
    java.nio.file.Files.write(p, bb.array())
    val img = Image2dIO.read(spark, p.toString)
    assert(img.meta.dims == Seq("y", "x", "c"))
    assert(img.meta.shape == Seq(2L, 2L, 3L))
    assert(img.meta.dtype == "uint8")
    assert(ChunkOps.toArray(img.chunks, img.meta).toSeq ==
      Seq[Double](9, 8, 7, 12, 11, 10, 3, 2, 1, 6, 5, 4))
  }

  test("PNG round-trips through the javax decode to exact pixels") {
    val w = 9; val h = 7
    val buf = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 29 + y * 13) % 256
      val g = (x * 7 + y * 3) % 256
      val b = (x + y * 31) % 256
      buf.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val p = tempFile("img", ".png")
    val os = java.nio.file.Files.newOutputStream(p)
    javax.imageio.ImageIO.write(buf, "png", os); os.close()
    val img = Image2dIO.read(spark, p.toString)
    assert(img.meta.shape == Seq(h.toLong, w.toLong, 3L))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (y <- 0 until h; x <- 0 until w) {
      val base = (y * w + x) * 3
      assert(got(base) == ((x * 29 + y * 13) % 256).toDouble, s"r($x,$y)")
      assert(got(base + 1) == ((x * 7 + y * 3) % 256).toDouble, s"g($x,$y)")
      assert(got(base + 2) == ((x + y * 31) % 256).toDouble, s"b($x,$y)")
    }
  }

  test("unrecognized payload refuses loudly") {
    val p = tempFile("junk", ".bmp")
    java.nio.file.Files.write(p, Array[Byte](1, 2, 3, 4))
    intercept[UnsupportedOperationException](Image2dIO.read(spark, p.toString))
  }

  private def writeGrayPng(dir: java.nio.file.Path, name: String, w: Int, h: Int,
      level: (Int, Int) => Int): Unit = {
    val buf = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = buf.getRaster
    for (y <- 0 until h; x <- 0 until w) raster.setSample(x, y, 0, level(x, y))
    val os = java.nio.file.Files.newOutputStream(dir.resolve(name))
    javax.imageio.ImageIO.write(buf, "png", os); os.close()
  }

  test("series glob stacks slices to (z, y, x) in sorted filename order") {
    val w = 5; val h = 4
    val dir = tempDir("series")
    // write out of order; the glob must stack sorted (s00, s01, s02)
    Seq(2, 0, 1).foreach { z =>
      writeGrayPng(dir, f"s$z%02d.png", w, h, (x, y) => (x * 3 + y * 7 + z * 31) % 256)
    }
    val img = Image2dIO.readSeries(spark, Seq(s"$dir/*.png"))
    assert(img.meta.dims == Seq("z", "y", "x"))
    assert(img.meta.shape == Seq(3L, h.toLong, w.toLong))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale == Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (z <- 0 until 3; y <- 0 until h; x <- 0 until w)
      assert(got((z * h + y) * w + x) == ((x * 3 + y * 7 + z * 31) % 256).toDouble,
        s"($z,$y,$x)")
  }

  test("explicit slice list keeps the caller's order; directory input stacks sorted") {
    val w = 3; val h = 2
    val dir = tempDir("series2")
    Seq(0, 1).foreach { z =>
      writeGrayPng(dir, s"a$z.png", w, h, (x, y) => z * 100 + y * w + x)
    }
    // reversed explicit list: slice a1 must land at z=0
    val rev = Image2dIO.readSeries(spark,
      Seq(s"$dir/a1.png", s"$dir/a0.png"))
    val got = ChunkOps.toArray(rev.chunks, rev.meta)
    assert(got(0) == 100.0 && got(h * w) == 0.0)
    // directory form behaves like the glob
    val fromDir = Image2dIO.readSeries(spark, Seq(dir.toString))
    assert(ChunkOps.toArray(fromDir.chunks, fromDir.meta)(0) == 0.0)
  }

  test("ragged series and empty globs refuse loudly") {
    val dir = tempDir("series3")
    writeGrayPng(dir, "s0.png", 4, 3, (x, y) => x + y)
    writeGrayPng(dir, "s1.png", 5, 3, (x, y) => x + y) // wrong width
    val ragged = Image2dIO.readSeries(spark, Seq(s"$dir/*.png"))
    intercept[org.apache.spark.SparkException] {
      ChunkOps.toArray(ragged.chunks, ragged.meta)
    }
    intercept[IllegalArgumentException] {
      Image2dIO.readSeries(spark, Seq(s"$dir/none_*.png"))
    }
  }
}
