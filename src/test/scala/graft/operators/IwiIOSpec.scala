package graft.operators

import graft.SparkSpec
import graft.meta.Model

/** IwiIO against committed fixtures from `tools/make_iwi_fixture.py` —
  * written by an independent pure-Python CBOR encoder, same shared
  * synthetic volume as the NRRD/MetaImage/MGH cells so values must
  * agree bit-for-bit across container families. Plus the zstd frame
  * round-trip, the large-payload positioned-read path, vector-pixel
  * interleave, and the refuse-loudly branches.
  */
class IwiIOSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures/vol"
  private val NX = 6; private val NY = 5; private val NZ = 4

  /** C-order expectation over dims (x,y,z): v = (7x + 11y + 13z) % 200. */
  private def expected: Seq[Double] =
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ)
      yield ((x * 7 + y * 11 + z * 13) % 200).toDouble

  private def values(img: VolumeFormats.VolumeImage): Seq[Double] =
    ChunkOps.toArray(img.chunks, img.meta).toSeq

  test("iwi.cbor uint8: spacing/origin/orientations and voxel parity") {
    val img = IwiIO.read(spark, s"$fx/vol.iwi.cbor")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.name == "fixture")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    // reference parity: fixed ITK LPS anatomical orientations
    assert(img.meta.axesOrientations == Map(
      "x" -> Model.LpsOrientation("x"), "y" -> Model.LpsOrientation("y"),
      "z" -> Model.LpsOrientation("z")))
    assert(values(img) == expected)
  }

  test("iwi.cbor int16 big-endian tag in an indefinite-length root map") {
    val img = IwiIO.read(spark, s"$fx/vol_be.iwi.cbor")
    assert(img.meta.dtype == "int16")
    assert(values(img) == expected)
  }

  test("iwi.cbor 3-component vector image: leading c dim, interleave preserved") {
    val img = IwiIO.read(spark, s"$fx/vol_rgb.iwi.cbor")
    assert(img.meta.dims == Seq("c", "x", "y", "z"))
    assert(img.meta.shape == Seq(3L, NX, NY, NZ))
    assert(img.meta.scale("c") == 1.0)
    val got = values(img)
    // c is the outer dim in C order: channel planes of the volume
    val base = expected
    assert(got.slice(0, base.length) == base)
    assert(got.slice(base.length, 2 * base.length) == base.map(v => (v + 40) % 200))
    assert(got.slice(2 * base.length, 3 * base.length) == base.map(v => (v + 80) % 200))
  }

  test("iwi directory form: index.json + raw payloads, distributed read") {
    val img = IwiIO.read(spark, s"$fx/vol.iwi")
    assert(img.meta.dtype == "float32")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(values(img) == expected)
  }

  test("iwi.cbor.zst round-trip through the zstd frame") {
    val vals = expected.toArray
    val framed = IwiIO.encodeIwiCborZst(Seq(NX, NY, NZ), Seq(1.5, 2.5, 3.5),
      Seq(10.0, 20.0, 30.0), "uint8", fortranOf(vals))
    val p = tempDir("iwi").resolve("vol.iwi.cbor.zst")
    java.nio.file.Files.write(p, framed)
    val img = IwiIO.read(spark, p.toString)
    assert(img.meta.dtype == "uint8")
    assert(values(img) == expected)
  }

  test("large payload takes the in-place positioned-read path") {
    // 112³ uint16 = 2.8 MB > the 1 MiB ref threshold: the data byte
    // string must never materialize on the driver during the parse
    val n = 112
    val fvals = Array.tabulate(n * n * n) { f =>
      val x = f % n; val y = (f / n) % n; val z = f / (n * n)
      ((x * 3 + y * 5 + z * 7) % 1000).toDouble
    }
    val bytes = IwiIO.encodeIwiCbor(Seq(n, n, n), Seq(1, 1, 1), Seq(0, 0, 0),
      "uint16", fvals)
    val doc = graft.meta.Cbor.decodeWithRefs(bytes, 1 << 20)
    val dataV = doc.asInstanceOf[graft.meta.Cbor.CMap].get("data").get
    assert(dataV.asInstanceOf[graft.meta.Cbor.CTag].v
      .isInstanceOf[graft.meta.Cbor.CBytesRef])
    val p = tempDir("iwi").resolve("big.iwi.cbor")
    java.nio.file.Files.write(p, bytes)
    val img = IwiIO.read(spark, p.toString)
    assert(img.meta.shape == Seq(n.toLong, n, n))
    // spot-check a corner chunk plus the full checksum
    val got = ChunkOps.toArray(img.chunks, img.meta)
    assert(got.sum == fvalsCSum(fvals, n))
    assert(got(0) == 0.0)
  }

  test("writer round-trips: encodeIwiCbor -> read equals the source") {
    val vals = expected.toArray
    val bytes = IwiIO.encodeIwiCbor(Seq(NX, NY, NZ), Seq(1.5, 2.5, 3.5),
      Seq(10.0, 20.0, 30.0), "int32", fortranOf(vals), name = "rt")
    val p = tempDir("iwi").resolve("rt.iwi.cbor")
    java.nio.file.Files.write(p, bytes)
    val img = IwiIO.read(spark, p.toString)
    assert(img.meta.name == "rt")
    assert(img.meta.dtype == "int32")
    assert(values(img) == expected)
  }

  test("refuse-loudly: float128 tag, payload mismatch, type mismatch") {
    import graft.meta.Cbor
    import graft.meta.Cbor._
    def doc(dataEntry: Value, compType: String = "uint8"): Array[Byte] =
      Cbor.encode(CMap(Vector(
        CText("imageType") -> CMap(Vector(
          CText("dimension") -> CInt(1), CText("componentType") -> CText(compType),
          CText("pixelType") -> CText("Scalar"), CText("components") -> CInt(1))),
        CText("origin") -> CArray(Vector(CFloat(0))),
        CText("spacing") -> CArray(Vector(CFloat(1))),
        CText("size") -> CArray(Vector(CInt(2))),
        CText("data") -> dataEntry)))
    def readOf(bytes: Array[Byte]): Unit = {
      val p = tempDir("iwi").resolve("bad.iwi.cbor")
      java.nio.file.Files.write(p, bytes)
      IwiIO.read(spark, p.toString)
    }
    val e1 = intercept[IllegalArgumentException](
      readOf(doc(CTag(87, CBytes(Array.fill[Byte](32)(0))))))
    assert(e1.getMessage.contains("unsupported typed-array tag"))
    val e2 = intercept[IllegalArgumentException](
      readOf(doc(CTag(64, CBytes(Array[Byte](1, 2, 3))))))
    assert(e2.getMessage.contains("voxel payload"))
    val e3 = intercept[IllegalArgumentException](
      readOf(doc(CTag(77, CBytes(Array[Byte](1, 0, 2, 0))), compType = "uint8")))
    assert(e3.getMessage.contains("!= componentType"))
    val e4 = intercept[UnsupportedOperationException](
      IwiIO.read(spark, "/tmp/not-an-iwi.nrrd"))
    assert(e4.getMessage.contains("not an itk-wasm image container"))
  }

  /** Reorder a C-order (x,y,z) expectation into the Fortran
    * (x-fastest) order the encoders take.
    */
  private def fortranOf(cOrder: Array[Double]): Array[Double] = {
    val out = new Array[Double](cOrder.length)
    var i = 0
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ) {
      out(x + y * NX + z * NX * NY) = cOrder(i); i += 1
    }
    out
  }

  private def fvalsCSum(fvals: Array[Double], n: Int): Double = fvals.sum
}
