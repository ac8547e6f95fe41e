package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import graft.operators.NiftiIO

/** S10 — NIfTI-1 ingestion against committed fixtures written by
  * `tools/make_nifti_fixture.py` (pure-stdlib NIfTI-1 bytes). The
  * expected voxel values replay the generator's formulas; spatial
  * metadata expectations follow the reference nibabel path
  * (`py/ngff_zarr/nibabel_image_to_ngff_image.py`): scale from affine
  * column norms, translation from the last column, scl rescale to
  * float32, cal_min/cal_max → OMERO window, RAS orientation codes.
  */
class NiftiIOSpec extends SparkSpec {

  private val fx = "src/test/resources/fixtures"

  test("anat.nii.gz: scl rescale to float32, sform scale/translation, omero") {
    val img = NiftiIO.read(spark, s"$fx/anat.nii.gz")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(7L, 6L, 5L))
    assert(img.meta.dtype == "float32") // scl_slope=2, inter=10 forces rescale
    assert(img.meta.scale == Map("x" -> 2.0, "y" -> 3.0, "z" -> 4.0))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> -5.0, "z" -> 2.5))

    val got = ChunkOps.toArray(img.chunks, img.meta)
    // C-order over dims (x,y,z); raw v = (i + 10j + 100k) % 120 - 20, scaled 2v+10
    for (i <- 0 until 7; j <- 0 until 6; k <- 0 until 5) {
      val raw = (i + 10 * j + 100 * k) % 120 - 20
      val expect = (raw * 2.0 + 10.0).toFloat.toDouble
      val cIdx = (i * 6 + j) * 5 + k
      assert(got(cIdx) == expect, s"($i,$j,$k)")
    }

    // identity orientation → RAS positive codes
    assert(img.orientations == Map(
      "x" -> AnatomicalOrientation("anatomical", "left-to-right"),
      "y" -> AnatomicalOrientation("anatomical", "posterior-to-anterior"),
      "z" -> AnatomicalOrientation("anatomical", "inferior-to-superior")))

    // omero: start/end = cal bounds, min/max = data extrema (post-scale)
    val w = img.omero.get.channels.head.window
    assert(w.start == 5.0 && w.end == 50.0)
    val lo = got.min; val hi = got.max
    assert(w.min == lo && w.max == hi)
  }

  test("anat2.nii.gz (NIfTI-2): identical image to its NIfTI-1 twin") {
    val v1 = NiftiIO.read(spark, s"$fx/anat.nii.gz")
    val v2 = NiftiIO.read(spark, s"$fx/anat2.nii.gz")
    // the 540-byte header carries the same logical record — dims,
    // dtype, affine decomposition, scaling and calibration must all
    // agree with the NIfTI-1 twin
    assert(v2.meta == v1.meta)
    assert(v2.orientations == v1.orientations)
    assert(v2.omero == v1.omero)
    assert(ChunkOps.toArray(v2.chunks, v2.meta).toSeq
      == ChunkOps.toArray(v1.chunks, v1.meta).toSeq)
  }

  test("ident.nii: raw dtype preserved, pixdim spacing, distributed range reads") {
    val img = NiftiIO.read(spark, s"$fx/ident.nii", chunkShape = Some(Seq(5, 3, 2)))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 1.0, "z" -> 1.0))
    assert(img.meta.translation == Map("x" -> 0.0, "y" -> 0.0, "z" -> 0.0))
    assert(img.omero.isEmpty)
    // 16x8x4 at chunk (5,3,2) → grid (4,3,2) = 24 chunks, edge chunks ragged
    assert(img.chunks.count() == 24)
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (i <- 0 until 16; j <- 0 until 8; k <- 0 until 4) {
      val cIdx = (i * 8 + j) * 4 + k
      assert(got(cIdx) == ((i + 2 * j + 3 * k) % 256).toDouble, s"($i,$j,$k)")
    }
  }

  test("perm.nii: 4D dims x,y,z,t and flipped-x orientation") {
    val img = NiftiIO.read(spark, s"$fx/perm.nii")
    assert(img.meta.dims == Seq("x", "y", "z", "t"))
    assert(img.meta.shape == Seq(4L, 3L, 2L, 2L))
    assert(img.meta.dtype == "float32")
    // column norms: |-2|, 2, 2; t gets 1.0
    assert(img.meta.scale == Map("x" -> 2.0, "y" -> 2.0, "z" -> 2.0, "t" -> 1.0))
    assert(img.meta.translation("x") == 8.0)
    assert(img.orientations("x") == AnatomicalOrientation("anatomical", "right-to-left"))
    assert(img.orientations("y") == AnatomicalOrientation("anatomical", "posterior-to-anterior"))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (i <- 0 until 4; j <- 0 until 3; k <- 0 until 2; t <- 0 until 2) {
      val cIdx = ((i * 3 + j) * 2 + k) * 2 + t
      val expect = (i - j + 0.5 * k + 10.0 * t).toFloat.toDouble
      assert(got(cIdx) == expect, s"($i,$j,$k,$t)")
    }
  }

  test("Analyze 7.5 .hdr/.img pair: blank magic, pixdim spacing, .img payload") {
    val img = NiftiIO.read(spark, s"$fx/pair.hdr")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(6L, 5L, 4L))
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.translation == Map("x" -> 0.0, "y" -> 0.0, "z" -> 0.0))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (x <- 0 until 6; y <- 0 until 5; z <- 0 until 4)
      assert(got((x * 5 + y) * 4 + z) == ((x * 7 + y * 11 + z * 13) % 200).toDouble,
        s"($x,$y,$z)")
  }

  test("NIfTI-1 ni1 pair: sform affine from .hdr, gzipped .img.gz payload") {
    val img = NiftiIO.read(spark, s"$fx/pair_n1.hdr")
    assert(img.meta.dtype == "int16")
    assert(img.meta.scale == Map("x" -> 2.0, "y" -> 3.0, "z" -> 4.0))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> -5.0, "z" -> 2.5))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    for (x <- 0 until 6; y <- 0 until 5; z <- 0 until 4)
      assert(got((x * 5 + y) * 4 + z) == ((x * 7 + y * 11 + z * 13) % 200).toDouble,
        s"($x,$y,$z)")
  }

  test("a bare .nii with Analyze-blank magic still refuses") {
    val raw = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/pair.hdr"))
    val p = tempFile("blank", ".nii")
    java.nio.file.Files.write(p, raw ++ new Array[Byte](6 * 5 * 4 * 2))
    val e = intercept[IllegalArgumentException](NiftiIO.read(spark, p.toString))
    assert(e.getMessage.contains("magic"))
  }

  test(".hdr without a sibling payload refuses with a precise error") {
    val dir = tempDir("lonehdr")
    val p = dir.resolve("lone.hdr")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$fx/pair.hdr"), p)
    val e = intercept[IllegalArgumentException](NiftiIO.read(spark, p.toString))
    assert(e.getMessage.contains(".img"))
  }

  test("NIfTI image feeds the pyramid + OME-Zarr write path end-to-end") {
    val img = NiftiIO.read(spark, s"$fx/ident.nii")
    val base = MultiscaleBuilder.Level(img.meta, img.chunks)
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("x" -> 2, "y" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("nifti2zarr").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4", compressor = Some("blosc"))
    val back = OmeZarrIO.readMultiscales(spark, dir, validate = true)
    assert(back.levels.head.meta.shape == Seq(16L, 8L, 4L))
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == ChunkOps.toArray(img.chunks, img.meta).toSeq)
  }

  test("header errors: bad magic, bad sizeof_hdr, unsupported datatype") {
    val ok = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/ident.nii"))
    val badMagic = ok.clone(); badMagic(344) = 'x'.toByte
    intercept[IllegalArgumentException](NiftiIO.parseHeader(badMagic))
    val badSize = ok.clone(); badSize(0) = 7
    intercept[IllegalArgumentException](NiftiIO.parseHeader(badSize))
    assert(NiftiIO.dtypeName(16) == "float32")
    intercept[UnsupportedOperationException](NiftiIO.dtypeName(128)) // RGB24
  }
}
