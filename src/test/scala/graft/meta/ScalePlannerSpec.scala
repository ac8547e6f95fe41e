package graft.meta

import org.scalatest.funsuite.AnyFunSuite
import graft.meta.Model._

/** Golden tests ported from the reference's parametrized expectations
  * (ngff-zarr `py/test/test_ngff_image_scale_factors.py:11-65`) plus
  * the pyramid physical-extent invariant
  * (`py/test/test_pyramid_integrity.py:7-36`).
  */
class ScalePlannerSpec extends AnyFunSuite {

  private def img(shape: Seq[Long], dims: Seq[String], chunks: Seq[Int]): ImageMeta =
    ImageMeta(dims, shape, chunks, "float32",
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)

  test("scale factors: (30,30) chunk 64 → no levels") {
    val i = img(Seq(30, 30), Seq("y", "x"), Seq(64, 64))
    assert(ScalePlanner.scaleFactors(i, 64, Map("y" -> 64, "x" -> 64)) == Seq.empty)
  }

  test("scale factors: (520,520) chunk 64 → x/y 2,4,8") {
    val i = img(Seq(520, 520), Seq("y", "x"), Seq(64, 64))
    val got = ScalePlanner.scaleFactors(i, 64, Map("y" -> 64, "x" -> 64))
    assert(got == Seq(
      Map("x" -> 2, "y" -> 2), Map("x" -> 4, "y" -> 4), Map("x" -> 8, "y" -> 8)))
  }

  test("scale factors: (10,530,530) chunk 64 → x/y scale, z stays 1") {
    val i = img(Seq(10, 530, 530), Seq("z", "y", "x"), Seq(64, 64, 64))
    val got = ScalePlanner.scaleFactors(i, 64, Map("z" -> 64, "y" -> 64, "x" -> 64))
    assert(got == Seq(
      Map("x" -> 2, "y" -> 2, "z" -> 1),
      Map("x" -> 4, "y" -> 4, "z" -> 1),
      Map("x" -> 8, "y" -> 8, "z" -> 1)))
  }

  test("scale factors with chunk shape (1,30,1024,1024) chunks (1,30,65,65)") {
    val i = img(Seq(1, 30, 1024, 1024), Seq("t", "z", "y", "x"), Seq(1, 30, 65, 65))
    val got = ScalePlanner.scaleFactors(i, 65,
      Map("t" -> 1, "z" -> 30, "y" -> 65, "x" -> 65))
    assert(got == Seq(
      Map("x" -> 2, "y" -> 2, "z" -> 1),
      Map("x" -> 4, "y" -> 4, "z" -> 1),
      Map("x" -> 8, "y" -> 8, "z" -> 1)))
  }

  test("scale factors with chunk shape (1,125,1024,1024) chunks (1,50,51,50)") {
    val i = img(Seq(1, 125, 1024, 1024), Seq("t", "z", "y", "x"), Seq(1, 50, 51, 50))
    val got = ScalePlanner.scaleFactors(i, 51,
      Map("t" -> 1, "z" -> 50, "y" -> 51, "x" -> 50))
    assert(got == Seq(
      Map("x" -> 2, "y" -> 2, "z" -> 1),
      Map("x" -> 4, "y" -> 4, "z" -> 1),
      Map("x" -> 8, "y" -> 8, "z" -> 1),
      Map("x" -> 16, "y" -> 16, "z" -> 2)))
  }

  test("dim scale factors: absolute → incremental") {
    val dims = Seq("t", "z", "y", "x")
    val prev = Map("z" -> 1, "y" -> 2, "x" -> 2)
    val got = ScalePlanner.dimScaleFactors(dims, Right(Map("z" -> 1, "y" -> 4, "x" -> 4)), prev)
    assert(got == Map("z" -> 1, "y" -> 2, "x" -> 2, "t" -> 1))
  }

  test("sigma: shrink 1 → 0; shrink 2 matches scale-space formula") {
    val s = ScalePlanner.computeSigma(Seq(1, 2))
    assert(s.head == 0.0)
    val expected = math.sqrt(3.0 / math.pow(2 * math.sqrt(2 * math.log(2)), 2))
    assert(math.abs(s(1) - expected) < 1e-12)
  }

  test("truncate shrinks until border fits image") {
    // tiny image, big sigma → truncate steps down from 4.0
    val t = ScalePlanner.getTruncate(Seq(8, 8), Seq(3.0, 3.0))
    assert(t < 4.0 && t > 0.0)
    assert(ScalePlanner.gaussianBorder(Seq(3.0, 3.0), t).forall(_ <= 8))
    // large image keeps full truncation
    assert(ScalePlanner.getTruncate(Seq(512, 512), Seq(0.9, 0.9)) == 4.0)
  }

  test("next-scale metadata: scale multiplies, translation shifts half-pixel") {
    val i = ImageMeta(Seq("y", "x"), Seq(512, 512), Seq(64, 64), "float32",
      Map("y" -> 0.25, "x" -> 0.25), Map("y" -> 1.0, "x" -> 1.0))
    val (tr, sc) = ScalePlanner.nextScaleMetadata(i, Map("y" -> 2, "x" -> 2))
    assert(sc == Map("y" -> 0.5, "x" -> 0.5))
    assert(tr == Map("y" -> 1.125, "x" -> 1.125))
  }

  test("pyramid invariant: every level spans the same physical extent") {
    // d·s0 == scale_i · shape_i for the cascade (test_pyramid_integrity.py)
    val dims = Seq("y", "x")
    var shape = Seq(512L, 512L)
    var scale = Map("y" -> 0.25, "x" -> 0.25)
    val extent = Seq(512 * 0.25, 512 * 0.25)
    for (k <- Seq(2, 2, 2, 2, 2)) { // cumulative 2,4,8,16,32
      shape = shape.map(_ / k)
      scale = scale.map { case (d, s) => d -> s * k }
      val spans = dims.zip(shape).map { case (d, n) => n * scale(d) }
      assert(spans == extent, s"extent drifted at factor $k")
    }
  }
}
