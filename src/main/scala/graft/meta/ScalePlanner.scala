package graft.meta

import graft.meta.Model._

/** Driver-side pure planning math for multiscale pyramids: the
  * scale-factor cascade, per-level incremental factors, anti-alias
  * sigma, kernel radii and next-scale metadata.
  *
  * Semantics mirror the reference exactly (golden-tested against its
  * parametrized expectations): `_ngff_image_scale_factors`
  * (ngff-zarr `py/ngff_zarr/to_multiscales.py:45-79`),
  * `_dim_scale_factors` / `_update_previous_dim_factors` / sigma /
  * next-scale (`py/ngff_zarr/methods/_support.py:107-230`), truncate
  * search (`py/ngff_zarr/methods/_dask_image.py:68-104`).
  */
object ScalePlanner {

  /** A1 — plan absolute per-level scale factors: halve every spatial
    * dim that is (a) not already ≤ half the current max size and
    * (b) still ≥ 2× its chunk, until all spatial dims ≤ 2× chunk or
    * the remaining volume is too small for statistics.
    */
  def scaleFactors(image: ImageMeta, minLength: Int,
      outChunks: Map[String, Int]): Seq[Map[String, Int]] = {
    require(image.dims.toSet.subsetOf(outChunks.keySet),
      s"${image.dims} not covered by ${outChunks.keys}")
    val spatial = image.dims.filter(SpatialDims.contains)
    val sizes = scala.collection.mutable.LinkedHashMap(
      image.dims.zip(image.shape).filter(p => SpatialDims.contains(p._1)): _*)
    val doubleChunks = spatial.map(d => 2L * outChunks(d))
    var previous: Map[String, Int] = spatial.map(_ -> 1).toMap
    val out = Seq.newBuilder[Map[String, Int]]
    var done = false
    while (!done && sizes.values.zip(doubleChunks).exists { case (s, dc) => s > dc }) {
      val maxSize = sizes.values.max
      val factor = spatial.map { d =>
        val skip = sizes(d) <= maxSize / 2.0 || sizes(d) / 2.0 < outChunks(d)
        if (skip) d -> previous(d)
        else {
          sizes(d) = (sizes(d) / 2.0).toLong // int(x/2) truncation, matches reference
          d -> 2 * previous(d)
        }
      }.toMap
      if (sizes.values.product.toDouble / minLength < 2 || factor == previous) done = true
      else {
        out += factor
        previous = factor
      }
    }
    out.result()
  }

  /** A2 — absolute → incremental factors for one level; non-spatial
    * dims fill with 1.
    */
  def dimScaleFactors(dims: Seq[String], scaleFactor: Either[Int, Map[String, Int]],
      previousDimFactors: Map[String, Int]): Map[String, Int] = scaleFactor match {
    case Left(k) =>
      dims.filter(SpatialDims.contains).map(d => d -> k / previousDimFactors(d)).toMap
    case Right(m) =>
      val r = m.map { case (d, f) => d -> f / previousDimFactors(d) }
      r ++ dims.filterNot(r.contains).map(_ -> 1)
  }

  /** A2 — carry absolute factors forward to the next level. */
  def updatePreviousDimFactors(scaleFactor: Either[Int, Map[String, Int]],
      spatialDims: Seq[String], previous: Map[String, Int]): Map[String, Int] =
    scaleFactor match {
      case Left(k) => previous ++ spatialDims.map(_ -> k)
      case Right(m) => previous ++ m
    }

  /** A3 — scale-space anti-aliasing sigma per shrink factor:
    * sigma = sqrt((k² − 1) / (2·sqrt(2·ln 2))²).
    */
  def computeSigma(shrinkFactors: Seq[Int]): Seq[Double] = {
    val denominator = math.pow(2 * math.sqrt(2 * math.log(2)), 2)
    shrinkFactors.map(k => math.sqrt((k.toDouble * k - 1) / denominator))
  }

  /** dask_image's border (kernel radius) per axis:
    * radius = int(truncate·sigma + 0.5).
    */
  def gaussianBorder(sigma: Seq[Double], truncate: Double): Seq[Int] =
    sigma.map(s => (truncate * s + 0.5).toInt)

  /** A4 — shrink truncation (4.0, step −0.5) until the kernel border
    * fits inside the image along every axis.
    */
  def getTruncate(shape: Seq[Long], sigma: Seq[Double], truncateStart: Double = 4.0): Double = {
    var truncate = truncateStart
    var border = gaussianBorder(sigma, truncate)
    while (border.zip(shape).exists { case (b, s) => b > s } && truncate > 0.0) {
      truncate -= 0.5
      if (truncate > 0.0) border = gaussianBorder(sigma, truncate)
    }
    truncate
  }

  /** A12-flavored kernel radius: sampled-Gaussian radius capped at the
    * reference's max width 32 (`methods/_itk.py:25-33`); error bound
    * approximated by the truncate·sigma rule.
    */
  def kernelRadius(sigma: Seq[Double], maxKernelWidth: Int = 32): Seq[Int] =
    gaussianBorder(sigma, 4.0).map(r => math.min(r, maxKernelWidth / 2))

  /** A14 — next-scale metadata: scale' = scale·k;
    * translation' = translation + 0.5·(k−1)·scale (half-pixel shift).
    */
  def nextScaleMetadata(image: ImageMeta, dimFactors: Map[String, Int])
      : (Map[String, Double], Map[String, Double]) = {
    val scale = image.dims.flatMap { d =>
      if (SpatialDims.contains(d)) Some(d -> image.scale(d) * dimFactors(d))
      else image.scale.get(d).map(d -> _)
    }.toMap
    val translation = image.dims.flatMap { d =>
      if (SpatialDims.contains(d))
        Some(d -> (image.translation(d) + 0.5 * (dimFactors(d) - 1) * image.scale(d)))
      else image.translation.get(d).map(d -> _)
    }.toMap
    (translation, scale)
  }
}
