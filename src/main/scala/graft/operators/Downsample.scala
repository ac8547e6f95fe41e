package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model._
import graft.meta.{Dtypes, ScalePlanner}
import graft.zarr.ZarrStore
import ChunkOps._

/** Distributed downsample operators over the chunk table — the
  * engine's computational core (SURVEY §2.3). One level-step:
  * `(previousLevel, dimFactors) → nextLevel`.
  *
  * Execution shapes:
  *  - bin-shrink / nearest: embarrassingly parallel `mapPartitions` —
  *    chunk-aligned factors mean no window ever crosses a chunk
  *    boundary (A10/A6/A13);
  *  - gaussian / mode / label-gaussian ([[Stencil]]): one exchange
  *    ([[ChunkOps.exchange]]) cuts the chunks against the planned
  *    grid's blocks, each extended by the kernel's margin, and groups
  *    the pieces by block; each block is assembled with its halo and
  *    the JVM kernel maps it — the Spark form of map_overlap with
  *    boundary="nearest" (A5/A7/A9/A12). The same exchange re-blocks
  *    to the planned grid, so the step has exactly one shuffle.
  *
  * For bin-shrink / nearest the input is rechunked first when a chunk
  * edge isn't divisible by its factor (`_align_chunks` parity) — the
  * only shuffle, skipped whenever factors divide chunks. A step is
  * built on the chunk RDD ([[stepRdd]]), so it only adds lineage: no
  * Spark job runs until an action pulls its output.
  */
object Downsample {

  /** Chunk edge for one dim: a multiple of the factor (alignment),
    * and for stencil methods large enough that EVERY chunk — the
    * ragged last one included — spans at least the kernel radius, so
    * a one-hop halo always carries true neighbor data instead of a
    * silently truncated kernel. Grows in factor steps; collapses to
    * a single chunk when the shape itself is small.
    */
  private def planChunk(shape: Long, chunk: Int, k: Int, radius: Int): Int = {
    var c = if (chunk % k == 0) chunk else chunk * k // _align_chunks rule
    if (c >= shape) return shape.toInt
    def ok(c: Int): Boolean = {
      val last = shape % c
      c >= radius && (last == 0 || last >= radius)
    }
    while (c < shape && !ok(c)) c += k
    math.min(c.toLong, shape).toInt
  }

  /** One downsample step. Returns the next level's metadata + chunks. */
  def step(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      dimFactors: Map[String, Int], method: Method): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val (outMeta, out) = stepRdd(ds.rdd, meta, dimFactors, method)
    (outMeta, spark.createDataset(out))
  }

  /** [[step]] over the chunk RDD: builds lineage only, so a cascade of
    * steps submits no job until an action pulls the last level.
    */
  private[operators] def stepRdd(rows: RDD[ChunkRow], meta: ImageMeta,
      dimFactors: Map[String, Int], method: Method): (ImageMeta, RDD[ChunkRow]) =
    stencil(meta, dimFactors, method) match {
      case Some(s) => (s.out, s.run(s.exchange(rows)))
      case None =>
        val factors = meta.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
        // re-block so factors divide chunk edges
        val targetChunks = meta.dims.indices.map(d =>
          planChunk(meta.shape(d), meta.chunks(d), factors(d), 0))
        val (m1, rows1) =
          if (targetChunks == meta.chunks) (meta, rows)
          else ChunkOps.rechunkRdd(rows, meta, targetChunks, partitioner(rows, meta.shape, targetChunks))
        val outMeta = downsampled(m1, dimFactors)
        val out = method match {
          case Method.ItkwasmBinShrink | Method.ItkBinShrink =>
            perChunk(rows1, m1, factors, outMeta)(NdKernels.binShrink(_, _, _,
              roundInt = isIntDtype(m1.dtype)))
          case Method.DaskImageNearest =>
            perChunk(rows1, m1, factors, outMeta)(NdKernels.nearest)
          case other => throw new IllegalStateException(s"non-stencil method $other")
        }
        (outMeta, out)
    }

  /** The stencil form of one step over `meta`, or None for the
    * chunk-local methods (bin-shrink, nearest).
    */
  private[operators] def stencil(meta: ImageMeta, dimFactors: Map[String, Int],
      method: Method): Option[Stencil] = {
    val factors = meta.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
    def sigma = factors.map(k => ScalePlanner.computeSigma(Seq(k)).head)
    val kernel: Option[(Array[Int], Kernel)] = method match {
      case Method.DaskImageMode =>
        Some((factors, (ext, extShape, outBlockShape, centerOff) =>
          NdKernels.modeCentered(ext, extShape, factors, outBlockShape, centerOff)))
      case Method.ItkwasmGaussian | Method.ItkGaussian | Method.DaskImageGaussian =>
        val s = sigma
        val truncate = ScalePlanner.getTruncate(meta.shape, s.toSeq)
        val radius = ScalePlanner.gaussianBorder(s.toSeq, truncate).toArray
        val roundInt = isIntDtype(meta.dtype)
        Some((radius, (ext, extShape, outBlockShape, centerOff) =>
          NdKernels.gaussianDownsample(ext, extShape, factors, s, radius,
            outBlockShape, centerOff, roundInt)))
      case Method.ItkwasmLabelImage =>
        val s = sigma
        val radius = ScalePlanner.kernelRadius(s.toSeq).toArray
        Some((radius, (ext, extShape, outBlockShape, centerOff) =>
          NdKernels.labelGaussianDownsample(ext, extShape, factors, s, radius,
            outBlockShape, centerOff)))
      case _ => None
    }
    kernel.map { case (radius, k) => plan(meta, factors, radius, downsampled(_, dimFactors), k) }
  }

  /** The next level's metadata: shape and chunk edges divided by the
    * factors, scale and translation per the reference.
    */
  private def downsampled(m1: ImageMeta, dimFactors: Map[String, Int]): ImageMeta = {
    val factors = m1.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
    val outShape = m1.shape.zip(factors).map { case (n, k) => n / k }
    val outChunks = m1.chunks.zip(factors).map { case (c, k) => math.max(1, c / k) }
    val (tr, sc) = ScalePlanner.nextScaleMetadata(m1, dimFactors)
    m1.copy(shape = outShape, chunks = outChunks, scale = sc, translation = tr)
  }

  /** A stencil kernel: (extended block, its shape, output block shape,
    * offset of the block's first voxel in the extended block) → the
    * output block.
    */
  private type Kernel = (Array[Double], Array[Int], Array[Int], Array[Int]) => Array[Double]

  /** A stencil step with kernel radius `radius`: re-block so every
    * chunk spans the radius (and factors divide chunk edges), and give
    * each block a margin of the radius, capped at the smallest chunk
    * edge so the halo comes from direct neighbors only.
    */
  private def plan(meta: ImageMeta, factors: Array[Int], radius: Array[Int],
      outMeta: ImageMeta => ImageMeta, kernel: Kernel): Stencil = {
    val in = meta.copy(chunks = meta.dims.indices.map(d =>
      planChunk(meta.shape(d), meta.chunks(d), factors(d), radius(d))))
    val grid = ZarrStore.chunkGrid(in.shape, in.chunks)
    val margin = in.dims.indices.map { d =>
      val lastChunk = (in.shape(d) - (grid(d) - 1).toLong * in.chunks(d)).toInt
      math.max(0, math.min(radius(d), math.min(in.chunks(d), lastChunk)))
    }
    new Stencil(in, outMeta(in), factors, margin, kernel)
  }

  /** A stencil step over `in`, whose chunks are the planned grid: each
    * block of that grid is read with `margin` voxels of its neighbors
    * on every side away from the image border, and the kernel maps it
    * to the output samples it owns in `out`.
    */
  private[operators] final class Stencil(val in: ImageMeta, val out: ImageMeta,
      factors: Array[Int], margin: Seq[Int], kernel: Kernel) extends Serializable {

    /** The step's one exchange: `rows` — the image's chunks on any grid
      * — cut against every block's extended box and grouped by block.
      */
    def exchange(rows: RDD[ChunkRow]): RDD[(String, Iterable[Piece])] =
      ChunkOps.exchange(rows, in, margin, partitioner(rows, in.shape, in.chunks))

    /** Each block of `in` without its halo, from an [[exchange]]. */
    def centers(ex: RDD[(String, Iterable[Piece])]): RDD[ChunkRow] = {
      val (shape, chunks, margin, dtype) = (in.shape, in.chunks, this.margin, in.dtype)
      ex.values.map(ChunkOps.center(_, shape, chunks, margin, dtype))
    }

    /** The kernel over each block of an [[exchange]], assembled with its
      * halo: the output samples the block owns, in `out.dtype`.
      */
    def run(ex: RDD[(String, Iterable[Piece])]): RDD[ChunkRow] = {
      val (shape, chunks, margin, dtype) = (in.shape, in.chunks, this.margin, in.dtype)
      val (factors, kernel, nOut, outDtype) = (this.factors, this.kernel, out.shape, out.dtype)
      ex.values.flatMap { ps =>
        val tIdx = ps.head.targetIdx
        val tShape = ZarrStore.chunkShapeAt(shape, chunks, tIdx)
        val tOrigin = ZarrStore.chunkOriginAt(chunks, tIdx)
        // samples owned by this block
        val outCount = Array.tabulate(shape.length) { d =>
          val k = factors(d)
          math.max(0L, math.min((tOrigin(d) + tShape(d)) / k, nOut(d)) - tOrigin(d) / k).toInt
        }
        if (outCount.contains(0)) None
        else {
          val (ext, extShape, lh) = ChunkOps.assembleExtended(ps, shape, chunks, margin, dtype)
          // sample j maps to extended position lh + j*k
          val block = kernel(ext, extShape, outCount, lh)
          Some(ChunkRow(
            tIdx,
            tOrigin.zipWithIndex.map { case (o, d) => o / factors(d) },
            outCount.toSeq,
            // output dtype can widen (Sobel emits squared gradients
            // far beyond a uint8 input's range)
            ZarrStore.encodeFromDoubles(block, outDtype)))
        }
      }
    }
  }

  /** A re-block's partitioner: at least the default parallelism (or
    * the input's partition count) and at most one partition per block.
    */
  private def partitioner(rows: RDD[ChunkRow], shape: Seq[Long],
      chunks: Seq[Int]): HashPartitioner = {
    val grid = ZarrStore.chunkGrid(shape, chunks).map(_.toLong).product
    new HashPartitioner(math.max(1, math.min(grid,
      math.max(rows.getNumPartitions, rows.sparkContext.defaultParallelism).toLong).toInt))
  }

  def isIntDtype(dtype: String): Boolean =
    !Set("float16", "float32", "float64", "complex64", "complex128")(Dtypes.normalize(dtype))

  /** Nearest-neighbor UPSAMPLE by integer factors — the inverse
    * direction of the pyramid: projecting a low-resolution label mask
    * or score map back onto full resolution. Perfectly chunk-local
    * (every output chunk derives from exactly its own input chunk —
    * indices preserved, origins/shapes scaled), so the plan has ZERO
    * shuffles at any volume. Metadata follows the pyramid convention
    * in reverse: scale divides by k and translation shifts by
    * −(k−1)/2·scale_out so the k children straddle their parent's
    * physical center symmetrically.
    */
  def upsampleNearest(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      dimFactors: Map[String, Int]): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val factors = meta.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
    require(factors.forall(_ >= 1), s"factors must be >= 1: ${factors.mkString(",")}")
    val outMeta = meta.copy(
      shape = meta.shape.zip(factors).map { case (n, k) => n * k },
      chunks = meta.chunks.zip(factors).map { case (c, k) => c * k },
      scale = meta.dims.zipWithIndex.map { case (d, i) =>
        d -> meta.scale(d) / factors(i)
      }.toMap,
      translation = meta.dims.zipWithIndex.map { case (d, i) =>
        val scaleOut = meta.scale(d) / factors(i)
        d -> (meta.translation(d) - (factors(i) - 1) * scaleOut / 2.0)
      }.toMap)
    val dtype = meta.dtype
    val out = ds.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val up = NdKernels.upsampleNearest(vals, c.shape.toArray, factors)
      ChunkRow(c.chunkIdx,
        c.origin.zip(factors).map { case (o, k) => o * k },
        c.shape.zip(factors).map { case (s0, k) => s0 * k },
        ZarrStore.encodeFromDoubles(up, dtype))
    }
    (outMeta, out)
  }

  /** Morphological erosion (min) / dilation (max) over a ±radius box
    * — the mask clean-up pass (opening = erode∘dilate) upstream of
    * the CCL surface. Same scale shape as the gaussian path: ONE
    * exchange re-blocks the chunks and brings each block its halo;
    * factors are all 1 so shape, scale and translation are unchanged.
    * Border rule is neighborhood∩image (ext-bounds clipping — interior
    * chunk boundaries always carry a full-radius halo, so clipping
    * only happens at true image borders).
    */
  def morphology(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      radius: Array[Int], dilate: Boolean): (ImageMeta, Dataset[ChunkRow]) = {
    require(radius.length == meta.dims.length,
      s"radius arity ${radius.length} != dims ${meta.dims.length}")
    require(radius.forall(_ >= 0), s"negative radius: ${radius.mkString(",")}")
    fullResStencil(spark, ds, meta, radius, meta.dtype) {
      (ext, extShape, outBlockShape, centerOff) =>
        NdKernels.minMaxFilter(ext, extShape, radius, outBlockShape, centerOff, dilate)
    }
  }

  /** Squared Sobel gradient magnitude (edge strength) at full
    * resolution — the classic feature pass upstream of thresholding
    * / quality scoring. Same scale shape as morphology: one exchange
    * re-blocks to 1-halo-capable chunks, each with a 1-pixel halo;
    * output dtype widens to int32 (gx²+gy² ≤ 2·(4·255)² for uint8
    * input — exact integers end-to-end). True image borders emit 0
    * (no 3×3 support); see [[NdKernels.sobelSq2d]].
    */
  def sobelSq(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta)
      : (ImageMeta, Dataset[ChunkRow]) = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    require(isIntDtype(meta.dtype),
      s"sobelSq keeps exact integer gradients — integral dtypes only, got ${meta.dtype}")
    fullResStencil(spark, ds, meta, Array(1, 1), "int32") {
      (ext, extShape, outBlockShape, centerOff) =>
        NdKernels.sobelSq2d(ext, extShape, outBlockShape, centerOff)
    }
  }

  /** 3×3 median denoise at full resolution — the standard
    * salt-and-pepper cleanup upstream of thresholding / downsampling.
    * Same scale shape as [[sobelSq]]: one exchange re-blocks to
    * 1-halo-capable chunks, each with a 1-pixel halo.
    * Median of 9 integral values IS one of them, so the dtype is
    * preserved and every output value exact; true image borders pass
    * through unchanged (see [[NdKernels.medianFilter2d]]).
    */
  def medianFilter(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta)
      : (ImageMeta, Dataset[ChunkRow]) = {
    require(meta.dims == Seq("y", "x") || meta.dims == Seq("z", "y", "x"),
      s"2D/3D entry point, got ${meta.dims}")
    require(isIntDtype(meta.dtype),
      s"medianFilter keeps exact integer medians — integral dtypes only, got ${meta.dtype}")
    fullResStencil(spark, ds, meta, Array.fill(meta.dims.length)(1), meta.dtype) {
      (ext, extShape, outBlockShape, centerOff) =>
        NdKernels.medianFilterNd(ext, extShape, outBlockShape, centerOff)
    }
  }

  /** Adaptive (local-mean) threshold — Bradley/skimage
    * `threshold_local(mean)` with partial-window renormalization at
    * the image border: pixel (y,x) is foreground iff
    * (v + c) · |W| > Σ_W v over its (2r+1)² window clipped to the
    * image, all in exact integer arithmetic (the mean is never
    * materialized as a float). Same scale shape as [[morphology]]:
    * one exchange re-blocks to r-halo-capable chunks, each with an
    * r-pixel halo. Output is a uint8 0/1 mask.
    */
  def adaptiveThreshold(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      radius: Int, c: Long = 0L): (ImageMeta, Dataset[ChunkRow]) = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    require(isIntDtype(meta.dtype),
      s"adaptiveThreshold compares exact integer window sums — integral dtypes only, got ${meta.dtype}")
    require(radius >= 1, s"radius must be >= 1, got $radius")
    fullResStencil(spark, ds, meta, Array(radius, radius), "uint8") {
      (ext, extShape, outBlockShape, centerOff) =>
        NdKernels.adaptiveThreshold2d(ext, extShape, outBlockShape, centerOff, radius, c)
    }
  }

  /** A full-resolution (factor 1) stencil filter: one exchange
    * re-blocks so every chunk spans `radius` and brings each block its
    * halo; the output keeps the re-blocked grid and takes `outDtype`.
    */
  private def fullResStencil(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      radius: Array[Int], outDtype: String)(kernel: Kernel): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val s = plan(meta, Array.fill(radius.length)(1), radius, _.copy(dtype = outDtype), kernel)
    (s.out, spark.createDataset(s.run(s.exchange(ds.rdd))))
  }

  /** No-halo path: kernel maps each chunk independently. */
  private def perChunk(rows: RDD[ChunkRow], meta: ImageMeta,
      factors: Array[Int], outMeta: ImageMeta)(
      kernel: (Array[Double], Array[Int], Array[Int]) => (Array[Double], Array[Int]))
      : RDD[ChunkRow] = {
    val dtype = meta.dtype
    val nOut = outMeta.shape
    rows.mapPartitions(_.flatMap { chunk =>
      val vals = ZarrStore.decodeToDoubles(chunk.data, dtype)
      // samples this chunk owns: from origin/k, clipped to global floor(n/k)
      val outCount = chunk.shape.indices.map { d =>
        val k = factors(d)
        math.max(0L, math.min((chunk.origin(d) + chunk.shape(d)) / k, nOut(d)) - chunk.origin(d) / k).toInt
      }
      if (outCount.contains(0)) None
      else {
        val (block, blockShape0) = kernel(vals, chunk.shape.toArray, factors)
        // clip kernel output (floor(cs/k)) to the globally-owned count
        val clipped =
          if (blockShape0.toSeq == outCount) block
          else ChunkOps.sliceBlock(block, blockShape0, Array.fill(factors.length)(0), outCount.toArray)
        Some(ChunkRow(
          chunk.chunkIdx,
          chunk.origin.zipWithIndex.map { case (o, d) => o / factors(d) },
          outCount,
          ZarrStore.encodeFromDoubles(clipped, dtype)))
      }
    })
  }
}
