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
  *  - gaussian / mode / label-gaussian: the chunks are re-blocked and
  *    pinned on a hash partitioner by their key, halo strips
  *    `partitionBy` the same partitioner, and `zipPartitions` runs the
  *    JVM kernel over each chunk plus its halos — the Spark form of
  *    map_overlap with boundary="nearest" (A5/A7/A9/A12).
  *
  * Inputs are rechunked first when a chunk edge isn't divisible by
  * its factor (`_align_chunks` parity) — for bin-shrink / nearest this
  * is the only shuffle, and it's skipped whenever factors divide
  * chunks. A step is built on the chunk RDD ([[stepRdd]]), so it only
  * adds lineage: no Spark job runs until an action pulls its output.
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
    val (outMeta, out) = stepRdd(spark, ds.rdd, meta, dimFactors, method)
    (outMeta, spark.createDataset(out))
  }

  /** [[step]] over the chunk RDD: builds lineage only, so a cascade of
    * steps submits no job until an action pulls the last level.
    */
  private[operators] def stepRdd(spark: SparkSession, rows: RDD[ChunkRow], meta: ImageMeta,
      dimFactors: Map[String, Int], method: Method): (ImageMeta, RDD[ChunkRow]) = {

    val factors0 = meta.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
    // kernel radius per dim (0 for the shuffle-free methods)
    val radius0: Array[Int] = method match {
      case Method.ItkwasmGaussian | Method.ItkGaussian | Method.DaskImageGaussian =>
        val sigma = factors0.map(k => ScalePlanner.computeSigma(Seq(k)).head)
        val truncate = ScalePlanner.getTruncate(meta.shape, sigma.toSeq)
        ScalePlanner.gaussianBorder(sigma.toSeq, truncate).toArray
      case Method.DaskImageMode => factors0
      case Method.ItkwasmLabelImage =>
        val sigma = factors0.map(k => ScalePlanner.computeSigma(Seq(k)).head)
        ScalePlanner.kernelRadius(sigma.toSeq).toArray
      case _ => Array.fill(factors0.length)(0)
    }
    // 1. re-block so factors divide chunk edges and halos fit
    val targetChunks = meta.dims.indices.map(d =>
      planChunk(meta.shape(d), meta.chunks(d), factors0(d), radius0(d)))
    val stencil = method match {
      case Method.ItkwasmBinShrink | Method.ItkBinShrink | Method.DaskImageNearest => false
      case _ => true // radius may still be 0 (factor 1) — halos just stay empty
    }

    def outMetaFor(m1: ImageMeta): ImageMeta = {
      val factors = m1.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
      val outShape = m1.shape.zip(factors).map { case (n, k) => n / k }
      val outChunks = m1.chunks.zip(factors).map { case (c, k) => math.max(1, c / k) }
      val (tr, sc) = ScalePlanner.nextScaleMetadata(m1, dimFactors)
      m1.copy(shape = outShape, chunks = outChunks, scale = sc, translation = tr)
    }

    if (!stencil) {
      val (m1, rows1) =
        if (targetChunks == meta.chunks) (meta, rows)
        else {
          val (m1, pinned, _) = pin(spark, rows, meta, targetChunks)
          (m1, pinned.values)
        }
      val factors = m1.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
      val outMeta = outMetaFor(m1)
      val out = method match {
        case Method.ItkwasmBinShrink | Method.ItkBinShrink =>
          perChunk(rows1, m1, factors, outMeta)(NdKernels.binShrink(_, _, _,
            roundInt = isIntDtype(m1.dtype)))
        case Method.DaskImageNearest =>
          perChunk(rows1, m1, factors, outMeta)(NdKernels.nearest)
        case other => throw new IllegalStateException(s"non-stencil method $other")
      }
      (outMeta, out)
    } else {
      // stencil path: ONE volume shuffle re-blocks AND pins chunks on
      // their key's partition; the halo exchange then moves only halo
      // bytes against the pinned side
      val (m1, pinned, part) = pin(spark, rows, meta, targetChunks)
      val factors = m1.dims.map(d => dimFactors.getOrElse(d, 1)).toArray
      val outMeta = outMetaFor(m1)
      val out = method match {
        case Method.DaskImageMode =>
          haloExchange(pinned, part, m1, factors, outMeta,
            radius = factors.map(identity)) { (ext, extShape, outBlockShape, centerOff) =>
            NdKernels.modeCentered(ext, extShape, factors, outBlockShape, centerOff)
          }
        case Method.ItkwasmGaussian | Method.ItkGaussian | Method.DaskImageGaussian =>
          val sigma = factors.map(k => ScalePlanner.computeSigma(Seq(k)).head)
          val truncate = ScalePlanner.getTruncate(m1.shape, sigma.toSeq)
          val radius = ScalePlanner.gaussianBorder(sigma.toSeq, truncate).toArray
          haloExchange(pinned, part, m1, factors, outMeta, radius) {
            (ext, extShape, outBlockShape, centerOff) =>
              NdKernels.gaussianDownsample(ext, extShape, factors, sigma, radius,
                outBlockShape, centerOff, roundInt = isIntDtype(m1.dtype))
          }
        case Method.ItkwasmLabelImage =>
          val sigma = factors.map(k => ScalePlanner.computeSigma(Seq(k)).head)
          val radius = ScalePlanner.kernelRadius(sigma.toSeq).toArray
          haloExchange(pinned, part, m1, factors, outMeta, radius) {
            (ext, extShape, outBlockShape, centerOff) =>
              NdKernels.labelGaussianDownsample(ext, extShape, factors, sigma, radius,
                outBlockShape, centerOff)
          }
        case other => throw new IllegalStateException(s"non-stencil method $other")
      }
      (outMeta, out)
    }
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
    * volume shuffle pins re-blocked chunks, then only halo strips
    * move through the second exchange; factors are all 1 so shape,
    * scale and translation are unchanged. Border rule is
    * neighborhood∩image (ext-bounds clipping — interior chunk
    * boundaries always carry a full-radius halo, so clipping only
    * happens at true image borders).
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
    * / quality scoring. Same scale shape as morphology: one volume
    * shuffle pins 1-halo-capable chunks, then only 1-pixel halo
    * strips move; output dtype widens to int32 (gx²+gy² ≤ 2·(4·255)²
    * for uint8 input — exact integers end-to-end). True image
    * borders emit 0 (no 3×3 support); see
    * [[NdKernels.sobelSq2d]].
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
    * Same scale shape as [[sobelSq]]: one volume shuffle pins
    * 1-halo-capable chunks, then only 1-pixel halo strips move.
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
    * one volume shuffle pins r-halo-capable chunks, then only
    * r-pixel halo strips move. Output is a uint8 0/1 mask.
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

  /** A full-resolution (factor 1) stencil filter: re-block so every
    * chunk spans `radius`, pin, one halo exchange; the output keeps
    * the re-blocked grid and takes `outDtype`.
    */
  private def fullResStencil(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      radius: Array[Int], outDtype: String)(
      kernel: (Array[Double], Array[Int], Array[Int], Array[Int]) => Array[Double])
      : (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val targetChunks = meta.dims.indices.map(d =>
      planChunk(meta.shape(d), meta.chunks(d), 1, radius(d)))
    val (m1, pinned, part) = pin(spark, ds.rdd, meta, targetChunks)
    val outMeta = m1.copy(dtype = outDtype)
    val out = haloExchange(pinned, part, m1, Array.fill(radius.length)(1), outMeta, radius)(kernel)
    (outMeta, spark.createDataset(out))
  }

  /** Re-block `rows` to `targetChunks` and pin each chunk on its key's
    * partition: one volume shuffle, over at least the default
    * parallelism and at most one partition per chunk.
    */
  private def pin(spark: SparkSession, rows: RDD[ChunkRow], meta: ImageMeta,
      targetChunks: Seq[Int]): (ImageMeta, RDD[(String, ChunkRow)], HashPartitioner) = {
    val grid = ZarrStore.chunkGrid(meta.shape, targetChunks)
    val part = new HashPartitioner(math.max(1, math.min(grid.map(_.toLong).product,
      math.max(rows.getNumPartitions, spark.sparkContext.defaultParallelism).toLong).toInt))
    val (m1, pinned) = ChunkOps.rechunkPinned(rows, meta, targetChunks, part)
    (m1, pinned, part)
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

  /** Stencil path with a halo-only shuffle. The chunk table is pinned
    * by hash-partitioning on its own chunk key; each chunk then ships
    * at most `radius` voxels to each adjacent neighbor (3^s − 1
    * targets max) through a second hash partition on the SAME
    * partitioner, and `zipPartitions` aligns the two sides without
    * moving the chunks again. Shuffle volume is therefore ∝ halo
    * surface, not image volume: the old `groupByKey(target)` form
    * shipped every chunk's full payload (volume + halo per level).
    * Radii are capped at the chunk edge so one hop of halo always
    * suffices (the reference's truncate search enforces the same
    * bound).
    */
  private def haloExchange(pinned: RDD[(String, ChunkRow)],
      part: org.apache.spark.Partitioner, meta: ImageMeta,
      factors: Array[Int], outMeta: ImageMeta, radius: Array[Int])(
      kernel: (Array[Double], Array[Int], Array[Int], Array[Int]) => Array[Double])
      : RDD[ChunkRow] = {
    val dtype = meta.dtype
    val outDtype = outMeta.dtype
    val shape = meta.shape
    val chunks = meta.chunks
    val nd = shape.length
    val grid = ZarrStore.chunkGrid(shape, chunks)
    // cap radius: one-hop halo must cover it (smallest chunk edge bounds it)
    val cap = Array.tabulate(nd) { d =>
      val lastChunk = (shape(d) - (grid(d) - 1).toLong * chunks(d)).toInt
      math.max(0, math.min(radius(d), math.min(chunks(d), lastChunk)))
    }
    val nOut = outMeta.shape

    // no persist: `pinned` ends in a shuffle (rechunkPinned), and both
    // consumers below — the halo flatMap and zipPartitions — read the
    // SAME shuffle output, so upstream computes exactly once and the
    // shuffle files are the materialization (persisting would leak one
    // cached volume per pyramid level for the application lifetime)

    // halo pieces only (off != 0) — the bytes that actually cross
    // chunk boundaries
    val halos = pinned.values.flatMap { chunk =>
      val vals = ZarrStore.decodeToDoubles(chunk.data, dtype)
      val offsets = ZarrStore.gridPositions(Array.fill(nd)(3)).map(_.map(_ - 1))
      offsets.flatMap { off =>
        val tIdx = chunk.chunkIdx.zip(off).map { case (i, o) => i + o }
        val valid = off.exists(_ != 0) &&
          tIdx.zipWithIndex.forall { case (i, d) => i >= 0 && i < grid(d) } &&
          off.zipWithIndex.forall { case (o, d) => o == 0 || cap(d) > 0 }
        if (!valid) None
        else {
          // region of this chunk the target needs, in local coords
          val lo = Array.tabulate(nd)(d => off(d) match {
            case 1 => math.max(0, chunk.shape(d) - cap(d)) // we are target's left halo
            case _ => 0
          })
          val hi = Array.tabulate(nd)(d => off(d) match {
            case -1 => math.min(cap(d), chunk.shape(d)) // we are target's right halo
            case _ => chunk.shape(d)
          })
          val pShape = Array.tabulate(nd)(d => hi(d) - lo(d))
          if (pShape.exists(_ <= 0)) None
          else {
            // destination position in the target's extended block:
            // target ext = [leftHalo | targetChunk | rightHalo];
            // off is target − us, so off=+1 means the target sits
            // right of us and our last rows are its LEFT halo
            val tShape = ZarrStore.chunkShapeAt(shape, chunks, tIdx)
            val lh = Array.tabulate(nd)(d => if (tIdx(d) > 0) cap(d) else 0)
            val destPos = Array.tabulate(nd)(d => off(d) match {
              case 1 => 0
              case 0 => lh(d)
              case -1 => lh(d) + tShape(d)
            })
            val sub = ChunkOps.sliceBlock(vals, chunk.shape.toArray, lo, pShape)
            Some(Piece(tIdx.mkString(","), tIdx, destPos.toSeq, pShape.toSeq,
              ZarrStore.encodeFromDoubles(sub, dtype)))
          }
        }
      }
    }.map(p => (p.targetKey, p)).partitionBy(part)

    // same partitioner both sides → partition i holds chunk AND halos
    // for the same keys; the volume side does not move again
    pinned.zipPartitions(halos, preservesPartitioning = false) { (chunkIt, haloIt) =>
      val halosByKey = scala.collection.mutable.HashMap.empty[String, List[Piece]]
      haloIt.foreach { case (k, p) =>
        halosByKey.update(k, p :: halosByKey.getOrElse(k, Nil))
      }
      chunkIt.flatMap { case (key, chunk) =>
        val tIdx = chunk.chunkIdx
        val tShape = ZarrStore.chunkShapeAt(shape, chunks, tIdx)
        val tOrigin = ZarrStore.chunkOriginAt(chunks, tIdx)
        val lh = Array.tabulate(nd)(d => if (tIdx(d) > 0) cap(d) else 0)
        val rh = Array.tabulate(nd)(d => if (tIdx(d) < grid(d) - 1) cap(d) else 0)
        val extShape = Array.tabulate(nd)(d => lh(d) + tShape(d) + rh(d))
        val ext = new Array[Double](extShape.product)
        ChunkOps.placeBlock(ext, extShape, lh, tShape.toArray,
          ZarrStore.decodeToDoubles(chunk.data, dtype))
        halosByKey.getOrElse(key, Nil).foreach(p =>
          ChunkOps.placeBlock(ext, extShape, p.destPos.toArray, p.shape.toArray,
            ZarrStore.decodeToDoubles(p.data, dtype)))
        // samples owned by this chunk
        val outCount = Array.tabulate(nd) { d =>
          val k = factors(d)
          math.max(0L, math.min((tOrigin(d) + tShape(d)) / k, nOut(d)) - tOrigin(d) / k).toInt
        }
        if (outCount.contains(0)) None
        else {
          val centerOff = lh // sample j maps to ext position lh + j*k
          val block = kernel(ext, extShape, outCount, centerOff)
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
}
