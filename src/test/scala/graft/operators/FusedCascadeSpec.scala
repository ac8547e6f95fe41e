package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import graft.meta.ScalePlanner
import graft.zarr.ZarrStore

/** One exchange per stencil level: where the next step's planned grid
  * is the output grid, a level's re-block is the next step's exchange,
  * and the cascade computes the same voxels as the whole-array kernels.
  */
class FusedCascadeSpec extends SparkSpec {

  private def image(shape: Seq[Long], dims: Seq[String], chunks: Seq[Int],
      dtype: String, seed: Int, max: Int): (ImageMeta, Array[Double]) = {
    val meta = ImageMeta(dims, shape, chunks, dtype,
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)
    val r = new scala.util.Random(seed)
    (meta, Array.fill(shape.product.toInt)(r.nextInt(max).toDouble))
  }

  test("an aligned 3-D gaussian cascade and its sharded write run as one job of 5 stages") {
    // the benchmark's shape at half the edge: 64³ uint16 in 16³ chunks,
    // three ×2 levels, a v0.5 sharded write over a readMultiscales base.
    // Stages: read + cut, then each kernel + the cut into the next
    // level's exchange (the last one feeding the shard map side), then
    // the puts. The pin + halo + re-block plan ran 10 stages here: a
    // pin, a halo exchange and a kernel + re-block per level.
    val (meta, vals) = image(Seq(64, 64, 64), Seq("z", "y", "x"), Seq(16, 16, 16),
      "uint16", 11, 65536)
    val dir0 = tempDir("fused-base").toString + "/in.ome.zarr"
    OmeZarrIO.writeMultiscales(spark, dir0, MultiscaleBuilder.Multiscale(
      Seq(MultiscaleBuilder.Level(meta, ChunkOps.fromArray(spark, vals, meta))),
      Method.ItkwasmGaussian))
    val base = OmeZarrIO.readMultiscales(spark, dir0).levels.head
    val (ms, buildJobs, _) = jobsAndStagesIn(MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(2, 4, 8).map(k => Map("z" -> k, "y" -> k, "x" -> k))), Method.ItkwasmGaussian))
    try {
      assert(buildJobs == 0, s"toMultiscales ran $buildJobs Spark jobs")
      val dir = tempDir("fused-out").toString + "/out.ome.zarr"
      val (_, writeJobs, writeStages) = jobsAndStagesIn(OmeZarrIO.writeMultiscales(spark, dir, ms,
        version = "0.5", chunksPerShard = Some(Seq(2, 2, 2))))
      assert(writeJobs == 1, s"the build and its write ran $writeJobs Spark jobs")
      assert(writeStages == 5, s"the build and its write ran $writeStages stages")
    } finally ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
  }

  /** The gaussian by its definition, independent of
    * `NdKernels.gaussianDownsample`: blur every voxel along each dim in
    * turn (edge clamped, taps summed in order), then take every
    * `factors(d)`-th voxel from 0, rounded to integers.
    */
  private def blurThenSample(in: Array[Double], shape: Array[Int], factors: Array[Int],
      sigma: Array[Double], radius: Array[Int], outShape: Array[Int]): Array[Double] = {
    val str = NdKernels.strides(shape)
    val blurred = shape.indices.foldLeft(in) { (cur, d) =>
      val k = NdKernels.gaussianKernel(sigma(d), radius(d))
      val r = (k.length - 1) / 2
      Array.tabulate(cur.length) { i =>
        val p = i / str(d) % shape(d)
        (-r to r).foldLeft(0.0) { (acc, t) =>
          val q = math.min(math.max(p + t, 0), shape(d) - 1)
          acc + k(t + r) * cur(i + (q - p) * str(d))
        }
      }
    }
    val outStr = NdKernels.strides(outShape)
    Array.tabulate(outShape.product) { j =>
      val at = outShape.indices.map(d => j / outStr(d) % outShape(d) * factors(d) * str(d)).sum
      math.floor(blurred(at) + 0.5)
    }
  }

  /** The whole-array cascade: each level is the kernel over the whole
    * previous level (no chunks, so no halo and no radius cap),
    * stored in the image dtype.
    */
  private def wholeArray(vals: Array[Double], meta: ImageMeta, levels: Int,
      method: Method): Seq[Array[Double]] = {
    val nd = meta.dims.length
    val factors = Array.fill(nd)(2)
    val sigma = factors.map(k => ScalePlanner.computeSigma(Seq(k)).head)
    Iterator.iterate((vals, meta.shape.map(_.toInt).toArray)) { case (in, shape) =>
      val outShape = shape.map(_ / 2)
      val centerOff = Array.fill(nd)(0)
      val out = method match {
        case Method.ItkwasmGaussian =>
          val truncate = ScalePlanner.getTruncate(shape.map(_.toLong).toSeq, sigma.toSeq)
          val radius = ScalePlanner.gaussianBorder(sigma.toSeq, truncate).toArray
          blurThenSample(in, shape, factors, sigma, radius, outShape)
        case Method.DaskImageMode =>
          NdKernels.modeCentered(in, shape, factors, outShape, centerOff)
        case Method.ItkwasmLabelImage =>
          val radius = ScalePlanner.kernelRadius(sigma.toSeq).toArray
          NdKernels.labelGaussianDownsample(in, shape, factors, sigma, radius, outShape, centerOff)
        case other => throw new IllegalArgumentException(s"not a stencil method: $other")
      }
      (ZarrStore.decodeToDoubles(ZarrStore.encodeFromDoubles(out, meta.dtype), meta.dtype), outShape)
    }.map(_._1).slice(1, levels + 1).toSeq
  }

  private val methods = Seq(
    (Method.ItkwasmGaussian, "uint16", 65536),
    (Method.DaskImageMode, "uint8", 5),
    (Method.ItkwasmLabelImage, "uint8", 9))

  private val layouts = Seq(
    // aligned: every next planned grid is the output grid, so each
    // level's re-block is the next exchange; 40 and 44 leave ragged
    // last chunks (4 and 8 wide), wider than every radius
    ("fused 3-D with ragged last chunks", Seq(40L, 48L, 44L), Seq("z", "y", "x"), 12,
      Seq(2, 4, 8), true),
    // 7 is odd: the next step plans a wider grid than the output's,
    // so each level keeps its own re-block and the next step its own
    // exchange
    ("unaligned 2-D fallback", Seq(30L, 46L), Seq("y", "x"), 7, Seq(2, 4), false))

  for ((name, shape, dims, chunk, factors, aligned) <- layouts; (method, dtype, max) <- methods) {
    test(s"$name: ${method.value} cascade equals the whole-array kernels") {
      val (meta, vals) = image(shape, dims, dims.map(_ => chunk), dtype, 17, max)
      val ms = MultiscaleBuilder.toMultiscales(spark,
        MultiscaleBuilder.Level(meta, ChunkOps.fromArray(spark, vals, meta)),
        Some(factors.map(k => meta.dims.map(_ -> k).toMap)), method)
      try {
        val l1 = ms.levels(1).meta
        val next = Downsample.stencil(l1, l1.dims.map(_ -> 2).toMap, method).get
        assert((next.in.chunks == l1.chunks) == aligned,
          s"next planned grid ${next.in.chunks} vs output grid ${l1.chunks}")
        val expected = wholeArray(vals, meta, factors.length, method)
        ms.levels.tail.zip(expected).foreach { case (lvl, want) =>
          assert(ChunkOps.toArray(lvl.chunks, lvl.meta).toSeq == want.toSeq,
            s"level ${lvl.meta.shape} differs from the whole-array result")
        }
      } finally ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
    }
  }
}
