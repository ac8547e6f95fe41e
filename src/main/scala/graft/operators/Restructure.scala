package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model._
import graft.zarr.ZarrStore
import ChunkOps._

/** Projection / restructuring operators over the chunk table
  * (SURVEY §2.2): dim reorder (P1), slice/take (P2), array split
  * (P3). All are either metadata-only or shuffle-free per-chunk
  * transforms — reordering and slicing never move data between
  * chunks, and splitting is a partition-pruning filter.
  */
object Restructure {

  /** P1 — transpose to a new dim order. Per-chunk C-order permute in
    * a JVM kernel; no shuffle (each chunk maps to exactly one output
    * chunk). `_spatial_dims_last`-style policies are thin wrappers.
    */
  def transpose(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      newDims: Seq[String]): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    require(newDims.sorted == meta.dims.sorted, s"$newDims is not a permutation of ${meta.dims}")
    if (newDims == meta.dims) return (meta, ds)
    val perm = newDims.map(meta.dims.indexOf).toArray
    val outMeta = meta.copy(
      dims = newDims,
      shape = perm.map(meta.shape).toSeq,
      chunks = perm.map(meta.chunks).toSeq)
    val dtype = meta.dtype
    val out = ds.mapPartitions(_.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val inShape = c.shape.toArray
      val outShape = perm.map(inShape)
      val inStr = NdKernels.strides(inShape)
      val permStr = perm.map(inStr) // stride of out dim d in the input
      val o = new Array[Double](vals.length)
      val pos = new Array[Int](outShape.length)
      var flat = 0
      while (flat < o.length) {
        var src = 0
        var d = 0
        while (d < pos.length) { src += pos(d) * permStr(d); d += 1 }
        o(flat) = vals(src)
        var dd = pos.length - 1
        var carry = true
        while (carry && dd >= 0) {
          pos(dd) += 1
          if (pos(dd) == outShape(dd)) { pos(dd) = 0; dd -= 1 } else carry = false
        }
        flat += 1
      }
      ChunkRow(perm.map(c.chunk_idx).toSeq, perm.map(c.origin).toSeq,
        outShape.toSeq, ZarrStore.encodeFromDoubles(o, dtype))
    })
    (outMeta, out)
  }

  /** Spatial-dims-last policy (`methods/_support.py:14-46`). */
  def spatialDimsLast(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta)
      : (ImageMeta, Dataset[ChunkRow]) = {
    val nonSpatial = meta.dims.filterNot(d => SpatialDims.contains(d) || d == "c")
    val c = meta.dims.filter(_ == "c")
    val spatial = meta.dims.filter(SpatialDims.contains)
    transpose(spark, ds, meta, nonSpatial ++ c ++ spatial)
  }

  /** P2 — take: drop one plane along `dim` at `index` (the reference's
    * `np.take` on t/c). Chunk-range predicate prunes chunks before
    * any payload work; surviving chunks slice locally.
    */
  def take(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      dim: String, index: Long): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val di = meta.dims.indexOf(dim)
    require(di >= 0, s"no dim $dim in ${meta.dims}")
    val outMeta = meta.copy(
      dims = meta.dims.patch(di, Nil, 1),
      shape = meta.shape.patch(di, Nil, 1),
      chunks = meta.chunks.patch(di, Nil, 1),
      scale = meta.scale - dim,
      translation = meta.translation - dim)
    val dtype = meta.dtype
    val out = ds
      // partition pruning: only chunks containing the plane survive
      .filter(c => c.origin(di) <= index && index < c.origin(di) + c.shape(di))
      .mapPartitions(_.map { c =>
        val vals = ZarrStore.decodeToDoubles(c.data, dtype)
        val off = Array.tabulate(c.shape.length)(d => if (d == di) (index - c.origin(di)).toInt else 0)
        val sliceShape = c.shape.toArray.clone()
        sliceShape(di) = 1
        val sliced = ChunkOps.sliceBlock(vals, c.shape.toArray, off, sliceShape)
        ChunkRow(
          c.chunk_idx.patch(di, Nil, 1),
          c.origin.patch(di, Nil, 1),
          c.shape.patch(di, Nil, 1),
          ZarrStore.encodeFromDoubles(sliced, dtype))
      })
    (outMeta, out)
  }

  /** P2 — region slice: restrict to a half-open voxel box. Chunks
    * outside prune away; edge chunks clip locally; a rechunk pass
    * restores the regular chunk grid (rebased origins no longer sit
    * at chunk_idx·chunks, which every downstream consumer — the
    * writer, halo exchange — relies on).
    */
  def slice(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      lo: Seq[Long], hi: Seq[Long]): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    val nd = meta.dims.length
    val outShape = lo.zip(hi).map { case (l, h) => math.max(0L, h - l) }
    if (outShape.contains(0L)) {
      val emptyChunks = meta.chunks.zip(outShape)
        .map { case (c, s) => math.max(1L, math.min(c.toLong, s)).toInt }
      return (meta.copy(shape = outShape, chunks = emptyChunks),
        spark.emptyDataset[ChunkRow])
    }
    val outChunks = meta.chunks.zip(outShape).map { case (c, s) => math.min(c.toLong, s).toInt }
    val dtype = meta.dtype
    val clipped = ds
      .filter { c =>
        (0 until nd).forall(d => c.origin(d) < hi(d) && c.origin(d) + c.shape(d) > lo(d))
      }
      .mapPartitions(_.map { c =>
        val vals = ZarrStore.decodeToDoubles(c.data, dtype)
        val cl = Array.tabulate(nd)(d => math.max(lo(d), c.origin(d)))
        val ch = Array.tabulate(nd)(d => math.min(hi(d), c.origin(d) + c.shape(d)))
        val off = Array.tabulate(nd)(d => (cl(d) - c.origin(d)).toInt)
        val pShape = Array.tabulate(nd)(d => (ch(d) - cl(d)).toInt)
        val sliced = ChunkOps.sliceBlock(vals, c.shape.toArray, off, pShape)
        ChunkRow(c.chunk_idx, Array.tabulate(nd)(d => cl(d) - lo(d)).toSeq,
          pShape.toSeq, ZarrStore.encodeFromDoubles(sliced, dtype))
      })
    // rechunk groups purely by origin, so the stale chunk_idx on the
    // intermediate rows never escapes
    ChunkOps.rechunk(spark, clipped,
      meta.copy(shape = outShape, chunks = outChunks), outChunks, force = true)
  }

  /** P3 — numpy-style array_split into n sections along `dim`
    * (uneven allowed): pure chunk filters, each section a pruned view.
    */
  def arraySplit(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      n: Int, dim: String): Seq[(ImageMeta, Dataset[ChunkRow])] = {
    val di = meta.dims.indexOf(dim)
    val total = meta.shape(di)
    val base = total / n
    val extra = (total % n).toInt
    val bounds = (0 until n).scanLeft(0L) { (acc, i) =>
      acc + base + (if (i < extra) 1 else 0)
    }
    bounds.sliding(2).toSeq.map { case Seq(l, h) =>
      val lo = meta.shape.indices.map(d => if (d == di) l else 0L)
      val hi = meta.shape.indices.map(d => if (d == di) h else meta.shape(d))
      slice(spark, ds, meta, lo, hi)
    }
  }
}
