package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.Model.ImageMeta
import graft.meta.Dtypes
import graft.zarr.ZarrStore

/** The chunk table: one row per Zarr chunk (SURVEY §7.1), the
  * engine's primary physical representation of an image level.
  * Payloads are raw dtype-encoded little-endian C-order bytes;
  * compression exists only at the store boundary.
  *
  * All heavy operators are chunk-granular transforms:
  *  - per-chunk kernels → `mapPartitions` (no shuffle);
  *  - stencil kernels ([[Downsample]]) → one [[exchange]]: every chunk
  *    is cut against each target block's box extended by the kernel's
  *    margin, the pieces are grouped by block, and each block is
  *    assembled with its halo for the kernel — the Spark form of dask's
  *    map_overlap;
  *  - `rechunk` (P4) is the same cut with no margin, grouped by target
  *    and assembled, on the Dataset path; `rechunkRdd` does it on RDDs.
  */
object ChunkOps {

  final case class ChunkRow(chunkIdx: Seq[Int], origin: Seq[Long],
      shape: Seq[Int], data: Array[Byte])

  /** A slice of a source chunk destined for (the possibly
    * halo-extended block of) a target chunk. `data` is dtype-encoded
    * (NOT doubles): pieces transit shuffles, and uint8/uint16 imaging
    * payloads would inflate 8×/4× as double arrays.
    */
  final case class Piece(targetKey: String, targetIdx: Seq[Int],
      destPos: Seq[Int], shape: Seq[Int], data: Array[Byte])

  final case class VoxelRow(t: Long, c: Long, z: Long, y: Long, x: Long, value: Double)

  // ---- construction / materialization (driver-side, tests & ingest) ----

  /** Decompose a C-order array into its chunk rows — pure, so it runs
    * on the driver (tests) or inside an executor task (streaming
    * ingest of whole-field payloads without driver materialization).
    */
  def decompose(values: Array[Double], meta: ImageMeta): Seq[ChunkRow] = {
    val shape = meta.shape.map(_.toInt).toArray
    ZarrStore.gridPositions(ZarrStore.chunkGrid(meta.shape, meta.chunks)).map { idx =>
      val cShape = ZarrStore.chunkShapeAt(meta.shape, meta.chunks, idx)
      val cOrigin = ZarrStore.chunkOriginAt(meta.chunks, idx)
      val block = sliceBlock(values, shape, cOrigin.map(_.toInt).toArray, cShape.toArray)
      ChunkRow(idx, cOrigin, cShape, ZarrStore.encodeFromDoubles(block, meta.dtype))
    }.toSeq
  }

  /** Build a chunk table from an in-memory C-order array. */
  def fromArray(spark: SparkSession, values: Array[Double], meta: ImageMeta): Dataset[ChunkRow] = {
    import spark.implicits._
    val rows = decompose(values, meta)
    // a few chunks per partition: tiny test images shouldn't pay for
    // 32-task stages
    spark.createDataset(rows).repartition(math.max(1, math.min((rows.size + 3) / 4, 32)))
  }

  /** Collect a chunk table back to one C-order array (tests only). */
  def toArray(ds: Dataset[ChunkRow], meta: ImageMeta): Array[Double] = {
    val out = new Array[Double](meta.shape.product.toInt)
    val shape = meta.shape.map(_.toInt).toArray
    ds.collect().foreach { c =>
      placeBlock(out, shape, c.origin.map(_.toInt).toArray, c.shape.toArray,
        ZarrStore.decodeToDoubles(c.data, meta.dtype))
    }
    out
  }

  // ---- voxel view (P2/P6/P7 surface + oracle checks) ----

  /** Explode chunks to the relational voxel view (t,c,z,y,x,value).
    * Generated on demand — never materialized at full scale; Catalyst
    * prunes it like any other DataFrame.
    */
  def voxelView(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta): DataFrame = {
    import spark.implicits._
    val dims = meta.dims
    val dtype = meta.dtype
    ds.flatMap { chunk =>
      val vals = ZarrStore.decodeToDoubles(chunk.data, dtype)
      val cShape = chunk.shape.toArray
      val nd = cShape.length
      val pos = new Array[Int](nd)
      val coords = scala.collection.mutable.Map("t" -> 0L, "c" -> 0L, "z" -> 0L, "y" -> 0L, "x" -> 0L)
      val it = Iterator.tabulate(vals.length) { flat =>
        var d = 0
        while (d < nd) { coords(dims(d)) = chunk.origin(d) + pos(d); d += 1 }
        val row = VoxelRow(coords("t"), coords("c"), coords("z"), coords("y"), coords("x"), vals(flat))
        var dd = nd - 1
        var carry = true
        while (carry && dd >= 0) {
          pos(dd) += 1
          if (pos(dd) == cShape(dd)) { pos(dd) = 0; dd -= 1 } else carry = false
        }
        row
      }
      it
    }.toDF()
  }

  final case class ComplexVoxelRow(t: Long, c: Long, z: Long, y: Long, x: Long,
      re: Double, im: Double)

  /** Voxel view for complex64/128 payloads: one row per voxel with
    * struct-style (re, im) columns (SURVEY §1.2 complex mapping).
    */
  def complexVoxelView(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta): DataFrame = {
    import spark.implicits._
    val dims = meta.dims
    val dtype = meta.dtype
    ds.flatMap { chunk =>
      val vals = ZarrStore.decodeComplex(chunk.data, dtype)
      val cShape = chunk.shape.toArray
      val nd = cShape.length
      val pos = new Array[Int](nd)
      val coords = scala.collection.mutable.Map("t" -> 0L, "c" -> 0L, "z" -> 0L, "y" -> 0L, "x" -> 0L)
      Iterator.tabulate(vals.length / 2) { flat =>
        var d = 0
        while (d < nd) { coords(dims(d)) = chunk.origin(d) + pos(d); d += 1 }
        val row = ComplexVoxelRow(coords("t"), coords("c"), coords("z"), coords("y"), coords("x"),
          vals(2 * flat), vals(2 * flat + 1))
        var dd = nd - 1
        var carry = true
        while (carry && dd >= 0) {
          pos(dd) += 1
          if (pos(dd) == cShape(dd)) { pos(dd) = 0; dd -= 1 } else carry = false
        }
        row
      }
    }.toDF()
  }

  /** Inverse of [[voxelView]]: materialize a relational voxel frame
    * `(t,c,z,y,x,value)` back into a chunk table — the path that lets
    * a pure SQL/DataFrame computation over voxels become an image
    * again (and then an OME-Zarr store). One shuffle keyed by the
    * owning chunk; absent dims are ignored.
    */
  def fromVoxelView(spark: SparkSession, voxels: org.apache.spark.sql.DataFrame,
      meta: ImageMeta): Dataset[ChunkRow] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dims = meta.dims
    val chunks = meta.chunks
    val shape = meta.shape
    val dtype = meta.dtype
    val nd = dims.length
    val typed = voxels
      .select((dims.map(d => col(d).cast("long")) :+ col("value").cast("double")): _*)
      .rdd.map { row =>
        val coords = Array.tabulate(nd)(d => row.getLong(d))
        val v = row.getDouble(nd)
        val idx = Array.tabulate(nd)(d => (coords(d) / chunks(d)).toInt)
        (idx.toSeq, (coords.toSeq, v))
      }
    // partitions ∝ assembled volume (≈128 MB each), floored at the
    // cluster parallelism and capped at one per chunk — a fixed cap
    // would serialize a large assembly onto a handful of tasks
    val gridSize = ZarrStore.chunkGrid(shape, chunks).map(_.toLong).product
    val chunkBytes = chunks.map(_.toLong).product * Dtypes.itemSize(dtype)
    val targetParts = math.max(spark.sparkContext.defaultParallelism.toLong,
      gridSize * chunkBytes / (128L << 20) + 1)
    val assembled = typed.groupByKey(
      math.max(1L, math.min(gridSize, targetParts)).toInt)
      .map { case (idx, vs) =>
        val cShape = ZarrStore.chunkShapeAt(shape, chunks, idx)
        val cOrigin = ZarrStore.chunkOriginAt(chunks, idx)
        val str = NdKernels.strides(cShape.toArray)
        val block = new Array[Double](cShape.product)
        vs.foreach { case (coords, v) =>
          var flat = 0
          var d = 0
          while (d < coords.length) { flat += (coords(d) - cOrigin(d)).toInt * str(d); d += 1 }
          block(flat) = v
        }
        ChunkRow(idx, cOrigin, cShape, ZarrStore.encodeFromDoubles(block, dtype))
      }
    spark.createDataset(assembled)
  }

  // ---- rechunk (P4) and the exchange ----

  /** Re-block the chunk table to a new chunk grid: split every chunk
    * into pieces addressed to target chunks, shuffle on the target
    * key, assemble. Metadata-only when the grid is unchanged.
    */
  def rechunk(spark: SparkSession, ds: Dataset[ChunkRow], meta: ImageMeta,
      newChunks: Seq[Int], force: Boolean = false): (ImageMeta, Dataset[ChunkRow]) = {
    import spark.implicits._
    // `force` re-blocks even when sizes match — used to restore the
    // regular grid after ops that rebase origins (slice)
    if (newChunks == meta.chunks && !force) return (meta, ds)
    val (shape, dtype) = (meta.shape, meta.dtype)
    val noMargin = newChunks.map(_ => 0)
    val assembled = ds.flatMap(cutPieces(_, shape, newChunks, noMargin, dtype))
      .groupByKey(_.targetKey)
      .mapGroups((_, ps) => center(ps.toSeq, shape, newChunks, noMargin, dtype))
    (meta.copy(chunks = newChunks), assembled)
  }

  /** [[rechunk]] over an RDD, grouped on `part`: the [[exchange]] with
    * no margin, each block assembled from its pieces.
    */
  private[operators] def rechunkRdd(rows: RDD[ChunkRow], meta: ImageMeta, newChunks: Seq[Int],
      part: org.apache.spark.Partitioner): (ImageMeta, RDD[ChunkRow]) = {
    val outMeta = meta.copy(chunks = newChunks)
    val noMargin = newChunks.map(_ => 0)
    (outMeta, exchange(rows, outMeta, noMargin, part).values
      .map(center(_, outMeta.shape, newChunks, noMargin, outMeta.dtype)))
  }

  /** One exchange onto the grid of `meta.chunks`: every chunk of `rows`
    * (any grid over the same image) is cut against each block's
    * extended box ([[extendedBox]]) and the pieces are grouped by block
    * on `part`. With a zero margin it is a re-block; with a stencil's
    * margin each group holds a block plus its halo — the Spark form of
    * dask's `map_overlap`, in one shuffle.
    */
  private[operators] def exchange(rows: RDD[ChunkRow], meta: ImageMeta, margin: Seq[Int],
      part: org.apache.spark.Partitioner): RDD[(String, Iterable[Piece])] = {
    val (shape, chunks, dtype) = (meta.shape, meta.chunks, meta.dtype)
    rows.flatMap(cutPieces(_, shape, chunks, margin, dtype).map(p => p.targetKey -> p))
      .groupByKey(part)
  }

  /** Block `tIdx` of the `chunks` grid with `margin` voxels added on
    * every side that is not an image border: its global origin, its
    * shape and its left margin per dim. A margin never exceeds the
    * smallest chunk edge, so the box stays inside the image.
    */
  private def extendedBox(shape: Seq[Long], chunks: Seq[Int], margin: Seq[Int],
      tIdx: Seq[Int]): (Array[Long], Array[Int], Array[Int]) = {
    val nd = shape.length
    val grid = ZarrStore.chunkGrid(shape, chunks)
    val tShape = ZarrStore.chunkShapeAt(shape, chunks, tIdx)
    val lh = Array.tabulate(nd)(d => if (tIdx(d) > 0) margin(d) else 0)
    val rh = Array.tabulate(nd)(d => if (tIdx(d) < grid(d) - 1) margin(d) else 0)
    (Array.tabulate(nd)(d => tIdx(d).toLong * chunks(d) - lh(d)),
      Array.tabulate(nd)(d => lh(d) + tShape(d) + rh(d)), lh)
  }

  /** The exchange's cut: the piece of `chunk` that falls in the
    * extended box of each block of the `newChunks` grid it meets,
    * placed at its position in that box. Pieces are sliced out of the
    * dtype-encoded bytes, which are never decoded here.
    */
  private def cutPieces(chunk: ChunkRow, shape: Seq[Long], newChunks: Seq[Int],
      margin: Seq[Int], dtype: String): Iterator[Piece] = {
    val nd = shape.length
    val item = Dtypes.itemSize(dtype)
    // block index range whose extended boxes can meet this chunk, per dim
    val lo = Array.tabulate(nd)(d =>
      (math.max(0L, chunk.origin(d) - margin(d)) / newChunks(d)).toInt)
    val hi = Array.tabulate(nd)(d => (math.min(shape(d) - 1,
      chunk.origin(d) + chunk.shape(d) - 1 + margin(d)) / newChunks(d)).toInt)
    ZarrStore.gridPositions(Array.tabulate(nd)(d => hi(d) - lo(d) + 1)).flatMap { rel =>
      val tIdx = Array.tabulate(nd)(d => lo(d) + rel(d)).toSeq
      val (bLo, bShape, _) = extendedBox(shape, newChunks, margin, tIdx)
      // overlap region in global coords
      val gLo = Array.tabulate(nd)(d => math.max(chunk.origin(d), bLo(d)))
      val gHi = Array.tabulate(nd)(d =>
        math.min(chunk.origin(d) + chunk.shape(d), bLo(d) + bShape(d)))
      val pShape = Array.tabulate(nd)(d => (gHi(d) - gLo(d)).toInt)
      if (pShape.exists(_ <= 0)) None
      else {
        val srcOff = Array.tabulate(nd)(d => (gLo(d) - chunk.origin(d)).toInt)
        val destPos = Array.tabulate(nd)(d => (gLo(d) - bLo(d)).toInt)
        val bytes =
          if (pShape.toSeq == chunk.shape) chunk.data
          else sliceBytes(chunk.data, chunk.shape.toArray, srcOff, pShape, item)
        Some(Piece(tIdx.mkString(","), tIdx, destPos.toSeq, pShape.toSeq, bytes))
      }
    }
  }

  /** One block's extended box assembled from all its pieces: the
    * values, the box shape and the left margin per dim.
    */
  private[operators] def assembleExtended(ps: Iterable[Piece], shape: Seq[Long], chunks: Seq[Int],
      margin: Seq[Int], dtype: String): (Array[Double], Array[Int], Array[Int]) = {
    val item = Dtypes.itemSize(dtype)
    val (_, extShape, lh) = extendedBox(shape, chunks, margin, ps.head.targetIdx)
    val ext = new Array[Byte](extShape.product * item)
    ps.foreach(p => placeBytes(ext, extShape, p.destPos.toArray, p.shape.toArray, p.data, item))
    (ZarrStore.decodeToDoubles(ext, dtype), extShape, lh)
  }

  /** One block without its halo, sliced out of its pieces: each piece
    * contributes only its overlap with the block, so the margin is
    * never assembled. With no margin this is the re-block's assembly.
    */
  private[operators] def center(ps: Iterable[Piece], shape: Seq[Long], chunks: Seq[Int],
      margin: Seq[Int], dtype: String): ChunkRow = {
    val tIdx = ps.head.targetIdx
    val nd = shape.length
    val item = Dtypes.itemSize(dtype)
    val tShape = ZarrStore.chunkShapeAt(shape, chunks, tIdx).toArray
    val (_, _, lh) = extendedBox(shape, chunks, margin, tIdx)
    val block = new Array[Byte](tShape.product * item)
    ps.foreach { p =>
      // the piece's overlap with the block, in extended-box coords
      val lo = Array.tabulate(nd)(d => math.max(p.destPos(d), lh(d)))
      val hi = Array.tabulate(nd)(d => math.min(p.destPos(d) + p.shape(d), lh(d) + tShape(d)))
      val box = Array.tabulate(nd)(d => hi(d) - lo(d))
      if (box.forall(_ > 0)) {
        val inner =
          if (box.toSeq == p.shape) p.data
          else sliceBytes(p.data, p.shape.toArray, Array.tabulate(nd)(d => lo(d) - p.destPos(d)),
            box, item)
        placeBytes(block, tShape, Array.tabulate(nd)(d => lo(d) - lh(d)), box, inner, item)
      }
    }
    ChunkRow(tIdx, ZarrStore.chunkOriginAt(chunks, tIdx), tShape.toSeq, block)
  }

  /** Copy a sub-block out of a C-order array. */
  def sliceBlock(in: Array[Double], shape: Array[Int], off: Array[Int],
      outShape: Array[Int]): Array[Double] = {
    val out = new Array[Double](outShape.product)
    copyBox(in, shape, off, out, outShape, out.length, 1, place = false)
    out
  }

  /** Place a sub-block into a C-order array at `pos0`. */
  def placeBlock(dst: Array[Double], dstShape: Array[Int], pos0: Array[Int],
      blockShape: Array[Int], values: Array[Double]): Unit =
    copyBox(dst, dstShape, pos0, values, blockShape, values.length, 1, place = true)

  /** [[sliceBlock]] over dtype-encoded bytes, `item` bytes a voxel. */
  private def sliceBytes(in: Array[Byte], shape: Array[Int], off: Array[Int],
      outShape: Array[Int], item: Int): Array[Byte] = {
    val out = new Array[Byte](outShape.product * item)
    copyBox(in, shape, off, out, outShape, outShape.product, item, place = false)
    out
  }

  /** [[placeBlock]] over dtype-encoded bytes, `item` bytes a voxel. */
  private def placeBytes(dst: Array[Byte], dstShape: Array[Int], pos0: Array[Int],
      blockShape: Array[Int], values: Array[Byte], item: Int): Unit =
    copyBox(dst, dstShape, pos0, values, blockShape, values.length / item, item, place = true)

  /** The block odometer: walks the `box`-shaped region at `off` inside
    * the C-order `region` of `shape`, row-major, one innermost row at a
    * time, and copies its first `n` voxels out into the dense `block`
    * or, with `place`, from `block` into it. Both are arrays of one
    * primitive type with `item` elements a voxel.
    */
  private def copyBox(region: AnyRef, shape: Array[Int], off: Array[Int],
      block: AnyRef, box: Array[Int], n: Int, item: Int, place: Boolean): Unit = {
    val nd = box.length
    val row = box(nd - 1)
    val str = NdKernels.strides(shape)
    val pos = new Array[Int](nd)
    var flat = 0
    while (flat < n && row > 0) {
      var i = 0
      var d = 0
      while (d < nd) { i += (off(d) + pos(d)) * str(d); d += 1 }
      val len = math.min(row, n - flat)
      if (place) System.arraycopy(block, flat * item, region, i * item, len * item)
      else System.arraycopy(region, i * item, block, flat * item, len * item)
      flat += len
      var dd = nd - 2
      var carry = true
      while (carry && dd >= 0) {
        pos(dd) += 1
        if (pos(dd) == box(dd)) { pos(dd) = 0; dd -= 1 } else carry = false
      }
    }
  }
}
