package graft.operators

import graft.meta.Model._
import graft.zarr.ZarrStore
import graft.operators.ChunkOps.ChunkRow
import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.Files

/** Imaging-at-scale rehearsal: a 512³ uint8 volume (134M voxels)
  * generated DISTRIBUTED (one task per chunk, the driver only ships
  * grid positions), cascaded through three bin-shrink levels with
  * inter-level checkpointing (C4), written as a sharded v3 store, and
  * re-read — verified with a position-weighted checksum that a plain
  * sum would not catch ordering bugs with. This is the pyramid path
  * the reference runs via dask (`py/ngff_zarr/to_multiscales.py`), at
  * a volume where driver-side materialization would already fail.
  *
  * Lives in main (not test) so [[graft.Bench]] reports its wall time
  * per round (`i_pyramid512`) alongside the query timings, and
  * `PyramidLargeSpec` layers the foreign-writer mutation fixture on
  * the same helpers.
  */
object PyramidRehearsal {

  /** Deterministic voxel formula — cheap, position-sensitive. */
  def voxel(z: Long, y: Long, x: Long): Double =
    ((z * 7 + y * 31 + x * 17) % 256).toDouble

  /** Distributed generation: one task per chunk, peak memory per task
    * is one chunk of doubles; nothing voxel-sized touches the driver.
    */
  def generate(spark: SparkSession, meta: ImageMeta, tasks: Int = 32): Dataset[ChunkRow] = {
    import spark.implicits._
    val shape = meta.shape
    val chunks = meta.chunks
    val positions = ZarrStore.gridPositions(ZarrStore.chunkGrid(shape, chunks)).toSeq
    spark.createDataset(positions).repartition(tasks).map { idx =>
      val cShape = ZarrStore.chunkShapeAt(shape, chunks, idx)
      val origin = ZarrStore.chunkOriginAt(chunks, idx)
      val block = new Array[Double](cShape.product)
      var flat = 0
      var z = 0
      while (z < cShape(0)) {
        var y = 0
        while (y < cShape(1)) {
          var x = 0
          while (x < cShape(2)) {
            block(flat) = voxel(origin(0) + z, origin(1) + y, origin(2) + x)
            flat += 1; x += 1
          }
          y += 1
        }
        z += 1
      }
      ChunkRow(idx, origin, cShape, ZarrStore.encodeFromDoubles(block, "uint8"))
    }
  }

  /** Position-weighted checksum, reduced distributed over chunk rows —
    * returns (voxel count, weighted sum). Catches transpose/order bugs
    * a plain sum would miss.
    */
  def checksum(ds: Dataset[ChunkRow], dtype: String): (Long, Double) =
    ds.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      var w = 0.0
      var flat = 0
      var z = 0
      while (z < c.shape(0)) {
        var y = 0
        while (y < c.shape(1)) {
          var x = 0
          while (x < c.shape(2)) {
            val wgt = (((c.origin(0) + z) * 73 + (c.origin(1) + y) * 37 +
              (c.origin(2) + x)) % 1000).toDouble
            w += vals(flat) * wgt
            flat += 1; x += 1
          }
          y += 1
        }
        z += 1
      }
      (c.shape.product.toLong, w)
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))

  /** Plain value mean over chunk rows, reduced distributed — the
    * cheap DC-preservation probe for smoothing cascades.
    */
  def meanOf(ds: Dataset[ChunkRow], dtype: String): Double = {
    val (n, s) = ds.map { c =>
      (c.shape.product.toLong, ZarrStore.decodeToDoubles(c.data, dtype).sum)
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaDouble))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    s / n
  }

  /** End-to-end rehearsal at the given edge size: generate → 3-level
    * downsample cascade (`method`) → sharded zstd v3 write → re-read →
    * checksum parity on scale0 AND scale1. Returns wall seconds;
    * throws on any parity failure. The store goes to a temp dir
    * removed on exit.
    *
    * `Method.ItkwasmGaussian` rehearses the halo-exchange path — the
    * one scale-critical imaging plan whose exchange per level carries
    * each block's halo (`ChunkOps.exchange` with the kernel's margin,
    * the Spark form of `py/ngff_zarr/methods/_dask_image.py:107-419`'s
    * overlap depth) — at a volume where a driver-side assembly would
    * already fail. Grid/shape parity with the bin-shrink cascade is
    * asserted per level, plus a DC-preservation probe on scale1 (a
    * normalized smoothing kernel may not shift the corpus mean).
    */
  def run(spark: SparkSession, n: Int = 512, chunk: Int = 128,
      method: Method = Method.ItkwasmBinShrink): Double = {
    val t0 = System.nanoTime()
    val meta = ImageMeta(Seq("z", "y", "x"), Seq(n, n, n), Seq(chunk, chunk, chunk), "uint8",
      Map("z" -> 0.25, "y" -> 0.25, "x" -> 0.25),
      Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
    val base = generate(spark, meta)
    val ms = MultiscaleBuilder.toMultiscales(spark,
      MultiscaleBuilder.Level(meta, base),
      Some(Seq(Map("z" -> 2, "y" -> 2, "x" -> 2),
        Map("z" -> 4, "y" -> 4, "x" -> 4),
        Map("z" -> 8, "y" -> 8, "x" -> 8))),
      method, cache = true)
    require(ms.levels.length == 4, s"expected 4 levels, got ${ms.levels.length}")
    // every method must land on the same scale grid the planner set —
    // the shape contract that makes methods interchangeable (A16)
    ms.levels.zipWithIndex.foreach { case (lvl, i) =>
      val want = Seq.fill(3)((n >> i).toLong)
      require(lvl.meta.shape == want,
        s"scale$i shape ${lvl.meta.shape}, expected $want")
    }

    val tmp = Files.createTempDirectory("pyr_rehearsal")
    val dir = tmp.toString + "/img.zarr"
    try {
      OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
        compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2, 2)))
      val back = OmeZarrIO.readMultiscales(spark, dir)
      require(back.levels.length == 4, "re-read level count mismatch")
      val (nBack, wBack) = checksum(back.levels.head.chunks, back.levels.head.meta.dtype)
      val (nGen, wGen) = checksum(base, "uint8")
      require(nBack == n.toLong * n * n && nBack == nGen,
        s"voxel count mismatch: $nBack vs $nGen")
      require(wBack == wGen, "position-weighted checksum differs after round-trip")
      val (n1Back, w1Back) = checksum(back.levels(1).chunks, back.levels(1).meta.dtype)
      val (n1Mem, w1Mem) = checksum(ms.levels(1).chunks, ms.levels(1).meta.dtype)
      require(n1Back == n1Mem && w1Back == w1Mem, "scale1 checksum differs after round-trip")
      // DC preservation: the voxel formula is ~uniform on [0,255], so a
      // normalized smoothing/decimation kernel keeps the mean within
      // rounding slack of the base (catches halo-exchange bugs that
      // zero or double-count boundary strips, which shift the mean)
      val mean0 = meanOf(base, "uint8")
      val mean1 = meanOf(back.levels(1).chunks, back.levels(1).meta.dtype)
      require(math.abs(mean1 - mean0) < 2.0,
        s"scale1 mean $mean1 drifted from base mean $mean0")
    } finally {
      // best-effort temp cleanup; the bench runs this once per round
      def rm(p: java.nio.file.Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.forEach(rm(_)) finally s.close() // one open fd per dir otherwise
        }
        Files.deleteIfExists(p)
      }
      rm(tmp)
    }
    (System.nanoTime() - t0) / 1e9
  }
}
