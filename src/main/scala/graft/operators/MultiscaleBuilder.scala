package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.meta.Model._
import graft.meta.ScalePlanner
import graft.zarr.ZarrStore
import ChunkOps.{ChunkRow, Piece}

/** The pyramid build lifecycle (SURVEY §3.1): plan scales → cascade
  * downsample steps. The build is lazy, like the reference's task
  * graph (`py/ngff_zarr/to_multiscales.py:251-418`): each level is RDD
  * lineage over the previous level, and `toMultiscales` submits no
  * Spark job and makes no Dataset. The next step and
  * `writeMultiscales` read that lineage, so a build plus its write is
  * one job over plain RDDs: each step reads the previous step's
  * exchange output, which Spark keeps once the job has run, not the
  * whole cascade (the Spark form of the reference's write-then-reread
  * discipline, C4 — `to_ngff_zarr.py:930-979`). A chunk-local step
  * with no re-block of its own (bin-shrink on aligned chunks, or the
  * last stencil step when its output is already on the output grid)
  * has no exchange output, so every consumer recomputes it from the
  * nearest one.
  *
  * Each level is re-blocked to the output chunks. When the next step
  * is a stencil over exactly that grid, the re-block IS the next
  * step's exchange: the kernel output is cut straight into the next
  * step's extended blocks, the level is the blocks' centers, and the
  * next kernel reads the same shuffle — one exchange per level.
  */
object MultiscaleBuilder {

  /** One pyramid level: its metadata and its chunk table. `rdd` is
    * what the cascade's next step and `writeMultiscales` read. A level
    * made from a Dataset (`Level(meta, ds)`) reads `ds.rdd`. A level
    * the cascade built keeps the cascade's lineage RDD and makes its
    * `chunks` Dataset only when first asked for it.
    */
  final class Level private[MultiscaleBuilder] (val meta: ImageMeta,
      lineage: Option[RDD[ChunkRow]], table: () => Dataset[ChunkRow]) {
    lazy val chunks: Dataset[ChunkRow] = table()
    def rdd: RDD[ChunkRow] = lineage.getOrElse(chunks.rdd)
  }

  object Level {
    def apply(meta: ImageMeta, chunks: Dataset[ChunkRow]): Level =
      new Level(meta, None, () => chunks)
  }

  final case class Multiscale(levels: Seq[Level], method: Method,
      omero: Option[Omero] = None) {
    def metadata(name: String = "image", version: String = "0.4"): MultiscalesMeta =
      MultiscalesMeta.of(levels.map(_.meta), name, version, Some(method), omero)
  }

  /** Build the full pyramid. `scaleFactors`: either explicit per-level
    * absolute factor maps, or None → the A1 planner decides. With
    * `cache`, every level above the base persists its `chunks` Dataset
    * `MEMORY_AND_DISK` when that Dataset is first made, so the cache
    * fills on the first action on `chunks`, not in the write;
    * `Level.chunks.unpersist()` frees it.
    */
  def toMultiscales(spark: SparkSession, base: Level,
      scaleFactors: Option[Seq[Map[String, Int]]] = None,
      method: Method = Method.ItkwasmGaussian,
      minLength: Option[Int] = None,
      cache: Boolean = true): Multiscale = {
    import spark.implicits._
    val meta = base.meta
    val outChunks = meta.dims.zip(meta.chunks).toMap
    val factors = scaleFactors.getOrElse(
      ScalePlanner.scaleFactors(meta,
        minLength.getOrElse(meta.chunks.max), outChunks))

    var previousDimFactors = meta.dims.map(_ -> 1).toMap
    val steps = factors.toVector.map { absolute =>
      val dimFactors = ScalePlanner.dimScaleFactors(
        meta.dims, Right(absolute), previousDimFactors)
      previousDimFactors = ScalePlanner.updatePreviousDimFactors(
        Right(absolute), meta.spatialDims, previousDimFactors)
      dimFactors
    }
    var previous = base
    // this step's stencil and its exchange, when the previous level's
    // re-block was cut straight into it
    var fused: Option[(Downsample.Stencil, RDD[(String, Iterable[Piece])])] = None
    val levels = Seq.newBuilder[Level]
    levels += base
    steps.zipWithIndex.foreach { case (dimFactors, i) =>
      val (m0, rows0) = fused match {
        case Some((s, ex)) => (s.out, s.run(ex))
        case None => Downsample.stepRdd(previous.rdd, previous.meta, dimFactors, method)
      }
      // restore the configured output chunking: downsampling halves
      // chunk edges, the reference rechunks every level to out_chunks
      val targetChunks = m0.dims.zip(m0.shape).map { case (d, n) =>
        math.min(outChunks(d).toLong, n).toInt
      }
      val m = m0.copy(chunks = targetChunks)
      fused = steps.lift(i + 1).flatMap(Downsample.stencil(m, _, method))
        .filter(_.in.chunks == targetChunks).map(s => (s, s.exchange(rows0)))
      val rows = fused match {
        case Some((s, ex)) => s.centers(ex)
        case None if targetChunks == m0.chunks => rows0
        case None =>
          val grid = ZarrStore.chunkGrid(m0.shape, targetChunks).map(_.toLong).product
          val part = new HashPartitioner(
            math.max(1L, math.min(grid, spark.sparkContext.defaultParallelism.toLong)).toInt)
          ChunkOps.rechunkRdd(rows0, m0, targetChunks, part)._2
      }
      previous = new Level(m, Some(rows), () => {
        val ds = spark.createDataset(rows)
        if (cache) ds.persist(StorageLevel.MEMORY_AND_DISK) else ds
      })
      levels += previous
    }
    Multiscale(levels.result(), method)
  }
}
