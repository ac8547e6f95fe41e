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
  * graph (`py/ngff_zarr/to_multiscales.py:251-418`): each level is
  * RDD lineage over the previous level, wrapped as a Dataset and
  * cached, and `toMultiscales` submits no Spark job. The first action
  * fills the caches — a `writeMultiscales` computes the whole cascade
  * in its one job — and each level then reads the cached previous
  * level or its shuffle output, not the whole cascade (the Spark form
  * of the reference's write-then-reread discipline, C4 —
  * `to_ngff_zarr.py:930-979`).
  *
  * Each level is re-blocked to the output chunks. When the next step
  * is a stencil over exactly that grid, the re-block IS the next
  * step's exchange: the kernel output is cut straight into the next
  * step's extended blocks, the level is the blocks' centers, and the
  * next kernel reads the same shuffle — one exchange per level.
  */
object MultiscaleBuilder {

  final case class Level(meta: ImageMeta, chunks: Dataset[ChunkRow])
  final case class Multiscale(levels: Seq[Level], method: Method,
      omero: Option[Omero] = None) {
    def metadata(name: String = "image", version: String = "0.4"): MultiscalesMeta =
      MultiscalesMeta.of(levels.map(_.meta), name, version, Some(method), omero)
  }

  /** Build the full pyramid. `scaleFactors`: either explicit per-level
    * absolute factor maps, or None → the A1 planner decides. With
    * `cache`, every level above the base is a `MEMORY_AND_DISK`
    * Dataset cache that `Level.chunks.unpersist()` frees.
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
        case None => Downsample.stepRdd(previous.chunks.rdd, previous.meta, dimFactors, method)
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
      // a Dataset over an RDD plans no exchange, so neither `.rdd` nor
      // `persist` runs a job; the next step reads this cache (C4) or,
      // fused, the same exchange
      val ds = spark.createDataset(rows)
      previous = Level(m, if (cache) ds.persist(StorageLevel.MEMORY_AND_DISK) else ds)
      levels += previous
    }
    Multiscale(levels.result(), method)
  }
}
