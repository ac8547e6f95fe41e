package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.meta.Model._
import graft.meta.ScalePlanner
import graft.zarr.ZarrStore
import ChunkOps.ChunkRow

/** The pyramid build lifecycle (SURVEY §3.1): plan scales → cascade
  * downsample steps. The build is lazy, like the reference's task
  * graph (`py/ngff_zarr/to_multiscales.py:251-418`): each level is
  * RDD lineage over the previous level, wrapped as a Dataset and
  * cached, and `toMultiscales` submits no Spark job. The first action
  * fills the caches — a `writeMultiscales` computes the whole cascade
  * in its one job — and each level then reads the cached previous
  * level, not the whole cascade (the Spark form of the reference's
  * write-then-reread discipline, C4 — `to_ngff_zarr.py:930-979`).
  */
object MultiscaleBuilder {

  final case class Level(meta: ImageMeta, chunks: Dataset[ChunkRow])
  final case class Multiscale(levels: Seq[Level], method: Method,
      omero: Option[Omero] = None) {
    def metadata(name: String = "image", version: String = "0.4"): MultiscalesMeta = {
      val axes = levels.head.meta.dims.map { d =>
        Axis(d, axisType(d), levels.head.meta.axesUnits.get(d),
          levels.head.meta.axesOrientations.get(d))
      }
      val datasets = levels.zipWithIndex.map { case (lvl, i) =>
        DatasetMeta(s"scale$i/$name", Seq(
          ScaleT(lvl.meta.dims.map(lvl.meta.scale)),
          TranslationT(lvl.meta.dims.map(lvl.meta.translation))))
      }
      MultiscalesMeta(axes, datasets, version, Some(name),
        Some(method.value), Some(method.metadata), omero)
    }
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

    var previous = base
    var previousDimFactors = meta.dims.map(_ -> 1).toMap
    val levels = Seq.newBuilder[Level]
    levels += base
    factors.foreach { absolute =>
      val dimFactors = ScalePlanner.dimScaleFactors(
        meta.dims, Right(absolute), previousDimFactors)
      previousDimFactors = ScalePlanner.updatePreviousDimFactors(
        Right(absolute), meta.spatialDims, previousDimFactors)
      val (m0, rows0) = Downsample.stepRdd(spark, previous.chunks.rdd, previous.meta,
        dimFactors, method)
      // restore the configured output chunking: downsampling halves
      // chunk edges, the reference rechunks every level to out_chunks
      val targetChunks = m0.dims.zip(m0.shape).map { case (d, n) =>
        math.min(outChunks(d).toLong, n).toInt
      }
      val (m, rows) =
        if (targetChunks == m0.chunks) (m0, rows0)
        else {
          val grid = ZarrStore.chunkGrid(m0.shape, targetChunks).map(_.toLong).product
          val part = new HashPartitioner(
            math.max(1L, math.min(grid, spark.sparkContext.defaultParallelism.toLong)).toInt)
          val (m, pinned) = ChunkOps.rechunkPinned(rows0, m0, targetChunks, part)
          (m, pinned.values)
        }
      // a Dataset over an RDD plans no exchange, so neither `.rdd` nor
      // `persist` runs a job; the next step reads this cache (C4)
      val ds = spark.createDataset(rows)
      previous = Level(m, if (cache) ds.persist(StorageLevel.MEMORY_AND_DISK) else ds)
      levels += previous
    }
    Multiscale(levels.result(), method)
  }
}
