package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftext.TableFrames
import graft.meta.Model._
import graft.meta.Validation
import graft.sources.OmeZarrTable
import graft.zarr.{SerializableHadoopConf, Sharding, ZarrArray, ZarrStore}
import ChunkOps.ChunkRow

/** OME-Zarr store read/write over the chunk table (SURVEY S1/S4):
  *
  * Write: one Spark job puts every stored object of every level — a
  * plain array's chunks, or a sharded array's shards, each built by
  * one task from its inner chunks — straight from the executors (the
  * DataWriter half of a DSv2 BatchWrite); then the driver commits
  * metadata: group docs, array docs, root attrs, consolidated metadata
  * (S8). No pixel data ever moves through the driver.
  *
  * Read: the driver parses metadata only ([[ZarrArray.openPyramid]]);
  * each level is the `omezarr` scan of its scale
  * (`graft.sources.OmeZarrTableProvider`) over the pyramid just opened,
  * whose partitions each hold a run of the level's stored chunk or
  * shard objects, packed by Spark's file-split rule and fetched and
  * decoded lazily by executors. A level of one object is read on the
  * driver instead, when its query is planned.
  */
object OmeZarrIO {

  /** Write a multiscale pyramid as OME-Zarr v0.4 (Zarr v2) or v0.5
    * (Zarr v3). Returns the per-level chunk counts.
    *
    * Every level's chunks are encoded where they sit and keyed by
    * (level, stored object, shard slot): on a plain array the object
    * is the chunk itself, with `chunksPerShard` it is the chunk's
    * shard (S6), and the encoded inner chunks are grouped by that key
    * so each shard is built and written exactly once by one task. The
    * levels are unioned, so one `foreachPartition` puts every object
    * of the pyramid; its result stage adds each level's chunks to that
    * level's accumulator, and the (possibly uncached) pipeline runs
    * exactly once.
    *
    * `enabledRfcs`: RFC 4 anatomical-orientation metadata is STRIPPED
    * from the written axes unless 4 is enabled — the reference's
    * default (`to_ngff_zarr.py:48-63` `_pop_metadata_optionals`).
    */
  def writeMultiscales(spark: SparkSession, path: String,
      ms: MultiscaleBuilder.Multiscale, name: String = "image",
      version: String = "0.4", compressor: Option[String] = Some("zstd"),
      overwrite: Boolean = true, chunksPerShard: Option[Seq[Int]] = None,
      enabledRfcs: Seq[Int] = Nil): Seq[Long] = {
    val errs = Validation.validateWriterParams(version, chunksPerShard)
    require(errs.isEmpty, errs.mkString("; "))
    val hconf = SerializableHadoopConf.broadcast()
    val store = new ZarrStore(path, Some(hconf.value))
    if (overwrite) store.delete("")
    val metaFull = ms.metadata(name, version)
    val meta =
      if (enabledRfcs.contains(4)) metaFull
      else metaFull.copy(axes = metaFull.axes.map(_.copy(orientation = None)))

    val sc = spark.sparkContext
    val zf = if (version == "0.5") 3 else 2
    val arrayPaths = meta.datasets.map(_.path)
    val accs = arrayPaths.map(p => sc.longAccumulator(s"chunks:$p"))
    val encoded = sc.union(ms.levels.zipWithIndex.map { case (lvl, l) =>
      val (fullChunks, dtype) = (lvl.meta.chunks, lvl.meta.dtype)
      lvl.chunks.rdd.map { c =>
        val (obj, slot) = chunksPerShard match {
          case Some(cps) => (c.chunk_idx.zip(cps).map { case (i, n) => i / n },
            Sharding.innerFlatIndex(c.chunk_idx.zip(cps).map { case (i, n) => i % n }, cps))
          case None => (c.chunk_idx, 0)
        }
        ((l, obj), (slot, ZarrArray.encodeChunk(c.shape, c.data, fullChunks, dtype, compressor)))
      }
    })
    val objects = chunksPerShard match {
      case Some(cps) => encoded.groupByKey(sc.defaultParallelism).mapValues { inner =>
        (inner.size.toLong, Sharding.buildShard(cps.product, inner.toMap))
      }
      case None => encoded.mapValues { case (_, bytes) => (1L, bytes) }
    }
    objects.foreachPartition { it =>
      val st = new ZarrStore(path, Some(hconf.value))
      it.foreach { case ((l, obj), (nChunks, bytes)) =>
        st.writeBytes(ZarrStore.chunkKey(zf, arrayPaths(l), obj), bytes)
        accs(l).add(nChunks)
      }
    }
    // driver: every metadata document, after the object job
    ZarrArray.metadataDocs(meta, ms.levels.map(_.meta), compressor, chunksPerShard)
      .foreach { case (k, v) => store.writeString(k, v) }
    accs.map(_.value.longValue())
  }

  /** Read an OME-Zarr store → multiscale levels with lazy chunk
    * tables: the metadata open, then per level the `omezarr` scan of
    * that scale over the pyramid just opened, with the [[ChunkRow]]
    * columns. Building and planning a level open no metadata. A level
    * of one stored object, no heavier than the scan's split size, is
    * read when its query is planned, on the driver, and runs no Spark
    * job; collecting the same Dataset again returns the rows read then.
    * Every other level is an executor scan that reads its objects each
    * time it runs. `validate=true` runs structural + RFC4 validation
    * (V1/V2).
    */
  def readMultiscales(spark: SparkSession, path: String,
      validate: Boolean = false): MultiscaleBuilder.Multiscale = {
    import spark.implicits._
    val pyramid @ (meta, arrays) = ZarrArray.openPyramid(
      new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession())), validate)
    val table = TableFrames.of(spark, new OmeZarrTable(path, Some(pyramid)))
    val dims = meta.axes.map(_.name)
    val levels = meta.datasets.zip(arrays).map { case (d, (i, a)) =>
      val scale = d.coordinateTransformations.collectFirst { case ScaleT(s) => s }
        .getOrElse(Seq.fill(dims.length)(1.0))
      val translation = d.coordinateTransformations.collectFirst { case TranslationT(t) => t }
        .getOrElse(Seq.fill(dims.length)(0.0))
      val imgMeta = ImageMeta(dims, a.shape, a.chunks, a.dtype,
        dims.zip(scale).toMap, dims.zip(translation).toMap,
        name = meta.name.getOrElse("image"),
        axesUnits = meta.axes.flatMap(a => a.unit.map(a.name -> _)).toMap,
        axesOrientations = meta.axes.flatMap(a => a.orientation.map(a.name -> _)).toMap)
      // the table's own columns in table order, so the plan keeps no
      // projection above the scan
      val chunks = table.where(col("scale") === i)
        .select(col("chunk_idx"), col("origin"), col("shape"), col("data"))
        .as[ChunkRow]
      MultiscaleBuilder.Level(imgMeta, chunks)
    }
    MultiscaleBuilder.Multiscale(levels,
      meta.`type`.flatMap(Method.fromValue).getOrElse(Method.ItkwasmGaussian),
      meta.omero)
  }
}
