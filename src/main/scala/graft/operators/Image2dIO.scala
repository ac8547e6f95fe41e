package graft.operators

import org.apache.spark.sql.SparkSession
import graft.meta.Model.ImageMeta
import graft.ops.Multimodal
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — 2-D bitmap ingestion (.png/.jpg/.jpeg/.bmp/.gif/.jp2): the
  * reference routes these through itkwasm/imageio
  * (`py/ngff_zarr/detect_cli_io_backend.py:36-68`); here they decode
  * through the same pure-JVM stack the multimodal operators use
  * ([[Multimodal.decodeImage]]: spec-parsed BMP/PPM, `javax.imageio`
  * for PNG/JPEG/GIF) and scatter into the chunk grid. A 2-D bitmap is
  * driver-decodable by nature (these codecs are not splittable and
  * the formats top out far below volume scale); the refuse-loudly cap
  * keeps a mislabeled giant from silently OOMing the driver — convert
  * anything larger to TIFF/zarr upstream for parallel ingest.
  */
object Image2dIO {

  private val MaxBytes = 256L << 20

  def read(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeFormats.VolumeImage = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    val size = store.size("")
    require(size <= MaxBytes,
      s"$path is $size bytes — 2-D bitmap decode is driver-side and " +
        s"capped at $MaxBytes; convert to TIFF or zarr for parallel ingest")
    val img = Multimodal.decodeImage(store.readBytes(""))
    val dims = Seq("y", "x") ++ (if (img.channels > 1) Seq("c") else Nil)
    val shape = Seq(img.height.toLong, img.width.toLong) ++
      (if (img.channels > 1) Seq(img.channels.toLong) else Nil)
    val chunks = chunkShape.getOrElse(
      Seq(math.min(256, img.height), math.min(256, img.width)) ++
        (if (img.channels > 1) Seq(img.channels) else Nil))
    val meta = ImageMeta(dims, shape, chunks, "uint8",
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)
    // decoded pixels are row-major interleaved — already C order for
    // (y, x[, c])
    val vals = new Array[Double](img.pixels.length)
    var i = 0
    while (i < vals.length) { vals(i) = img.pixels(i) & 0xff; i += 1 }
    VolumeFormats.VolumeImage(meta, ChunkOps.fromArray(spark, vals, meta))
  }

  private val bitmapExts =
    Seq(".png", ".jpg", ".jpeg", ".bmp", ".gif", ".ppm", ".jp2", ".j2c", ".j2k")

  /** Expand a series input to its ordered slice list: a `*` glob
    * resolves through the Hadoop filesystem and sorts
    * lexicographically (the reference's `sorted(glob(...))` via
    * `dask.array.image.imread`); a directory lists its bitmap files
    * sorted; an explicit multi-path list keeps the caller's order
    * (`itk.imread(list)` stacks in list order).
    */
  def expandSeries(spark: SparkSession, inputs: Seq[String]): Seq[String] = {
    require(inputs.nonEmpty, "empty image-series input")
    if (inputs.length > 1) inputs
    else {
      val one = inputs.head
      val hconf = spark.sparkContext.hadoopConfiguration
      if (one.contains("*")) {
        val p = new org.apache.hadoop.fs.Path(one)
        val fs = p.getFileSystem(hconf)
        val hits = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).map(_.getPath.toString).sorted
        require(hits.nonEmpty, s"glob $one matched no files")
        hits
      } else {
        val p = new org.apache.hadoop.fs.Path(one)
        val fs = p.getFileSystem(hconf)
        if (fs.getFileStatus(p).isDirectory) {
          val hits = fs.listStatus(p).toSeq
            .filter(s => s.isFile &&
              bitmapExts.exists(s.getPath.getName.toLowerCase.endsWith))
            .map(_.getPath.toString).sorted
          require(hits.nonEmpty, s"$one contains no bitmap slices")
          hits
        } else Seq(one)
      }
    }
  }

  /** S10 — 2-D image series → z-stack: a glob / directory / list of
    * per-slice bitmaps stacks into one volume with dims (z, y, x)
    * (+ trailing c for multi-channel slices), unit spacing, zero
    * translation — the reference's `dask.array.image.imread` path
    * (`py/ngff_zarr/cli_input_to_ngff_image.py:50-57`) and default
    * dims (`py/ngff_zarr/to_ngff_image.py:61-68`).
    *
    * Scale posture: this is the file-per-slice shape a distributed
    * engine is FOR — each task reads and decodes exactly one slice
    * and emits its (z, y, x) chunk row, so a million-slice series
    * never touches the driver (only slice 0 decodes there, to fix
    * the expected geometry). Every task re-asserts its slice against
    * that geometry, so a ragged series fails the job loudly instead
    * of writing a silently sheared volume.
    */
  def readSeries(spark: SparkSession, inputs: Seq[String]): VolumeFormats.VolumeImage = {
    import spark.implicits._
    val paths = expandSeries(spark, inputs)
    // a glob/directory that legitimately matches one file is a single
    // 2-D image, not an error — ingest it through the bitmap path
    if (paths.length == 1) return read(spark, paths.head)
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val first = Multimodal.decodeImage(
      new ZarrStore(paths.head, hconf).readBytes(""))
    val (h, w, c) = (first.height, first.width, first.channels)
    val nz = paths.length.toLong

    val dims = Seq("z", "y", "x") ++ (if (c > 1) Seq("c") else Nil)
    val shape = Seq(nz, h.toLong, w.toLong) ++
      (if (c > 1) Seq(c.toLong) else Nil)
    val chunks = Seq(1, h, w) ++ (if (c > 1) Seq(c) else Nil)
    val meta = ImageMeta(dims, shape, chunks, "uint8",
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)

    val tasks = paths.zipWithIndex
    val chunkRows = spark.createDataset(tasks)
      .repartition(math.min(tasks.length, spark.sparkContext.defaultParallelism))
      .map { case (path, z) =>
        val img = Multimodal.decodeImage(new ZarrStore(path, hconf).readBytes(""))
        require(img.height == h && img.width == w && img.channels == c,
          s"slice $path is ${img.height}x${img.width}x${img.channels}, " +
            s"series is ${h}x${w}x$c — ragged series refuse")
        // decoded pixels are row-major interleaved: already C order
        // for the (z=1, y, x[, c]) chunk payload
        val idx = Seq(z, 0, 0) ++ (if (c > 1) Seq(0) else Nil)
        val origin = Seq(z.toLong, 0L, 0L) ++ (if (c > 1) Seq(0L) else Nil)
        val cshape = Seq(1, h, w) ++ (if (c > 1) Seq(c) else Nil)
        ChunkOps.ChunkRow(idx, origin, cshape, img.pixels.clone())
      }
    VolumeFormats.VolumeImage(meta, chunkRows)
  }
}
