package graft.tools

import graft.meta.Model._
import graft.operators.{ChunkOps, Downsample, MultiscaleBuilder, OmeZarrIO}
import graft.zarr.SparkSessions
import org.apache.spark.sql.{Dataset, SparkSession}
import ChunkOps.ChunkRow

/** Writes the write-parity set: 23 OME-Zarr stores that cover every
  * pyramid method, both Zarr formats, every codec, sharding, re-blocks,
  * ragged chunks, `readMultiscales` bases and the full-resolution
  * filters, from seeded inputs. Run it on two checkouts and compare the
  * trees; a change that keeps the written bytes shows no difference:
  *
  *   sbt "Test/runMain graft.tools.WriteParity <dir>"
  *   diff -r <dir of one checkout> <dir of the other>
  *
  * Prints each store's per-level chunk counts. `<dir>` is replaced.
  */
object WriteParity {

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: WriteParity <dir>")
    val root = new java.io.File(args(0))
    org.apache.commons.io.FileUtils.deleteDirectory(root)
    val spark = SparkSessions.local(math.min(4, Runtime.getRuntime.availableProcessors), "write-parity")
    try stores(spark, root.getAbsolutePath).foreach { case (name, counts) =>
      println(s"$name ${counts.mkString(",")}")
    } finally spark.stop()
  }

  private def image(shape: Seq[Long], dims: Seq[String], chunk: Int, dtype: String,
      seed: Int, max: Int): (ImageMeta, Array[Double]) = {
    val meta = ImageMeta(dims, shape, dims.map(_ => chunk), dtype,
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)
    val r = new scala.util.Random(seed)
    (meta, Array.fill(shape.product.toInt)(r.nextInt(max).toDouble))
  }

  private def cubes(nd: Int, ks: Seq[Int]): Option[Seq[Map[String, Int]]] =
    Some(ks.map(k => Seq("z", "y", "x").takeRight(nd).map(_ -> k).toMap))

  /** Every store of the set under `root`, with its per-level chunk counts. */
  def stores(spark: SparkSession, root: String): Seq[(String, Seq[Long])] = {
    def base(meta: ImageMeta, vals: Array[Double]) =
      MultiscaleBuilder.Level(meta, ChunkOps.fromArray(spark, vals, meta))
    def write(name: String, ms: MultiscaleBuilder.Multiscale, version: String,
        compressor: String, shard: Option[Seq[Int]] = None): (String, Seq[Long]) =
      try name -> OmeZarrIO.writeMultiscales(spark, s"$root/$name.ome.zarr", ms,
        version = version, compressor = Some(compressor), chunksPerShard = shard)
      finally ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
    def pyramid(level: MultiscaleBuilder.Level, factors: Option[Seq[Map[String, Int]]],
        method: Method) = MultiscaleBuilder.toMultiscales(spark, level, factors, method)
    def read(name: String) = OmeZarrIO.readMultiscales(spark, s"$root/$name.ome.zarr").levels.head
    def filtered(name: String, meta: ImageMeta, vals: Array[Double],
        f: Dataset[ChunkRow] => (ImageMeta, Dataset[ChunkRow])) = {
      val (m, ds) = f(ChunkOps.fromArray(spark, vals, meta))
      write(name, MultiscaleBuilder.Multiscale(Seq(MultiscaleBuilder.Level(m, ds)),
        Method.ItkwasmGaussian), "0.4", "zstd")
    }

    val (m2, v2) = image(Seq(100, 76), Seq("y", "x"), 32, "uint16", 1, 65536)
    val (m3, v3) = image(Seq(40, 36, 44), Seq("z", "y", "x"), 8, "uint16", 2, 65536)
    val (m7, v7) = image(Seq(30, 46), Seq("y", "x"), 7, "uint8", 3, 256)
    val (mr, vr) = image(Seq(40, 48, 44), Seq("z", "y", "x"), 12, "uint8", 4, 5)
    val (ml2, vl2) = image(Seq(40, 44), Seq("y", "x"), 12, "uint8", 5, 9)
    val (ml3, vl3) = image(Seq(32, 32, 32), Seq("z", "y", "x"), 8, "uint8", 6, 9)
    val (mf, vf) = image(Seq(36, 40, 28), Seq("z", "y", "x"), 8, "float32", 7, 1000)
    val (mb, vb) = image(Seq(128, 128, 128), Seq("z", "y", "x"), 32, "uint16", 8, 65536)
    val (mu8, vu8) = image(Seq(60, 52), Seq("y", "x"), 16, "uint8", 9, 256)
    val bin2 = cubes(2, Seq(2, 4, 8))
    val (mre, dsre) = ChunkOps.rechunk(spark, ChunkOps.fromArray(spark, v2, m2), m2, Seq(24, 20))

    Seq(
      write("bin2d-v04-blosc", pyramid(base(m2, v2), bin2, Method.ItkwasmBinShrink), "0.4", "blosc"),
      write("bin2d-v05-zstd", pyramid(base(m2, v2), bin2, Method.ItkwasmBinShrink), "0.5", "zstd"),
      write("bin2d-v05-sharded", pyramid(base(m2, v2), bin2, Method.ItkwasmBinShrink),
        "0.5", "zstd", Some(Seq(2, 2))),
      write("gauss2d-v04-gzip", pyramid(base(m2, v2), bin2, Method.ItkwasmGaussian), "0.4", "gzip"),
      write("gauss3d-v05-sharded", pyramid(base(m3, v3), cubes(3, Seq(2, 4)),
        Method.ItkwasmGaussian), "0.5", "zstd", Some(Seq(2, 2, 2))),
      write("gauss3d-v04-zstd", pyramid(base(m3, v3), cubes(3, Seq(2, 4)),
        Method.ItkwasmGaussian), "0.4", "zstd"),
      write("rechunked-gauss2d-v05-blosc-sharded", pyramid(MultiscaleBuilder.Level(mre, dsre),
        bin2, Method.ItkwasmGaussian), "0.5", "blosc", Some(Seq(2, 2))),
      write("gauss2d-over-read-base", pyramid(read("bin2d-v04-blosc"), bin2,
        Method.ItkwasmGaussian), "0.5", "zstd"),
      write("bin-reblock-7", pyramid(base(m7, v7), cubes(2, Seq(2, 4)), Method.ItkwasmBinShrink),
        "0.4", "zstd"),
      write("gauss-unaligned-7", pyramid(base(m7, v7), cubes(2, Seq(2, 4)), Method.ItkwasmGaussian),
        "0.4", "zstd"),
      write("mode-unaligned-7", pyramid(base(m7, v7), cubes(2, Seq(2, 4)), Method.DaskImageMode),
        "0.4", "zstd"),
      write("mode3d-ragged", pyramid(base(mr, vr), cubes(3, Seq(2, 4, 8)), Method.DaskImageMode),
        "0.5", "zstd"),
      write("mode-over-read-base", pyramid(read("mode-unaligned-7"), cubes(2, Seq(2, 4)),
        Method.DaskImageMode), "0.4", "zstd"),
      write("label2d-ragged", pyramid(base(ml2, vl2), cubes(2, Seq(2, 4)),
        Method.ItkwasmLabelImage), "0.4", "zstd"),
      write("label3d-sharded", pyramid(base(ml3, vl3), cubes(3, Seq(2, 4)),
        Method.ItkwasmLabelImage), "0.5", "zstd", Some(Seq(2, 2, 2))),
      write("dask-gauss3d-float32", pyramid(base(mf, vf), cubes(3, Seq(2, 4)),
        Method.DaskImageGaussian), "0.5", "zstd"),
      // the benchmark's shape: a v0.4 blosc base read back, three
      // gaussian levels, a v0.5 sharded zstd write
      write("bench-base", MultiscaleBuilder.Multiscale(Seq(base(mb, vb)), Method.ItkwasmGaussian),
        "0.4", "blosc"),
      write("bench-explicit", pyramid(read("bench-base"), cubes(3, Seq(2, 4, 8)),
        Method.ItkwasmGaussian), "0.5", "zstd", Some(Seq(2, 2, 2))),
      write("bench-planned", pyramid(read("bench-base"), None, Method.ItkwasmGaussian),
        "0.5", "zstd", Some(Seq(2, 2, 2))),
      filtered("erode3d", m3, v3, Downsample.morphology(spark, _, m3, Array(1, 2, 1), dilate = false)),
      filtered("sobel2d", mu8, vu8, Downsample.sobelSq(spark, _, mu8)),
      filtered("median2d", mu8, vu8, Downsample.medianFilter(spark, _, mu8)),
      filtered("adaptive2d", mu8, vu8, Downsample.adaptiveThreshold(spark, _, mu8, 3, 2L)))
  }
}
