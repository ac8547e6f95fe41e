package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import graft.zarr.ZarrStore
import org.apache.spark.sql.classic.ClassicConversions.castToImpl

/** The pyramid cascade is lazy: `toMultiscales` only builds lineage
  * and submits no Spark job, and a build plus its write runs as one
  * job over the cascade's RDDs, filling no cache. A level's `chunks`
  * Dataset is made and cached on first use, and `unpersist` frees it.
  */
class LazyCascadeSpec extends SparkSpec {

  /** Writes `vals` as a one-level v0.4 store and reads it back, so the
    * cascade starts from a `readMultiscales` base (an omezarr scan).
    */
  private def storedBase(meta: ImageMeta, vals: Array[Double]): MultiscaleBuilder.Level = {
    val dir = tempDir("lazy-base").toString + "/in.ome.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, MultiscaleBuilder.Multiscale(
      Seq(MultiscaleBuilder.Level(meta, ChunkOps.fromArray(spark, vals, meta))),
      Method.ItkwasmGaussian))
    OmeZarrIO.readMultiscales(spark, dir).levels.head
  }

  private def image(shape: Seq[Long], dims: Seq[String], chunks: Seq[Int],
      dtype: String, seed: Int, max: Int): (ImageMeta, Array[Double]) = {
    val meta = ImageMeta(dims, shape, chunks, dtype,
      dims.map(_ -> 1.0).toMap, dims.map(_ -> 0.0).toMap)
    val r = new scala.util.Random(seed)
    (meta, Array.fill(shape.product.toInt)(r.nextInt(max).toDouble))
  }

  private val cases = Seq(
    // 3-D gaussian: every level is re-blocked back to the 8³ output chunks
    ("3-D itkwasm_gaussian", image(Seq(32, 32, 32), Seq("z", "y", "x"), Seq(8, 8, 8),
      "uint16", 5, 65536), Seq(2, 4).map(k => Map("z" -> k, "y" -> k, "x" -> k)),
      Method.ItkwasmGaussian),
    ("dask_image_mode", image(Seq(48, 48), Seq("y", "x"), Seq(16, 16), "uint8", 6, 7),
      Seq(2, 4).map(k => Map("y" -> k, "x" -> k)), Method.DaskImageMode),
    // 7 is odd: each step re-blocks to 14 before the bin-shrink
    ("bin-shrink on chunk edges the factor does not divide",
      image(Seq(30, 30), Seq("y", "x"), Seq(7, 7), "uint8", 7, 256),
      Seq(2, 4).map(k => Map("y" -> k, "x" -> k)), Method.ItkwasmBinShrink))

  for ((name, (meta, vals), factors, method) <- cases) {
    test(s"$name: toMultiscales submits no job, and the build plus its write runs as one") {
      val base = storedBase(meta, vals)
      val sc = spark.sparkContext
      val cacheManager = spark.sharedState.cacheManager
      spark.catalog.clearCache() // so the cache manager holds only what this build caches
      val before = sc.getPersistentRDDs.keySet
      val (ms, buildJobs, _) = jobsAndStagesIn(
        MultiscaleBuilder.toMultiscales(spark, base, Some(factors), method))
      try {
        assert(buildJobs == 0, s"toMultiscales ran $buildJobs Spark jobs")
        assert(ms.levels.length == 3)
        val dir = tempDir("lazy-out").toString + "/out.ome.zarr"
        val (counts, writeJobs, _) = jobsAndStagesIn(OmeZarrIO.writeMultiscales(spark, dir, ms,
          version = "0.5", chunksPerShard = Some(meta.dims.map(_ => 2))))
        assert(writeJobs == 1, s"the build and its write ran $writeJobs Spark jobs")
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
          "the write should have persisted no RDD")
        assert(cacheManager.isEmpty, "the write should have cached no level")
        ms.levels.foreach(l => ChunkOps.toArray(l.chunks, l.meta))
        assert((sc.getPersistentRDDs.keySet -- before).size == 2,
          "reading the levels should have filled one cache per level above the base")
        assert(ms.levels.map(l => cacheManager.lookupCachedData(l.chunks).isDefined) ==
          Seq(false, true, true))
        val back = OmeZarrIO.readMultiscales(spark, dir)
        assert(back.levels.map(l => (l.meta.shape, l.meta.chunks)) ==
          ms.levels.map(l => (l.meta.shape, l.meta.chunks)))
        assert(counts == ms.levels.map(l =>
          ZarrStore.chunkGrid(l.meta.shape, l.meta.chunks).map(_.toLong).product))
        back.levels.zip(ms.levels).foreach { case (b, l) =>
          assert(ChunkOps.toArray(b.chunks, b.meta).toSeq == ChunkOps.toArray(l.chunks, l.meta).toSeq,
            s"re-read voxels of ${l.meta.shape} differ from the in-memory level")
        }
      } finally ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"RDDs still persisted after unpersist: ${left.mkString(",")}")
    }
  }
}
