package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Model.ImageMeta
import graft.zarr.ZarrStore

/** Region adjacency graph (RAG) over a LABELED volume — which
  * segmentation regions touch which, with exact shared-face counts
  * (skimage `graph.rag` / ITK LabelMap adjacency): the post-
  * segmentation structure every merge/split heuristic and
  * neighborhood-statistics pass keys on. Input values are integral
  * region labels, 0 = background; output one row per unordered
  * touching pair (va < vb, both > 0) with the number of shared voxel
  * faces (4-/6-connectivity).
  *
  * Scale shape (the same decomposition as the CCL family): adjacent
  * pairs INSIDE a chunk are counted in one local pass and leave the
  * task pre-aggregated (one row per distinct pair per chunk); only
  * face cells — O(surface) — cross chunks, as ONE equi-join per axis
  * whose crossing predicate (`pos % chunk == chunk-1`) guarantees
  * each cross-chunk face is counted exactly once and never
  * double-counts a within-chunk pair. Voxels never shuffle.
  */
object RegionGraph {

  /** kind 0 = local pair partial (va, vb, n); kind 1 = face cell
    * (z, y, x carry the global position, va the label).
    */
  final case class RagRow(kind: Int, z: Long, y: Long, x: Long,
      va: Long, vb: Long, n: Long)

  def adjacency2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): DataFrame = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    adjacencyNd(spark, ds, meta)
  }

  def adjacency3d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): DataFrame = {
    require(meta.dims == Seq("z", "y", "x"), s"3D entry point, got ${meta.dims}")
    adjacencyNd(spark, ds, meta)
  }

  private def adjacencyNd(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): DataFrame = {
    import spark.implicits._
    val nd = meta.dims.length
    require(nd == 2 || nd == 3, s"RAG supports 2D/3D, got ${meta.dims}")
    val dtype = meta.dtype

    val rows = ds.flatMap { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val shape = c.shape.toArray
      val origin = c.origin.toArray
      val n = vals.length
      val lstrides = new Array[Int](nd)
      lstrides(nd - 1) = 1
      var d = nd - 2
      while (d >= 0) { lstrides(d) = lstrides(d + 1) * shape(d + 1); d -= 1 }
      // full-Long pair keys: CCL labels are min-global-voxel-ids, so
      // volumes past 2^31 voxels produce labels a packed (min<<32|max)
      // key cannot carry — a two-level LongMap (min -> max -> n) keeps
      // the keys primitive (no boxing on the hot path) at ANY label
      val pairs = scala.collection.mutable.LongMap
        .empty[scala.collection.mutable.LongMap[Long]]
      val out = scala.collection.mutable.ArrayBuffer.empty[RagRow]
      var i = 0
      while (i < n) {
        val v = vals(i).toLong
        if (v > 0) {
          var dd = 0
          var onFace = false
          while (dd < nd) {
            val lp = (i / lstrides(dd)) % shape(dd)
            if (lp + 1 < shape(dd)) {
              val w = vals(i + lstrides(dd)).toLong
              if (w > 0 && w != v) {
                val inner = pairs.getOrElseUpdate(math.min(v, w),
                  scala.collection.mutable.LongMap.empty[Long])
                val hi = math.max(v, w)
                inner(hi) = inner.getOrElse(hi, 0L) + 1L
              }
            }
            if (lp == 0 || lp == shape(dd) - 1) onFace = true
            dd += 1
          }
          if (onFace) {
            def gpos(dim: Int): Long = origin(dim) + (i / lstrides(dim)) % shape(dim)
            val (zz, yy, xx) =
              if (nd == 3) (gpos(0), gpos(1), gpos(2)) else (0L, gpos(0), gpos(1))
            out += RagRow(1, zz, yy, xx, v, 0L, 0L)
          }
        }
        i += 1
      }
      pairs.foreach { case (va, inner) =>
        inner.foreach { case (vb, cnt) => out += RagRow(0, 0, 0, 0, va, vb, cnt) }
      }
      out
    }.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val localPairs = rows.filter(col("kind") === 0)
      .select(col("va"), col("vb"), col("n"))
    val cells = rows.filter(col("kind") === 1)
      .select(col("z"), col("y"), col("x"), col("va").as("v"))
    val names = if (nd == 3) Seq("z", "y", "x") else Seq("y", "x")
    // one equi-join per axis; the high-face predicate makes the pair
    // cross-chunk by construction (within-chunk neighbors were
    // counted locally)
    val crossPairs = names.zipWithIndex.map { case (nm, d) =>
      val others = Seq("z", "y", "x").filterNot(_ == nm)
      val cond = others.map(o => col(s"a.$o") === col(s"b.$o"))
        .reduce(_ && _) &&
        col(s"a.$nm") + 1 === col(s"b.$nm") &&
        (col(s"a.$nm") % meta.chunks(d) === meta.chunks(d) - 1)
      cells.as("a").join(cells.as("b"), cond)
        .filter(col("a.v") =!= col("b.v"))
        .select(least(col("a.v"), col("b.v")).as("va"),
          greatest(col("a.v"), col("b.v")).as("vb"), lit(1L).as("n"))
    }.reduce(_ unionAll _)

    val out = localPairs.unionAll(crossPairs)
      .groupBy(col("va"), col("vb"))
      .agg(sum(col("n")).cast("bigint").as("n_faces"))
      .localCheckpoint(eager = true)
    rows.unpersist()
    out
  }

  /** Per-region intensity statistics over TWO aligned volumes — the
    * regionprops `intensity_image` tier: a label volume names the
    * regions, a second volume carries the measurement channel, and
    * the output is one exact row per region (n, sum, min, max of
    * intensity; integral dtypes keep everything in Long). The
    * two-volume join is the standard multi-channel pattern: ONE
    * chunk-aligned equi-join on chunk_idx (the grids must match — no
    * voxel ever moves to meet its partner), a local joint pass
    * pre-aggregates per (chunk, label), and the only shuffle after
    * the join is the label-keyed re-aggregation over
    * region-count-sized partials.
    */
  def regionIntensityStats(spark: SparkSession,
      labels: Dataset[ChunkOps.ChunkRow], labelMeta: ImageMeta,
      intensity: Dataset[ChunkOps.ChunkRow], intensityMeta: ImageMeta): DataFrame = {
    import spark.implicits._
    require(labelMeta.dims == intensityMeta.dims &&
      labelMeta.shape == intensityMeta.shape &&
      labelMeta.chunks == intensityMeta.chunks,
      s"volumes must share grid: ${labelMeta.dims}/${labelMeta.shape}/${labelMeta.chunks}" +
        s" vs ${intensityMeta.dims}/${intensityMeta.shape}/${intensityMeta.chunks}")
    val lDtype = labelMeta.dtype
    val iDtype = intensityMeta.dtype
    val joined = labels.toDF().select(col("chunk_idx"), col("data").as("ldata"))
      .join(intensity.toDF().select(col("chunk_idx"), col("data").as("idata")),
        Seq("chunk_idx"))
      .select(col("ldata"), col("idata"))
      .as[(Array[Byte], Array[Byte])]
    joined.flatMap { case (ldata, idata) =>
      val lv = ZarrStore.decodeToDoubles(ldata, lDtype)
      val iv = ZarrStore.decodeToDoubles(idata, iDtype)
      val m = new java.util.HashMap[Long, Array[Long]]()
      var i = 0
      while (i < lv.length) {
        val lab = lv(i).toLong
        if (lab > 0) {
          val x = iv(i).toLong
          var s = m.get(lab)
          if (s == null) {
            s = Array(0L, 0L, Long.MaxValue, Long.MinValue)
            m.put(lab, s)
          }
          s(0) += 1; s(1) += x
          if (x < s(2)) s(2) = x
          if (x > s(3)) s(3) = x
        }
        i += 1
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map { e =>
        (e.getKey.longValue(), e.getValue()(0), e.getValue()(1),
          e.getValue()(2), e.getValue()(3))
      }
    }.toDF("label", "n", "sum", "min", "max")
      .groupBy(col("label"))
      .agg(sum(col("n")).cast("bigint").as("n"),
        sum(col("sum")).cast("bigint").as("sum_v"),
        min(col("min")).cast("bigint").as("min_v"),
        max(col("max")).cast("bigint").as("max_v"))
  }
}
