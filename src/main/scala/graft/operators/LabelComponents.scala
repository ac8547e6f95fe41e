package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Model.ImageMeta
import graft.zarr.ZarrStore

/** Distributed connected-component labeling over the chunk table —
  * the segmentation-mask analysis step downstream of the reference's
  * label-image pyramids (`py/ngff_zarr/methods/_support.py` routes
  * label images to nearest/mode downsamplers; counting and measuring
  * the labeled objects is what those pyramids exist FOR). Supports
  * 2D (y, x) and 3D (z, y, x) volumes with 4-/6-connectivity.
  *
  * Scale shape (the textbook block-partitioned CCL decomposition):
  *
  *  1. Per chunk, ONE pass labels foreground voxels with a dense
  *     array union-find (local linear indices — no hashing, ~9
  *     bytes/voxel peak). Each local fragment is named by the GLOBAL
  *     linear index of its minimum voxel, so fragment ids are unique
  *     across chunks without coordination.
  *  2. Only two things leave the task: per-fragment partial stats
  *     (one row per fragment per chunk) and boundary cells — the
  *     foreground voxels on chunk faces, O(surface) not O(volume).
  *  3. Cross-chunk adjacency is ONE equi-join of the boundary-cell
  *     table with itself per axis — never a voxel-level shuffle of
  *     chunk interiors.
  *  4. The fragment graph (edges ≪ voxels) runs through
  *     [[graft.ops.TextDedup.connectedComponents]] — the same
  *     two-stage union-find / min-label propagation machinery the
  *     dedup clustering surface uses — and fragment stats re-key onto
  *     the component minimum and aggregate.
  *
  * At 100 TB the shuffled bytes are fragment rows + chunk faces; the
  * volume itself is read once and never moves.
  */
object LabelComponents {

  /** One local fragment's contribution, fixed 3-axis schema (2D
    * inputs use z = 0): `kind` 0 = partial stats row, 1 = boundary
    * cell (z/y/x carry the global voxel position).
    */
  final case class FragRow(kind: Int, plabel: Long, z: Long, y: Long, x: Long,
      size: Long, zmin: Long, zmax: Long, ymin: Long, ymax: Long,
      xmin: Long, xmax: Long, vsum: Long)

  /** Per-voxel fragment assignment (2D inputs use z = 0). */
  final case class VoxelFrag(z: Long, y: Long, x: Long, gid: Long, plabel: Long)

  private def checkDims(meta: ImageMeta): Int = {
    require(meta.dims == Seq("y", "x") || meta.dims == Seq("z", "y", "x"),
      s"labeling expects a (y, x) or (z, y, x) image, got ${meta.dims}")
    meta.dims.length
  }

  /** Chunk-local dense union-find over the decoded block; returns the
    * parent array (-1 = background) with path-compressed roots plus
    * a find function. Neighbors along each axis via local strides.
    */
  private def localLabel(vals: Array[Double], shape: Array[Int],
      threshold: Double): (Array[Int], Int => Int) = {
    val nd = shape.length
    val strides = new Array[Int](nd)
    strides(nd - 1) = 1
    var d = nd - 2
    while (d >= 0) { strides(d) = strides(d + 1) * shape(d + 1); d -= 1 }
    val n = vals.length
    val parent = new Array[Int](n)
    var i = 0
    while (i < n) { parent(i) = if (vals(i) >= threshold) i else -1; i += 1 }
    def find(x0: Int): Int = {
      var r = x0
      while (parent(r) != r) r = parent(r)
      var c = x0
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    i = 0
    while (i < n) {
      if (parent(i) >= 0) {
        var rem = i
        d = 0
        while (d < nd) {
          val pos = rem / strides(d)
          rem = rem % strides(d)
          if (pos + 1 < shape(d) && parent(i + strides(d)) >= 0)
            union(i, i + strides(d))
          d += 1
        }
      }
      i += 1
    }
    (parent, find)
  }

  /** Fragment stats + boundary cells for every chunk; the shared
    * first pass of both public views.
    */
  private def fragRows(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    import spark.implicits._
    val nd = checkDims(meta)
    val gstrides: Array[Long] = {
      val a = new Array[Long](nd)
      a(nd - 1) = 1L
      var d = nd - 2
      while (d >= 0) { a(d) = a(d + 1) * meta.shape(d + 1); d -= 1 }
      a
    }
    val dtype = meta.dtype

    ds.flatMap { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val shape = c.shape.toArray
      val origin = c.origin.toArray
      val (parent, find) = localLabel(vals, shape, threshold)
      val n = vals.length
      val lstrides = new Array[Int](nd)
      lstrides(nd - 1) = 1
      var d = nd - 2
      while (d >= 0) { lstrides(d) = lstrides(d + 1) * shape(d + 1); d -= 1 }

      def gpos(i: Int, dim: Int): Long =
        origin(dim) + (i / lstrides(dim)) % shape(dim)
      def gid(i: Int): Long = {
        var s = 0L; var dd = 0
        while (dd < nd) { s += gpos(i, dd) * gstrides(dd); dd += 1 }
        s
      }
      // per-root partials keyed by the fragment's GLOBAL min voxel id;
      // layout: 0 minGid, 1 size, [2+2d, 3+2d] per-dim min/max, last vsum
      val stats = new java.util.HashMap[Int, Array[Long]]()
      var i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          val r = find(i)
          var s = stats.get(r)
          if (s == null) {
            s = new Array[Long](3 + 2 * nd)
            s(0) = Long.MaxValue
            var dd = 0
            while (dd < nd) { s(2 + 2 * dd) = Long.MaxValue; s(3 + 2 * dd) = Long.MinValue; dd += 1 }
            stats.put(r, s)
          }
          val g = gid(i)
          if (g < s(0)) s(0) = g
          s(1) += 1
          var dd = 0
          while (dd < nd) {
            val p = gpos(i, dd)
            if (p < s(2 + 2 * dd)) s(2 + 2 * dd) = p
            if (p > s(3 + 2 * dd)) s(3 + 2 * dd) = p
            dd += 1
          }
          s(2 + 2 * nd) += vals(i).toLong
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[FragRow]
      val it = stats.values().iterator()
      while (it.hasNext) {
        val s = it.next()
        if (nd == 2)
          out += FragRow(0, s(0), 0, 0, 0, s(1), 0, 0, s(2), s(3), s(4), s(5), s(6))
        else
          out += FragRow(0, s(0), 0, 0, 0, s(1), s(2), s(3), s(4), s(5), s(6), s(7), s(8))
      }
      // boundary cells: foreground voxels on any chunk face — the
      // O(surface) handover set
      i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          var onFace = false
          var dd = 0
          while (dd < nd && !onFace) {
            val lp = (i / lstrides(dd)) % shape(dd)
            onFace = lp == 0 || lp == shape(dd) - 1
            dd += 1
          }
          if (onFace) {
            val pl = stats.get(find(i))(0)
            if (nd == 2)
              out += FragRow(1, pl, 0, gpos(i, 0), gpos(i, 1), 0, 0, 0, 0, 0, 0, 0, 0)
            else
              out += FragRow(1, pl, gpos(i, 0), gpos(i, 1), gpos(i, 2), 0, 0, 0, 0, 0, 0, 0, 0)
          }
        }
        i += 1
      }
      out
    }.toDF()
  }

  /** Axis-wise adjacency of boundary cells → fragment edges. Redundant
    * within-chunk pairs (already unified locally) are harmless.
    */
  private def fragEdges(cells: DataFrame): DataFrame = {
    def shifted(zo: Int, yo: Int, xo: Int): DataFrame =
      cells.as("a").join(cells.as("b"),
        col("a.z") + zo === col("b.z") && col("a.y") + yo === col("b.y") &&
          col("a.x") + xo === col("b.x"))
        .select(col("a.plabel").as("doc_a"), col("b.plabel").as("doc_b"))
    shifted(0, 0, 1).union(shifted(0, 1, 0)).union(shifted(1, 0, 0))
      .filter(col("doc_a") =!= col("doc_b"))
  }

  private def componentStats(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    val nd = checkDims(meta)
    // both splits below re-read this; fragment+boundary rows are
    // surface-proportional, so the persist is small by construction
    val frags = fragRows(spark, ds, meta, threshold)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val partials = frags.filter(col("kind") === 0).drop("kind", "z", "y", "x")
    val cells = frags.filter(col("kind") === 1)
      .select(col("plabel"), col("z"), col("y"), col("x"))
    val verts = partials.select(col("plabel").as("doc_id")).distinct()
    // (plabel, cluster_id); roots follow the min-label convention, and
    // the re-aggregation below takes min() anyway so the result never
    // depends on that convention
    val labels = graft.ops.TextDedup.connectedComponents(fragEdges(cells), verts)
    val dimCols =
      if (nd == 2) Seq("ymin", "ymax", "xmin", "xmax")
      else Seq("zmin", "zmax", "ymin", "ymax", "xmin", "xmax")
    val aggs = Seq(min(col("plabel")).as("comp"), sum(col("size")).as("size")) ++
      dimCols.map(c => if (c.endsWith("min")) min(col(c)).as(c) else max(col(c)).as(c)) :+
      sum(col("vsum")).as("vsum")
    val out = partials
      .join(labels.select(col("doc_id").as("plabel"), col("cluster_id")), Seq("plabel"))
      .groupBy(col("cluster_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("comp"), col("size")) ++ dimCols.map(col) :+ col("vsum")): _*)
      .localCheckpoint(eager = true)
    frags.unpersist()
    out
  }

  /** Per-component exact stats for a 2D (y, x) image: voxels with
    * `value >= threshold` are foreground, 4-connectivity. One row per
    * component: (comp = min global linear index, size, ymin, ymax,
    * xmin, xmax, vsum) — vsum exact because imaging dtypes are
    * integral.
    */
  def componentStats2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    componentStats(spark, ds, meta, threshold)
  }

  /** 3D (z, y, x) form, 6-connectivity: (comp, size, zmin, zmax,
    * ymin, ymax, xmin, xmax, vsum).
    */
  def componentStats3d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    require(meta.dims == Seq("z", "y", "x"), s"3D entry point, got ${meta.dims}")
    componentStats(spark, ds, meta, threshold)
  }

  /** Axis column names for the voxel-view outputs (2D drops z). */
  private def axisNames(nd: Int): Seq[String] =
    if (nd == 3) Seq("z", "y", "x") else Seq("y", "x")

  /** Per-voxel component labels — the relabeled mask as a relational
    * view, shared 2D/3D core. Scale note: THIS one does explode
    * voxels (its output is voxel-sized by definition); the component
    * resolution it joins against is fragment-sized and BROADCASTS,
    * so voxels never shuffle — the one exchange is whatever the
    * caller does next.
    */
  private def componentLabelsNd(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    import spark.implicits._
    val nd = checkDims(meta)
    val dtype = meta.dtype
    val gstrides: Array[Long] = {
      val a = new Array[Long](nd)
      a(nd - 1) = 1L
      var d = nd - 2
      while (d >= 0) { a(d) = a(d + 1) * meta.shape(d + 1); d -= 1 }
      a
    }

    // same local pass as fragRows, emitting one row per fg voxel
    val voxelFrag = ds.flatMap { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val shape = c.shape.toArray
      val origin = c.origin.toArray
      val (parent, find) = localLabel(vals, shape, threshold)
      val n = vals.length
      val lstrides = new Array[Int](nd)
      lstrides(nd - 1) = 1
      var d = nd - 2
      while (d >= 0) { lstrides(d) = lstrides(d + 1) * shape(d + 1); d -= 1 }
      def gpos(i: Int, dim: Int): Long =
        origin(dim) + (i / lstrides(dim)) % shape(dim)
      def gid(i: Int): Long = {
        var s = 0L; var dd = 0
        while (dd < nd) { s += gpos(i, dd) * gstrides(dd); dd += 1 }
        s
      }
      val minGid = new java.util.HashMap[Int, Long]()
      var i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          val r = find(i)
          val g = gid(i)
          if (!minGid.containsKey(r) || g < minGid.get(r)) minGid.put(r, g)
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[VoxelFrag]
      i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          val (zz, yy, xx) =
            if (nd == 3) (gpos(i, 0), gpos(i, 1), gpos(i, 2))
            else (0L, gpos(i, 0), gpos(i, 1))
          out += VoxelFrag(zz, yy, xx, gid(i), minGid.get(find(i)).longValue())
        }
        i += 1
      }
      out
    }.toDF()

    // fragment → component resolution: boundary cells come straight
    // off the voxel view (face predicate on global coords — chunk
    // origins sit at multiples of the chunk size, short last chunks
    // caught by the shape-1 terms), the fragment graph is
    // fragment-count-sized, and the resolved map broadcasts — voxels
    // join map-side, never shuffle
    val names = axisNames(nd)
    val facePred = names.zipWithIndex.map { case (nm, d) =>
      (col(nm) % meta.chunks(d) === 0) ||
        (col(nm) % meta.chunks(d) === meta.chunks(d) - 1) ||
        (col(nm) === meta.shape(d) - 1)
    }.reduce(_ || _)
    val cells = voxelFrag.filter(facePred)
      .select(col("plabel"), col("z"), col("y"), col("x"))
    val edges = fragEdges(cells)
    // vertex domain: boundary fragments only — interior fragments never
    // merge across chunks, so the left join below coalesces them to
    // themselves without a voxel-sized distinct()
    val verts = cells.select(col("plabel").as("doc_id")).distinct()
    val labels = graft.ops.TextDedup.connectedComponents(edges, verts)
    val resolve = labels.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("comp"))
      .join(labels, Seq("cluster_id"))
      .select(col("doc_id").as("plabel"), col("comp"))
    voxelFrag.join(broadcast(resolve), Seq("plabel"), "left")
      .select(names.map(col) :+
        coalesce(col("comp"), col("plabel")).as("comp"): _*)
  }

  /** Per-voxel component labels (y, x, comp) for 2D images. */
  def componentLabels2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    componentLabelsNd(spark, ds, meta, threshold)
  }

  /** Per-component geometric moments — the regionprops tier after
    * labeling: size, first moments, exact micro-unit centroids
    * (floor division), and RAW second moments. Raw moments are the
    * right exchange currency: they are exact BIGINTs any consumer
    * can turn into central moments and orientation without
    * re-touching voxels (n·μ20 = n·Σy² − (Σy)², n·μ11 = n·Σyx −
    * Σy·Σx, …), whereas shipping floats would bake in one rounding
    * choice. One map-side-combinable aggregation over the labeled
    * voxel view ([[componentLabels2d]]) — linear at any volume.
    */
  final case class PerimFrag(kind: Int, plabel: Long, y: Long, x: Long,
      size: Long, adj: Long)

  /** Per-component 4-connectivity perimeter (count of fg edges exposed
    * to background or the image border) via the exact identity
    * perimeter = 4·size − 2·adjacencies: every fg–fg neighbor pair
    * hides one edge on each endpoint. Adjacent fg voxels are always
    * the same component, so the pair count aggregates along the SAME
    * fragment→component resolution as size — no voxel ever shuffles.
    * Intra-chunk pairs count in the local union-find pass; cross-chunk
    * pairs come from the O(surface) boundary cells (a face-coordinate
    * equi-join, each pair counted once in its +1 direction).
    */
  def componentPerimeter2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    import spark.implicits._
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    val width = meta.shape(1)
    val chY = meta.chunks(0); val chX = meta.chunks(1)
    val dtype = meta.dtype
    val frags = ds.flatMap { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val shape = c.shape.toArray
      val (parent, find) = localLabel(vals, shape, threshold)
      val h = shape(0); val w = shape(1)
      val oy = c.origin(0); val ox = c.origin(1)
      val n = vals.length
      // per-root: [0] min global id, [1] size, [2] intra-chunk
      // right/down fg–fg pairs (adjacent fg ⇒ same root by 4-conn)
      val stats = new java.util.HashMap[Int, Array[Long]]()
      var i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          val r = find(i)
          var s = stats.get(r)
          if (s == null) { s = Array(Long.MaxValue, 0L, 0L); stats.put(r, s) }
          val g = (oy + i / w) * width + (ox + i % w)
          if (g < s(0)) s(0) = g
          s(1) += 1
          if (i % w + 1 < w && parent(i + 1) >= 0) s(2) += 1
          if (i + w < n && parent(i + w) >= 0) s(2) += 1
        }
        i += 1
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[PerimFrag]
      stats.values().forEach(s => out += PerimFrag(0, s(0), 0, 0, s(1), s(2)))
      i = 0
      while (i < n) {
        if (parent(i) >= 0) {
          val ly = i / w; val lx = i % w
          if (ly == 0 || ly == h - 1 || lx == 0 || lx == w - 1)
            out += PerimFrag(1, stats.get(find(i))(0), oy + ly, ox + lx, 0, 0)
        }
        i += 1
      }
      out
    }.toDF().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val partials = frags.filter(col("kind") === 0).select("plabel", "size", "adj")
    val cells = frags.filter(col("kind") === 1)
      .select(col("plabel"), lit(0L).as("z"), col("y"), col("x"))
    // cross-chunk fg–fg pairs, once each: the +1 neighbor lands in the
    // next chunk exactly when the face coordinate is ≡ −1 (mod chunk)
    def cross(yo: Int, xo: Int, crossing: org.apache.spark.sql.Column) =
      cells.as("a").join(cells.as("b"),
        col("a.y") + yo === col("b.y") && col("a.x") + xo === col("b.x") && crossing)
        .select(col("a.plabel").as("plabel"))
    val crossPairs = cross(0, 1, (col("a.x") + 1) % chX === 0)
      .union(cross(1, 0, (col("a.y") + 1) % chY === 0))
    val verts = partials.select(col("plabel").as("doc_id")).distinct()
    val labels = graft.ops.TextDedup.connectedComponents(fragEdges(cells), verts)
      .select(col("doc_id").as("plabel"), col("cluster_id"))
    val crossAgg = crossPairs.join(labels, Seq("plabel"))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cross_adj"))
    val out = partials.join(labels, Seq("plabel"))
      .groupBy(col("cluster_id"))
      .agg(min(col("plabel")).as("comp"), sum(col("size")).as("size"),
        sum(col("adj")).as("local_adj"))
      .join(crossAgg, Seq("cluster_id"), "left")
      .select(col("comp"), col("size").cast("bigint").as("size"),
        (lit(4) * col("size") -
          lit(2) * (col("local_adj") + coalesce(col("cross_adj"), lit(0L))))
          .cast("bigint").as("perimeter"))
      .localCheckpoint(eager = true)
    frags.unpersist()
    out
  }

  def componentMoments2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    componentLabels2d(spark, ds, meta, threshold)
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).cast("bigint").as("size"),
        sum(col("y")).cast("bigint").as("sum_y"),
        sum(col("x")).cast("bigint").as("sum_x"),
        sum(col("y") * col("y")).cast("bigint").as("sum_yy"),
        sum(col("x") * col("x")).cast("bigint").as("sum_xx"),
        sum(col("y") * col("x")).cast("bigint").as("sum_yx"))
      .select(col("comp"), col("size"), col("sum_y"), col("sum_x"),
        col("sum_yy"), col("sum_xx"), col("sum_yx"),
        expr("sum_y * 1000000 div size").as("cy_micro"),
        expr("sum_x * 1000000 div size").as("cx_micro"))
  }

  /** Binary hole filling (scipy.ndimage `binary_fill_holes`,
    * 4-connectivity): a hole is a background component not connected
    * to the image border. Output is the FILLED mask as a sparse
    * relational view — one (y, x) row per set pixel, the same shape
    * the foreground view has.
    *
    * Scale shape: the mask is inverted chunk-locally (one map), the
    * complement runs through the SAME fragment-graph CCL twice —
    * once for fragment-sized bbox stats (never explodes voxels),
    * once for the voxel-view labels whose resolution map broadcasts.
    * Hole components are those whose bbox touches no border: a
    * component-count-sized table that broadcasts into a semi-join.
    * Two scans of the chunk table, zero voxel shuffles; at 100 TB
    * the moving bytes are still fragment rows + chunk faces.
    */
  private def fillHolesNd(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    import spark.implicits._
    val nd = checkDims(meta)
    val names = axisNames(nd)
    val dtype = meta.dtype
    val thr = threshold
    val inv = ds.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val out = new Array[Double](vals.length)
      var i = 0
      while (i < vals.length) { out(i) = if (vals(i) >= thr) 0.0 else 1.0; i += 1 }
      c.copy(data = ZarrStore.encodeFromDoubles(out, "uint8"))
    }
    val invMeta = meta.copy(dtype = "uint8")
    val borderFree = names.zipWithIndex.map { case (nm, d) =>
      col(s"${nm}min") > 0 && col(s"${nm}max") < meta.shape(d) - 1
    }.reduce(_ && _)
    val holes = componentStats(spark, inv, invMeta, threshold = 1.0)
      .filter(borderFree)
      .select(col("comp"))
    val holeVox = componentLabelsNd(spark, inv, invMeta, threshold = 1.0)
      .join(broadcast(holes), Seq("comp"), "left_semi")
      .select(names.map(col): _*)
    ChunkOps.voxelView(spark, ds, meta)
      .filter(col("value") >= thr)
      .select(names.map(col): _*)
      .union(holeVox)
  }

  def fillHoles2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    fillHolesNd(spark, ds, meta, threshold)
  }

  /** 3D (z, y, x) hole filling, 6-connectivity: a hole is a
    * background component whose bbox touches NO face of the volume —
    * the cavity-fill step of every µCT/MRI segmentation pipeline.
    * Same two-scan, zero-voxel-shuffle shape as 2D.
    */
  def fillHoles3d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double): DataFrame = {
    require(meta.dims == Seq("z", "y", "x"), s"3D entry point, got ${meta.dims}")
    fillHolesNd(spark, ds, meta, threshold)
  }

  /** Area opening (skimage.morphology `remove_small_objects`,
    * 4-connectivity): drop foreground components smaller than
    * `minSize` voxels — the standard despeckle between thresholding
    * and measurement. Output is the surviving mask as the sparse
    * (y, x, comp) view.
    *
    * Scale shape: component sizes come from the fragment-sized stats
    * path (voxels never shuffle), survivors broadcast into a
    * semi-join against the labeled voxel view.
    */
  def areaOpen2d(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double, minSize: Long): DataFrame = {
    require(meta.dims == Seq("y", "x"), s"2D entry point, got ${meta.dims}")
    areaOpenNd(spark, ds, meta, threshold, minSize)
  }

  private def areaOpenNd(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, threshold: Double, minSize: Long): DataFrame = {
    val names = axisNames(checkDims(meta))
    val keep = componentStats(spark, ds, meta, threshold)
      .filter(col("size") >= minSize)
      .select(col("comp"))
    componentLabelsNd(spark, ds, meta, threshold)
      .join(broadcast(keep), Seq("comp"), "left_semi")
      .select(names.map(col) :+ col("comp"): _*)
  }
}
