package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.Model.ImageMeta
import graft.zarr.ZarrStore

/** Percentile intensity normalization — the contrast-limited rescale
  * microscopy/radiology pipelines run before training-patch export
  * (clip at exact p_lo/p_hi, stretch to a fixed integer range). The
  * reference leaves intensity handling to downstream viewers (OMERO
  * window metadata, `py/ngff_zarr/v04/zarr_metadata.py` Omero
  * channels); a training pipeline has to bake it in.
  *
  * Exactness + scale shape: for integral dtypes the EXACT percentile
  * is a value-domain histogram problem, not a sort — each task folds
  * its chunks into a ≤ 65536-bin histogram, ONE map-side-combinable
  * aggregation merges them, and the driver walks the cumulative bins
  * (bounded by dtype width, never by volume size). The rescale pass
  * is then embarrassingly chunk-local. Output milli-units in uint16.
  */
object IntensityNorm {

  private val integralWidths: Map[String, Int] =
    Map("uint8" -> 256, "int8" -> 256, "uint16" -> 65536, "int16" -> 65536)

  /** Exact value at rank ceil(q·N/1000) (1-indexed over sorted voxel
    * values) for each q in `qsMilli`. Histogram rows ≤ the dtype's
    * value domain — the collect is bounded by construction.
    */
  def percentilesMilli(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, qsMilli: Seq[Long]): Seq[Long] = {
    import spark.implicits._
    require(integralWidths.contains(meta.dtype),
      s"exact histogram percentiles need an integral dtype, got ${meta.dtype}")
    require(qsMilli.forall(q => q >= 0 && q <= 1000), s"quantiles $qsMilli out of [0,1000]")
    val dtype = meta.dtype
    val hist = ds.mapPartitions { chunks =>
      val m = new java.util.HashMap[Long, Long]()
      chunks.foreach { c =>
        ZarrStore.decodeToDoubles(c.data, dtype).foreach { v =>
          m.merge(v.toLong, 1L, (a, b) => a + b)
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => (e.getKey.longValue(), e.getValue.longValue()))
    }.toDF("v", "n").groupBy("v").agg(sum(col("n")).as("n"))
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    require(total > 0, "empty volume")
    qsMilli.map { q =>
      val rank = math.max(1L, (q * total + 999L) / 1000L)
      var cum = 0L
      var ans = hist.last._1
      var i = 0
      var done = false
      while (i < hist.length && !done) {
        cum += hist(i)._2
        if (cum >= rank) { ans = hist(i)._1; done = true }
        i += 1
      }
      ans
    }
  }

  /** Otsu threshold scoring table: for every candidate threshold t
    * with both classes non-empty (background v < t, foreground
    * v ≥ t), the between-class variance in exact milli units —
    * score(t) = (s0·n1 − s1·n0)² · 1000 / (n0·n1·N²), the classical
    * w0·w1·(μ0−μ1)² form (floor division, ties to the SMALLEST t),
    * which the SQL oracle replays bit-identically. The N² normalizer
    * bounds the score by 250·Vmax² — it fits a Long for every
    * integral dtype at any volume size, unlike the un-normalized
    * diff²/(n0·n1) which wraps past ~750k uint8 voxels; a require
    * guards the narrowing anyway. The histogram is the same bounded
    * distributed job as [[percentilesMilli]]; the per-threshold walk
    * is value-domain-sized driver arithmetic over BigInt, emitted
    * back as a DataFrame.
    */
  def otsuTable(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    require(integralWidths.contains(meta.dtype),
      s"otsu needs an integral dtype, got ${meta.dtype}")
    val dtype = meta.dtype
    val hist = ds.mapPartitions { chunks =>
      val m = new java.util.HashMap[Long, Long]()
      chunks.foreach { c =>
        ZarrStore.decodeToDoubles(c.data, dtype).foreach { v =>
          m.merge(v.toLong, 1L, (a, b) => a + b)
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => (e.getKey.longValue(), e.getValue.longValue()))
    }.toDF("v", "n").groupBy("v").agg(sum(col("n")).as("n"))
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val totalSum = hist.map { case (v, n) => v * n }.sum
    require(total > 0, "empty volume")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Long, Long)]
    var n0 = 0L
    var s0 = 0L
    // candidate thresholds: one past each occupied value — identical
    // to scanning all gray levels, minus the empty-class degenerates
    hist.foreach { case (v, n) =>
      n0 += n; s0 += v * n
      val t = v + 1
      val n1 = total - n0
      val s1 = totalSum - s0
      if (n1 > 0) {
        val diff = BigInt(s0) * n1 - BigInt(s1) * n0
        val score = (diff * diff * 1000) /
          (BigInt(n0) * n1 * total * total)
        require(score.isValidLong, s"otsu score overflow at t=$t")
        rows += ((t, n0, n1, s0, s1, score.toLong))
      }
    }
    spark.createDataset(rows.toSeq)
      .toDF("t", "n0", "n1", "s0", "s1", "score_milli")
  }

  /** ONE bounded value-domain histogram pass (≤65536 bins for the
    * integral dtypes): per-partition open hash → one tiny groupBy →
    * sorted (value, count) pairs on the driver. Shared by
    * [[histEqualize]] and [[matchHistogram]].
    */
  private def valueHistogram(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      dtype: String): Array[(Long, Long)] = {
    import spark.implicits._
    ds.mapPartitions { chunks =>
      val m = new java.util.HashMap[Long, Long]()
      chunks.foreach { c =>
        ZarrStore.decodeToDoubles(c.data, dtype).foreach { v =>
          m.merge(v.toLong, 1L, (a, b) => a + b)
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().iterator().asScala.map(e => (e.getKey.longValue(), e.getValue.longValue()))
    }.toDF("v", "n").groupBy("v").agg(sum(col("n")).as("n"))
      .orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
  }

  /** Global histogram equalization — the classic CDF remap (OpenCV
    * `equalizeHist` semantics, generalized to any integral dtype):
    * v → ⌊(cdf(v) − cdf_min) · (L−1) / (N − cdf_min)⌋ with cdf_min
    * the count of the smallest occupied level and L the dtype's
    * level count. Scale shape: ONE bounded histogram aggregation
    * (the same ≤65536-bin job as [[percentilesMilli]]) builds the
    * remap table driver-side; the remap pass is chunk-local with
    * the table broadcast — no voxel ever shuffles. A flat volume
    * (single occupied level) maps to all-zero. Output is the
    * unsigned dtype of the same width (the remapped range is
    * [0, L−1] by construction).
    */
  def histEqualize(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): (Dataset[ChunkOps.ChunkRow], ImageMeta) = {
    import spark.implicits._
    require(integralWidths.contains(meta.dtype),
      s"histogram equalization needs an integral dtype, got ${meta.dtype}")
    val dtype = meta.dtype
    val levels = integralWidths(dtype).toLong
    val hist = valueHistogram(spark, ds, dtype)
    val total = hist.map(_._2).sum
    require(total > 0, "empty volume")
    val cdfMin = hist.head._2
    val remap = new java.util.HashMap[Long, Double]()
    var cum = 0L
    hist.foreach { case (v, n) =>
      cum += n
      remap.put(v,
        if (total == cdfMin) 0.0
        else ((cum - cdfMin) * (levels - 1) / (total - cdfMin)).toDouble)
    }
    val bc = spark.sparkContext.broadcast(remap)
    val outDtype = if (levels == 256L) "uint8" else "uint16"
    val outMeta = meta.copy(dtype = outDtype)
    val out = ds.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val eq = new Array[Double](vals.length)
      val m = bc.value
      var i = 0
      while (i < vals.length) { eq(i) = m.get(vals(i).toLong); i += 1 }
      ChunkOps.ChunkRow(c.chunk_idx, c.origin, c.shape,
        ZarrStore.encodeFromDoubles(eq, outDtype))
    }
    (out, outMeta)
  }

  /** Histogram matching (skimage `match_histograms` semantics, exact
    * integer quantile compare): each source value v maps to the
    * SMALLEST reference value r whose CDF reaches v's quantile,
    * F_ref(r) ≥ F_src(v), evaluated as the cross-multiplied integer
    * inequality cum_ref(r)·N_src ≥ cum_src(v)·N_ref — in BigInt, so
    * the compare is exact at ANY voxel count (a Long product
    * overflows near 10⁹·10⁹; see the Otsu overflow lesson). The
    * standard cross-scanner intensity harmonization step.
    *
    * Scale shape: one bounded ≤65536-bin histogram job per volume,
    * the monotone mapping table built driver-side (bin-count-sized)
    * and broadcast; the remap pass is chunk-local — no voxel ever
    * shuffles, and the two histogram jobs are the only reads.
    * Output dtype is the reference's.
    */
  def matchHistogram(spark: SparkSession,
      src: Dataset[ChunkOps.ChunkRow], srcMeta: ImageMeta,
      ref: Dataset[ChunkOps.ChunkRow], refMeta: ImageMeta)
      : (Dataset[ChunkOps.ChunkRow], ImageMeta) = {
    import spark.implicits._
    require(integralWidths.contains(srcMeta.dtype) && integralWidths.contains(refMeta.dtype),
      s"histogram matching needs integral dtypes, got ${srcMeta.dtype}/${refMeta.dtype}")
    val srcHist = valueHistogram(spark, src, srcMeta.dtype)
    val refHist = valueHistogram(spark, ref, refMeta.dtype)
    require(srcHist.nonEmpty && refHist.nonEmpty, "empty volume")
    val nSrc = BigInt(srcHist.map(_._2).sum)
    val nRef = BigInt(refHist.map(_._2).sum)
    // both CDFs are sorted by value: one merged monotone walk builds
    // the whole mapping in O(bins)
    val refCum = refHist.scanLeft(0L) { case (c, (_, n)) => c + n }.drop(1)
    val remap = new java.util.HashMap[Long, Double]()
    var cumS = 0L
    var j = 0
    srcHist.foreach { case (v, n) =>
      cumS += n
      while (j < refHist.length - 1 && BigInt(refCum(j)) * nSrc < BigInt(cumS) * nRef) j += 1
      remap.put(v, refHist(j)._1.toDouble)
    }
    val bc = spark.sparkContext.broadcast(remap)
    val srcDtype = srcMeta.dtype
    val outDtype = refMeta.dtype
    val outMeta = srcMeta.copy(dtype = outDtype)
    val out = src.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, srcDtype)
      val eq = new Array[Double](vals.length)
      val m = bc.value
      var i = 0
      while (i < vals.length) { eq(i) = m.get(vals(i).toLong); i += 1 }
      ChunkOps.ChunkRow(c.chunk_idx, c.origin, c.shape,
        ZarrStore.encodeFromDoubles(eq, outDtype))
    }
    (out, outMeta)
  }

  /** Clip to [p_loMilli, p_hiMilli] percentile values and rescale to
    * exact integer milli-units (0..1000), stored as uint16 chunks.
    * Returns (lo, hi, normalized chunk table, new meta). Degenerate
    * flat volumes (hi == lo) normalize to all-zero.
    */
  def normalizeMilli(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta, loQMilli: Long = 10L, hiQMilli: Long = 990L)
      : (Long, Long, Dataset[ChunkOps.ChunkRow], ImageMeta) = {
    import spark.implicits._
    require(loQMilli < hiQMilli,
      s"lo quantile $loQMilli must be below hi $hiQMilli")
    val Seq(lo, hi) = percentilesMilli(spark, ds, meta, Seq(loQMilli, hiQMilli))
    val dtype = meta.dtype
    val outMeta = meta.copy(dtype = "uint16")
    val out = ds.map { c =>
      val vals = ZarrStore.decodeToDoubles(c.data, dtype)
      val norm = new Array[Double](vals.length)
      var i = 0
      while (i < vals.length) {
        val v = math.min(math.max(vals(i).toLong, lo), hi)
        norm(i) = if (hi == lo) 0.0 else ((v - lo) * 1000L / (hi - lo)).toDouble
        i += 1
      }
      ChunkOps.ChunkRow(c.chunk_idx, c.origin, c.shape,
        ZarrStore.encodeFromDoubles(norm, "uint16"))
    }
    (lo, hi, out, outMeta)
  }
}
