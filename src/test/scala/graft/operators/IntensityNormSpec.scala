package graft.operators

import graft.SparkSpec
import graft.meta.Model.ImageMeta

/** Histogram percentiles vs a sort-based reference, and the rescale
  * invariants.
  */
class IntensityNormSpec extends SparkSpec {

  private def meta(h: Int, w: Int, ch: Int, cw: Int, dtype: String = "uint8") =
    ImageMeta(Seq("y", "x"), Seq(h, w), Seq(ch, cw), dtype,
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))

  test("percentiles match the sorted-rank definition on random data") {
    val rnd = new scala.util.Random(5)
    for (trial <- 0 until 3) {
      val h = 24; val w = 20
      val vals = Array.fill(h * w)(rnd.nextInt(256).toDouble)
      val sorted = vals.map(_.toLong).sorted
      val m = meta(h, w, 8, 8)
      val ds = ChunkOps.fromArray(spark, vals, m)
      val qs = Seq(0L, 10L, 250L, 500L, 900L, 990L, 1000L)
      val got = IntensityNorm.percentilesMilli(spark, ds, m, qs)
      val want = qs.map { q =>
        val rank = math.max(1L, (q * sorted.length + 999L) / 1000L)
        sorted((rank - 1).toInt)
      }
      assert(got == want, s"trial $trial")
    }
  }

  test("normalization: exact milli rescale, chunking-invariant, uint16 out") {
    val h = 16; val w = 16
    val vals = Array.tabulate(h * w)(i => (i % 200).toDouble)
    def run(m: ImageMeta) = {
      val ds = ChunkOps.fromArray(spark, vals, m)
      val (lo, hi, out, om) = IntensityNorm.normalizeMilli(spark, ds, m, 100L, 900L)
      assert(om.dtype == "uint16")
      (lo, hi, ChunkOps.toArray(out, om).toSeq)
    }
    val (lo, hi, multi) = run(meta(h, w, 8, 8))
    val (_, _, single) = run(meta(h, w, 16, 16))
    assert(multi == single)
    // rescale law holds voxel-wise against the driver-side formula
    val expect = vals.map { v =>
      val c = math.min(math.max(v.toLong, lo), hi)
      ((c - lo) * 1000L / (hi - lo)).toDouble
    }.toSeq
    assert(multi == expect)
    assert(multi.forall(v => v >= 0.0 && v <= 1000.0))
  }

  test("otsu separates a clean bimodal image at the valley; chunking-invariant") {
    val h = 16; val w = 16
    // left half ~20, right half ~200: any threshold in (21, 200] is
    // perfect; the exact-integer argmax with smallest-t ties picks 22
    val vals = Array.tabulate(h * w) { i =>
      if (i % w < w / 2) (20 + (i % 2)).toDouble else (200 + (i % 3)).toDouble
    }
    val multi = IntensityNormSpec.otsuThreshold(spark,
      ChunkOps.fromArray(spark, vals, meta(h, w, 8, 8)), meta(h, w, 8, 8))
    val single = IntensityNormSpec.otsuThreshold(spark,
      ChunkOps.fromArray(spark, vals, meta(h, w, 16, 16)), meta(h, w, 16, 16))
    assert(multi == single)
    // candidates are one-past-occupied values (gap-equivalent to the
    // full gray-level scan), so the only perfect separator candidate
    // is t = 22 — and it must win
    assert(multi == 22L, s"threshold $multi fails to separate the modes")
    val table = IntensityNorm.otsuTable(spark,
      ChunkOps.fromArray(spark, vals, meta(h, w, 8, 8)), meta(h, w, 8, 8))
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(table(22L) == table.values.max)
  }

  test("otsu scoring matches a direct BigInt reference on random data") {
    val rnd = new scala.util.Random(3)
    val h = 12; val w = 12
    val vals = Array.fill(h * w)(rnd.nextInt(256).toDouble)
    val got = IntensityNorm.otsuTable(spark,
      ChunkOps.fromArray(spark, vals, meta(h, w, 6, 6)), meta(h, w, 6, 6))
      .collect().map(r => (r.getLong(0), r.getLong(5))).toMap
    val longs = vals.map(_.toLong)
    val total = longs.length.toLong
    val totalSum = longs.sum
    val occupied = longs.distinct.sorted
    occupied.dropRight(1).foreach { v =>
      val t = v + 1
      val n0 = longs.count(_ < t).toLong
      val s0 = longs.filter(_ < t).sum
      val diff = BigInt(s0) * (total - n0) - BigInt(totalSum - s0) * n0
      val want = ((diff * diff * 1000) /
        (BigInt(n0) * (total - n0) * total * total)).toLong
      assert(got(t) == want, s"t=$t")
    }
  }

  test("flat volume normalizes to zero; float dtype refuses") {
    val h = 8; val w = 8
    val m = meta(h, w, 8, 8)
    val ds = ChunkOps.fromArray(spark, Array.fill(h * w)(7.0), m)
    val (lo, hi, out, om) = IntensityNorm.normalizeMilli(spark, ds, m)
    assert(lo == 7L && hi == 7L)
    assert(ChunkOps.toArray(out, om).forall(_ == 0.0))
    val fm = meta(h, w, 8, 8, dtype = "float32")
    val fds = ChunkOps.fromArray(spark, Array.fill(h * w)(1.0), fm)
    intercept[IllegalArgumentException](
      IntensityNorm.percentilesMilli(spark, fds, fm, Seq(500L)))
  }

  test("histEqualize: CDF-remap reference, chunking-invariant, flat → 0") {
    def reference(vals: Array[Double], levels: Long): Array[Double] = {
      val hist = vals.map(_.toLong).groupBy(identity).view
        .mapValues(_.length.toLong).toSeq.sortBy(_._1)
      val total = vals.length.toLong
      val cdfMin = hist.head._2
      var cum = 0L
      val remap = hist.map { case (v, n) =>
        cum += n
        v -> (if (total == cdfMin) 0.0
          else ((cum - cdfMin) * (levels - 1) / (total - cdfMin)).toDouble)
      }.toMap
      vals.map(v => remap(v.toLong))
    }
    val rnd = new scala.util.Random(13)
    val h = 24; val w = 20
    // skewed values so the remap is a genuine stretch
    val vals = Array.fill(h * w)((rnd.nextInt(16) * rnd.nextInt(16) / 16).toDouble)
    val want = reference(vals, 256L).toSeq
    for ((ch, cw) <- Seq((8, 8), (24, 20), (7, 5))) {
      val m = meta(h, w, ch, cw)
      val (eq, om) = IntensityNorm.histEqualize(spark,
        ChunkOps.fromArray(spark, vals, m), m)
      assert(om.dtype == "uint8")
      assert(ChunkOps.toArray(eq, om).toSeq == want, s"chunks $ch x $cw")
    }
    // uint16 widens the level count
    val m16 = meta(h, w, 8, 8, dtype = "uint16")
    val v16 = Array.fill(h * w)((rnd.nextInt(100) * 7).toDouble)
    val (eq16, om16) = IntensityNorm.histEqualize(spark,
      ChunkOps.fromArray(spark, v16, m16), m16)
    assert(om16.dtype == "uint16")
    assert(ChunkOps.toArray(eq16, om16).toSeq == reference(v16, 65536L).toSeq)
    // flat volume: single level → all zero
    val mf = meta(8, 8, 8, 8)
    val (eqf, omf) = IntensityNorm.histEqualize(spark,
      ChunkOps.fromArray(spark, Array.fill(64)(9.0), mf), mf)
    assert(ChunkOps.toArray(eqf, omf).forall(_ == 0.0))
  }

  test("matchHistogram: reference parity, self-identity, chunking-invariant") {
    val rnd = new scala.util.Random(23)
    val h = 20; val w = 20
    val src = Array.fill(h * w)(rnd.nextInt(200).toDouble)
    val ref = Array.fill(12 * 12)((rnd.nextInt(16) * rnd.nextInt(16)).toDouble) // skewed
    val rm = meta(12, 12, 12, 12)
    // driver-side reference: smallest ref value whose CDF reaches v's quantile
    val sHist = src.map(_.toLong).groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val rHist = ref.map(_.toLong).groupBy(identity).view.mapValues(_.length.toLong)
      .toSeq.sortBy(_._1)
    val nS = BigInt(src.length); val nR = BigInt(ref.length)
    val rCum = rHist.scanLeft(0L) { case (c, (_, n)) => c + n }.drop(1)
    var cum = 0L
    val want = sHist.map { case (v, n) =>
      cum += n
      val j = rCum.indexWhere(rc => BigInt(rc) * nS >= BigInt(cum) * nR)
      v -> rHist(if (j < 0) rHist.length - 1 else j)._1.toDouble
    }.toMap
    for (chunks <- Seq((20, 20), (8, 8), (7, 5))) {
      val m = meta(h, w, chunks._1, chunks._2)
      val (out, om) = IntensityNorm.matchHistogram(spark,
        ChunkOps.fromArray(spark, src, m), m,
        ChunkOps.fromArray(spark, ref, rm), rm)
      assert(om.dtype == "uint8")
      val got = ChunkOps.toArray(out, om)
      assert(got.toSeq == src.map(v => want(v.toLong)).toSeq, s"chunks $chunks")
    }
    // matching a volume to itself is the identity
    val m = meta(h, w, 8, 8)
    val (self, omSelf) = IntensityNorm.matchHistogram(spark,
      ChunkOps.fromArray(spark, src, m), m, ChunkOps.fromArray(spark, src, m), m)
    assert(ChunkOps.toArray(self, omSelf).toSeq == src.toSeq)
  }

  test("adaptiveThreshold: partial-window reference parity, chunking-invariant") {
    val rnd = new scala.util.Random(29)
    val h = 20; val w = 24; val r = 2
    val vals = Array.fill(h * w)(rnd.nextInt(256).toDouble)
    val want = (0 until h * w).map { i =>
      val y = i / w; val x = i % w
      var s = 0L; var n = 0L
      for (yy <- math.max(0, y - r) to math.min(h - 1, y + r);
           xx <- math.max(0, x - r) to math.min(w - 1, x + r)) {
        s += vals(yy * w + xx).toLong; n += 1
      }
      if (vals(i).toLong * n > s) 1.0 else 0.0
    }
    for (chunks <- Seq((20, 24), (8, 8), (7, 5))) {
      val m = meta(h, w, chunks._1, chunks._2)
      val (om, out) = Downsample.adaptiveThreshold(spark,
        ChunkOps.fromArray(spark, vals, m), m, radius = r)
      assert(om.dtype == "uint8")
      assert(ChunkOps.toArray(out, om).toSeq == want, s"chunks $chunks")
    }
    // flat field: v*n > s is false everywhere (equality) → all zero
    val mFlat = meta(8, 8, 4, 4)
    val (omF, outF) = Downsample.adaptiveThreshold(spark,
      ChunkOps.fromArray(spark, Array.fill(64)(7.0), mFlat), mFlat, radius = 1)
    assert(ChunkOps.toArray(outF, omF).forall(_ == 0.0))
  }
}

object IntensityNormSpec {
  import graft.meta.Model.ImageMeta
  import org.apache.spark.sql.{Dataset, SparkSession}
  import org.apache.spark.sql.functions.col
  import IntensityNorm.otsuTable

  /** The Otsu threshold: argmax of [[otsuTable]]'s score, smallest t
    * on ties.
    */
  def otsuThreshold(spark: SparkSession, ds: Dataset[ChunkOps.ChunkRow],
      meta: ImageMeta): Long = {
    val top = otsuTable(spark, ds, meta)
      .orderBy(col("score_milli").desc, col("t").asc).limit(1).collect()
    top.head.getLong(0)
  }
}
