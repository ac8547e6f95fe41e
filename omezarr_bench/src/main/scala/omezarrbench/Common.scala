package omezarrbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model.ImageMeta
import graft.operators.ChunkOps.ChunkRow
import graft.zarr.ZarrStore

/** Input sizes of one run. `normal` is what the benchmark measures;
  * `tiny` is for the smoke test.
  */
final case class Sizes(
    setupRepeats: Int,
    pyramidEdge: Int, pyramidChunk: Int,
    tilesEdge: Int, tilesChunk: Int,
    plateRows: Int, plateCols: Int, plateFields: Int, plateSide: Int,
    plateBatches: Int, lookupsPerPlate: Int,
    replayBytes: Int,
    referenceRows: Long,
    pyramidWarmupBuilds: Int,
    plateWarmupLookups: Int,
    minLatencySamples: Int,
    minBuilds: Int)

object Sizes {
  val normal: Sizes = Sizes(setupRepeats = 3,
    pyramidEdge = 128, pyramidChunk = 32,
    tilesEdge = 128, tilesChunk = 32,
    // a 96-well plate: more wells than the metadata upsert pool's 32
    // threads, so the driver-side pass runs in several waves
    plateRows = 8, plateCols = 12, plateFields = 4, plateSide = 64,
    plateBatches = 4, lookupsPerPlate = 100,
    replayBytes = 8 << 20,
    referenceRows = 2000000L,
    // a build's CPU and latency fall over the first builds (13, 9.6, 8.7 s
    // of CPU on one run); a third warm-up build cost 5 s a run and moved
    // the spread of `op_rel_p50` over ten seeds only from 11% to 8–11%
    pyramidWarmupBuilds = 2,
    // the CPU a lookup takes levels off after about 20 lookups
    plateWarmupLookups = 20,
    minLatencySamples = 20,
    minBuilds = 3)
  val tiny: Sizes = Sizes(setupRepeats = 3,
    pyramidEdge = 32, pyramidChunk = 16,
    tilesEdge = 32, tilesChunk = 8,
    plateRows = 2, plateCols = 3, plateFields = 2, plateSide = 16,
    plateBatches = 2, lookupsPerPlate = 6,
    replayBytes = 1 << 20,
    referenceRows = 10000L,
    pyramidWarmupBuilds = 1,
    plateWarmupLookups = 3,
    minLatencySamples = 5,
    minBuilds = 2)
  def named(s: String): Sizes = s match {
    case "normal" => normal
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown size '$other' (normal/tiny)")
  }
}

/** Closed-form uint16 voxel values drawn from the seed: a tilted ramp
  * that wraps at 4096, so every position has a known value and a
  * transposed or shifted chunk changes the position-weighted checksum.
  */
final case class Voxels(seed: Long) {
  private val r = new scala.util.Random(seed)
  val a: Long = 3 + r.nextInt(29)
  val b: Long = 5 + r.nextInt(61)
  val c: Long = 7 + r.nextInt(97)
  val off: Long = r.nextInt(4096).toLong
  def at(z: Long, y: Long, x: Long): Int = ((z * a + y * b + x * c + off) % 4096).toInt
}

/** (voxels, position-weighted sum, plain sum) of one chunk or level, in
  * exact integer arithmetic so the order of a distributed reduction
  * cannot change it.
  */
final case class Stat(tag: Int, n: Long, w: Long, s: Long) {
  def +(o: Stat): Stat = Stat(tag, n + o.n, w + o.w, s + o.s)
  def mean: Double = s.toDouble / n
}

object Stat {
  def weight(z: Long, y: Long, x: Long): Long = (z * 73 + y * 37 + x) % 1000

  def ofChunk(tag: Int, c: ChunkRow, dtype: String): Stat = {
    val v = ZarrStore.decodeToDoubles(c.data, dtype)
    var w = 0L
    var s = 0L
    var i = 0
    var z = 0
    while (z < c.shape(0)) {
      var y = 0
      while (y < c.shape(1)) {
        var x = 0
        while (x < c.shape(2)) {
          val q = v(i).toLong
          w += q * weight(c.origin(0) + z, c.origin(1) + y, c.origin(2) + x)
          s += q
          i += 1; x += 1
        }
        y += 1
      }
      z += 1
    }
    Stat(tag, v.length.toLong, w, s)
  }

  /** Closed-form statistics of a whole `edge`³ volume. */
  def closedForm(vox: Voxels, edge: Int): Stat = {
    var w = 0L
    var s = 0L
    var z = 0
    while (z < edge) {
      var y = 0
      while (y < edge) {
        var x = 0
        while (x < edge) {
          val q = vox.at(z, y, x).toLong
          w += q * weight(z, y, x)
          s += q
          x += 1
        }
        y += 1
      }
      z += 1
    }
    Stat(0, edge.toLong * edge * edge, w, s)
  }

  /** Statistics of several tagged chunk tables in ONE Spark job. */
  def collect(spark: SparkSession, tables: Seq[(Int, Dataset[ChunkRow], String)]): Map[Int, Stat] = {
    import spark.implicits._
    tables.map { case (tag, ds, dtype) => ds.map(c => Stat.ofChunk(tag, c, dtype)) }
      .reduce(_ union _).collect()
      .groupBy(_.tag).map { case (t, ss) => t -> ss.reduce(_ + _) }
  }
}

object Gen {
  /** An `edge`³ uint16 level whose voxels sit `1 << level` base voxels
    * apart.
    */
  def meta(edge: Int, chunk: Int, level: Int = 0): ImageMeta = {
    val f = (1 << level).toDouble
    ImageMeta(Seq("z", "y", "x"), Seq(edge.toLong, edge.toLong, edge.toLong),
      Seq.fill(3)(math.min(chunk, edge)), "uint16",
      Map("z" -> f, "y" -> f, "x" -> f), Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
  }

  /** The level's chunk table, generated on the executors: the driver
    * ships only grid positions. Level `k` samples the closed form every
    * `1 << k` voxels.
    */
  def volume(spark: SparkSession, meta: ImageMeta, vox: Voxels, tasks: Int,
      level: Int = 0): Dataset[ChunkRow] = {
    import spark.implicits._
    val shape = meta.shape
    val chunks = meta.chunks
    val positions = ZarrStore.gridPositions(ZarrStore.chunkGrid(shape, chunks)).toSeq
    spark.createDataset(positions).repartition(math.max(1, math.min(tasks, positions.size)))
      .map { idx =>
        val cShape = ZarrStore.chunkShapeAt(shape, chunks, idx)
        val o = ZarrStore.chunkOriginAt(chunks, idx)
        ChunkRow(idx, o, cShape, chunkBytes(vox, o, cShape, level))
      }
  }

  /** One chunk's closed-form payload (uint16, C order). */
  def chunkBytes(vox: Voxels, o: Seq[Long], shape: Seq[Int], level: Int = 0): Array[Byte] = {
    val out = new Array[Double](shape.product)
    var i = 0
    for (z <- 0 until shape(0); y <- 0 until shape(1); x <- 0 until shape(2)) {
      out(i) = vox.at((o(0) + z) << level, (o(1) + y) << level, (o(2) + x) << level).toDouble
      i += 1
    }
    ZarrStore.encodeFromDoubles(out, "uint16")
  }
}

object Dirs {
  /** Recursive delete; a missing path is not an error. */
  def delete(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = java.nio.file.Files.list(p)
      try s.forEach(delete(_)) finally s.close()
    }
    java.nio.file.Files.deleteIfExists(p)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Zipf-skewed choice among `n` items (exponent 1.1), over a seeded
  * permutation so the hot items differ from seed to seed.
  */
final class Zipf(n: Int, rng: scala.util.Random) {
  private val perm = rng.shuffle((0 until n).toVector)
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, 1.1))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def next(): Int = {
    val u = rng.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    perm(math.min(i, n - 1))
  }
}

/** What one run shares across its set-up, loop, checks and probes. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val sizes: Sizes, val work: java.nio.file.Path, val tracer: Tracer) {
  val rng = new scala.util.Random(seed)
  /** A failed output check: counted against the op that produced it. */
  var failedChecks = 0
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) { failedChecks += 1; if (failures.length < 20) failures += what }
    ok
  }
  def path(name: String): String = work.resolve(name).toString
}

/** One workload: set-up (repeatable), one closed-loop step, and the
  * numbers its end-to-end metrics come from.
  */
trait Workload {
  /** Op kind whose latency is the workload's `op_ms_*`. */
  def primary: String
  /** Op kind the `spark.*` per-op metrics are taken over. */
  def sparkKind: String = primary
  /** The loop runs past `--seconds` until it has this many `primary`
    * samples.
    */
  def minSamples: Int = 1
  def setup(): Unit
  /** Runs once after set-up, untimed, so that JIT compilation and lazy
    * engine set-up do not land in the timed steps. It does the same work
    * in every run, however fast the host is.
    */
  def warmup(): Unit
  /** One step of the closed loop; `k` counts steps from 0. */
  def step(k: Int): Unit
  /** Megavoxels per second through the workload's main path, for the
    * run record.
    */
  def mvoxPerSecond: Double
  /** The store the zarr replay probe replays, and how the workload's
    * writes divide into ops for the per-op write counters.
    */
  def replayStore: String
  def writesPerOp: Option[WriteUnit]
  /** Workload-specific per-layer metrics (traced run). */
  def layerMetrics: Map[String, Double] = Map.empty
}

/** A written store, the ops that wrote one copy of it, and the voxels
  * (and fields) it holds.
  */
final case class WriteUnit(store: String, voxels: Long, itemSize: Int, fields: Long)
