package omezarrbench

import org.apache.spark.sql.functions.{col, typedLit}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import graft.meta.Model.Method
import graft.operators.{MultiscaleBuilder, OmeZarrIO}
import graft.zarr.ZarrStore

/** `tiles`: a viewer-style read path. Set-up writes a 4-level v0.5
  * sharded zstd pyramid; each step reads one chunk through
  * `spark.read.format("omezarr")` with `scale = s AND chunk_idx = [...]`,
  * collects and decodes it. The scale is drawn uniformly (stratified),
  * the tile Zipf-skewed, so repeat reads exist.
  */
final class TilesWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val edge = sizes.tilesEdge
  private val vox = Voxels(seed)
  private val store = path("tiles.ome.zarr")
  private val levels = 4
  private var grids: IndexedSeq[IndexedSeq[Seq[Int]]] = IndexedSeq.empty
  private var pickers: IndexedSeq[Zipf] = IndexedSeq.empty
  private var voxelsRead = 0.0
  private var readSeconds = 0.0
  private var scans = 0L
  private var partitions = 0L
  private var scannedRows = 0L

  val primary = "tiles.read"
  override def minSamples: Int = sizes.minLatencySamples

  /** Writes the pyramid: each level sampled from the closed form, so
    * every tile's expected payload is known without reading the store.
    */
  def setup(): Unit = {
    val ms = MultiscaleBuilder.Multiscale((0 until levels).map { k =>
      val m = Gen.meta(edge >> k, sizes.tilesChunk, k)
      MultiscaleBuilder.Level(m, Gen.volume(spark, m, vox, 4 * cores, k))
    }, Method.DaskImageNearest)
    OmeZarrIO.writeMultiscales(spark, store, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2, 2)))
    if (pickers.isEmpty) {
      grids = ms.levels.map(l => ZarrStore.gridPositions(
        ZarrStore.chunkGrid(l.meta.shape, l.meta.chunks)).toIndexedSeq).toIndexedSeq
      pickers = grids.map(g => new Zipf(g.length, rng))
    }
  }

  /** Scales in seeded order, each once per block of `levels` reads: a
    * uniform draw whose mix does not vary from run to run (the scales'
    * latencies differ tenfold, so an unbalanced mix would move the p50).
    */
  private var scales = List.empty[Int]

  def step(k: Int): Unit = {
    if (scales.isEmpty) scales = rng.shuffle((0 until levels).toList)
    val s = scales.head
    scales = scales.tail
    read(k, s, grids(s)(pickers(s).next()))
  }

  /** Every tile of every level once, the same work in every run: after
    * a 2 s warm-up the CPU a read took still fell from 320 to 220 ms over
    * the next hundred reads of one run.
    */
  def warmup(): Unit = grids.indices.foreach(s => grids(s).foreach(idx => read(-1, s, idx)))

  private def read(k: Int, s: Int, idx: Seq[Int]): Unit = {
    val t0 = System.nanoTime()
    val (rows, values) = tracer.op(primary, k % 2 == 0) {
      val df = tracer.span("sources.scan_build") {
        val df = spark.read.format("omezarr").load(store)
          .where(col("scale") === s && col("chunk_idx") === typedLit(idx))
        if (tracer.tracing) df.queryExecution.executedPlan
        df
      }
      val rows = tracer.span("spark.collect")(df.collect())
      if (tracer.tracing) {
        val plan = df.queryExecution
        val planned = PlanScans(plan.sparkPlan)
        partitions += planned.map(_.inputPartitions.length.toLong).sum
        scannedRows += PlanScans(plan.executedPlan).map(_.metrics("numOutputRows").value).sum
        scans += 1
      }
      val values = tracer.span("tiles.decode") {
        rows.map(r => ZarrStore.decodeToDoubles(r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")))
      }
      (rows, values)
    }
    if (k >= 0) {
      readSeconds += (System.nanoTime() - t0) / 1e9
      voxelsRead += values.map(_.length).sum
    }
    // untimed: the one row is the requested tile with its exact payload
    if (check(rows.length == 1, s"scale $s tile $idx: ${rows.length} rows")) {
      val r = rows.head
      val m = Gen.meta(edge >> s, sizes.tilesChunk, s)
      val shape = ZarrStore.chunkShapeAt(m.shape, m.chunks, idx)
      val want = Gen.chunkBytes(vox, ZarrStore.chunkOriginAt(m.chunks, idx), shape, s)
      check(java.util.Arrays.equals(want, r.getAs[Array[Byte]]("data")),
        s"scale $s tile $idx payload differs")
      check(r.getAs[scala.collection.Seq[Int]]("chunk_idx").toSeq == idx, s"tile index ${r.get(1)}")
      check(values.head.length == shape.product, s"scale $s tile $idx voxel count")
    }
  }

  def mvoxPerSecond: Double = if (readSeconds > 0) voxelsRead / 1e6 / readSeconds else 0.0
  def replayStore: String = store
  def writesPerOp: Option[WriteUnit] = None

  override def layerMetrics: Map[String, Double] = Map(
    "sources.partitions_per_tile" -> (if (scans == 0) 0.0 else partitions.toDouble / scans),
    "sources.useful_chunk_ratio" -> (if (scannedRows == 0) 0.0 else scans.toDouble / scannedRows))
}

/** The DSv2 scan nodes of a physical plan, looking inside adaptive plans. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Seq[BatchScanExec] = collect(p) { case b: BatchScanExec => b }
}
