package omezarrbench

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.hcs.Hcs
import graft.meta.Model._
import graft.operators.ChunkOps
import graft.streaming.Streams

/** `plate`: the HCS path. The loop creates a plate with
  * `Hcs.toHcsZarr`, streams its fields through `Streams.hcsIngest` in
  * micro-batches (shuffled arrival, planted cross-batch replays), checks
  * the plate, then runs a closed loop of Zipf-skewed keyed lookups:
  * `getWell` + `getImage` + a scale-0 pixel read, checked for parity.
  */
final class PlateWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val rowNames = (0 until sizes.plateRows).map(r => ('A' + r).toChar.toString)
  private val colNames = (1 to sizes.plateCols).map(_.toString)
  private val wells = for (r <- rowNames.indices; c <- colNames.indices)
    yield PlateWellIndex(s"${rowNames(r)}/${colNames(c)}", r, c)
  private val nFields = sizes.plateFields
  private val side = sizes.plateSide
  private val plate = Plate(rowNames.map(PlateRow.apply), colNames.map(PlateColumn.apply),
    wells, name = Some("bench-plate"), acquisitions = Seq(PlateAcquisition(0, Some("run0"))),
    field_count = Some(nFields))
  private val coef = {
    val r = new scala.util.Random(seed ^ 0x5ca1ab1eL)
    (13 + r.nextInt(50), 3 + r.nextInt(20), r.nextInt(4000))
  }
  private val wellPicker = new Zipf(wells.length, rng)
  private var round = 0
  private var lastStore = ""
  private var handle: Hcs.HCSPlate = null
  private var setupStore = ""
  private var fieldsIngested = 0L
  private var ingestSeconds = 0.0
  private var batchSeconds = 0.0

  val primary = "plate.lookup"
  override val sparkKind = "plate.batch"
  override def minSamples: Int = sizes.minLatencySamples

  private def fieldValues(w: Int, f: Int): Array[Double] =
    Array.tabulate(side * side)(p => (((w * nFields + f) * coef._1 + p * coef._2 + coef._3) % 4000).toDouble)

  private def arriving(wf: (Int, Int)): Streams.ArrivingField =
    Streams.ArrivingField(wells(wf._1).path, wf._2.toString, side, side,
      fieldValues(wf._1, wf._2), Some(0))

  /** Set-up ingests a small plate: the first well's fields, in one
    * micro-batch.
    */
  def setup(): Unit = {
    if (setupStore.nonEmpty) delete(setupStore)
    setupStore = ingest("setup", (0 until nFields).map(f => (0, f)), 1, timed = false)
    check(Hcs.fromHcsZarr(setupStore).plate == plate, "set-up plate JSON differs")
  }

  private val allFields = for (w <- wells.indices; f <- 0 until nFields) yield (w, f)

  /** A whole plate, untimed, then lookups in it. Without it the timed
    * ingest's batches run down the JIT curve (2.5 s, 1.9, 1.6, 1.3 on one
    * run), and the CPU a lookup takes falls over the first 20 lookups.
    */
  def warmup(): Unit = {
    val dir = ingest("warmup", allFields, sizes.plateBatches, timed = false)
    val warm = Hcs.fromHcsZarr(dir)
    (0 until sizes.plateWarmupLookups).foreach(i =>
      lookup(warm, i % wells.length, i % nFields, traced = false))
    delete(dir)
  }

  /** Steps alternate a fresh plate with `lookupsPerPlate` lookups in it,
    * one lookup a step, so the run's time cap can end the loop between
    * lookups.
    */
  def step(k: Int): Unit =
    if (k % (sizes.lookupsPerPlate + 1) == 0) newPlate()
    else lookup(handle, wellPicker.next(), rng.nextInt(nFields), traced = k % 2 == 0)

  private def newPlate(): Unit = {
    round += 1
    val dir = ingest(s"round$round", allFields, sizes.plateBatches, timed = true)
    // untimed: plate JSON equality; every well lists each field exactly
    // once despite the replays
    val back = Hcs.fromHcsZarr(dir)
    check(back.plate == plate, "plate JSON did not round-trip")
    val want = (0 until nFields).map(_.toString)
    wells.foreach { w =>
      val got = back.getWell(w.path).map(_.images.map(_.path))
      check(got.exists(_.sorted == want), s"well ${w.path} images $got")
    }
    handle = tracer.op("plate.open", round % 2 == 1) {
      tracer.span("meta.plate_open")(Hcs.fromHcsZarr(dir))
    }
    if (lastStore.nonEmpty) delete(lastStore)
    lastStore = dir
  }

  /** One keyed lookup: the well, the field's image, its scale-0 pixels. */
  private def lookup(handle: Hcs.HCSPlate, w: Int, f: Int, traced: Boolean): Unit = {
    val px = tracer.op(primary, traced) {
      val well = tracer.span("meta.getwell")(handle.getWell(wells(w).path))
      val img = tracer.span("meta.open")(handle.getImage(spark, wells(w).path, f.toString))
      val px = tracer.span("spark.collect") {
        ChunkOps.toArray(img.levels.head.chunks, img.levels.head.meta)
      }
      check(well.exists(_.images.exists(_.path == f.toString)),
        s"getWell(${wells(w).path}) lacks field $f")
      px
    }
    check(java.util.Arrays.equals(px, fieldValues(w, f)), s"pixels of ${wells(w).path}/$f differ")
  }

  /** Build one plate through the streaming ingest; returns its store. */
  private def ingest(name: String, all: Seq[(Int, Int)], nBatches: Int, timed: Boolean): String = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = path(s"plate-$name.zarr")
    val ckpt = path(s"ckpt-$name")
    val shuffled = rng.shuffle(all)
    val perBatch = math.max(1, math.ceil(shuffled.size.toDouble / nBatches).toInt)
    val batches = shuffled.grouped(perBatch).toVector
    val t0 = System.nanoTime()
    Hcs.toHcsZarr(dir, plate)
    val mem = MemoryStream[Streams.ArrivingField]
    val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
    try {
      batches.indices.foreach { b =>
        // cross-batch replays: an eighth of the previous batch again
        val replays = if (b == 0) Nil else batches(b - 1).take(math.max(1, perBatch / 8))
        tracer.op("plate.batch", timed && b % 2 == 0) {
          mem.addData((batches(b) ++ replays).map(arriving))
          q.processAllAvailable()
        }
        if (timed) batchSeconds += tracer.ops.last.ms / 1e3
      }
    } finally q.stop()
    if (timed) {
      ingestSeconds += (System.nanoTime() - t0) / 1e9
      fieldsIngested += all.size
    }
    delete(ckpt)
    dir
  }

  private def delete(dir: String): Unit = Dirs.delete(java.nio.file.Paths.get(dir))

  /** The timed ingests' new-field voxels per second of micro-batch time. */
  def mvoxPerSecond: Double =
    if (batchSeconds > 0) fieldsIngested.toDouble * side * side / 1e6 / batchSeconds else 0.0
  def replayStore: String = lastStore
  def writesPerOp: Option[WriteUnit] = Some(WriteUnit(lastStore,
    wells.length.toLong * nFields * side * side, 2, wells.length.toLong * nFields))

  override def layerMetrics: Map[String, Double] = {
    val batches = tracer.ops.filter(o => o.kind == "plate.batch" && o.ok).map(_.ms).toSeq
    Map("streaming.batch_ms_p50" -> Stats.median(batches),
      "streaming.fields_per_s" -> (if (ingestSeconds > 0) fieldsIngested / ingestSeconds else 0.0))
  }
}
