package graft.hcs

import org.apache.spark.sql.SparkSession
import graft.meta.Model._
import graft.streaming.Streams

/** HCS-at-scale rehearsal (`h_plate384`): a full 384-well × 9-field
  * plate built through the PRODUCTION streaming ingest — a real
  * `StreamingQuery` over a MemoryStream of arriving fields, the
  * foreachBatch merge-upsert, concurrent per-well upserts — under a
  * planted arrival shuffle (fields of one well scattered across
  * micro-batches in hash order) plus planted cross-batch replays
  * (at-least-once delivery), then verified structurally:
  *
  *   - plate JSON round-trip equality (16 rows × 24 columns, all 384
  *     well indices — reference semantics `py/ngff_zarr/hcs.py`
  *     plate/well metadata model);
  *   - every well's image list is exactly its 9 fields, each exactly
  *     once — the replays MUST collapse (idempotent upsert), and the
  *     shuffled arrival MUST not lose or cross-wire a field;
  *   - pixel parity on a deterministic well sample, read back through
  *     the full store path.
  *
  * Lives in main so [[graft.Bench]] reports its wall time per round;
  * `StreamsSpec` pins the same machinery at spec size.
  */
object HcsRehearsal {

  private def fieldValues(w: Int, f: Int, side: Int): Array[Double] =
    Array.tabulate(side * side)(p => (((w * 9 + f) * 31 + p * 7) % 1000).toDouble)

  def run(spark: SparkSession, nRows: Int = 16, nCols: Int = 24,
      nFields: Int = 9, side: Int = 32, nBatches: Int = 8): Double = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = System.nanoTime()

    val rowNames = (0 until nRows).map(r => ('A' + r).toChar.toString)
    val colNames = (1 to nCols).map(_.toString)
    val wells = for (r <- 0 until nRows; c <- 0 until nCols)
      yield PlateWellIndex(s"${rowNames(r)}/${colNames(c)}", r, c)
    val plate = Plate(rowNames.map(PlateRow.apply), colNames.map(PlateColumn.apply),
      wells, name = Some("rehearsal-384"),
      acquisitions = Seq(PlateAcquisition(0, Some("round0"))),
      field_count = Some(nFields))
    val dir = java.nio.file.Files.createTempDirectory("h_plate384").toString + "/plate.zarr"
    Hcs.toHcsZarr(dir, plate)

    // planted arrival shuffle: multiplicative-hash order scatters one
    // well's fields across micro-batches
    val all = for (w <- wells.indices; f <- 0 until nFields) yield (w, f)
    val shuffled = all.sortBy { case (w, f) =>
      ((w * 2654435761L + f * 40503L) % 104729, w, f)
    }
    def arriving(wf: (Int, Int)): Streams.ArrivingField = {
      val (w, f) = wf
      Streams.ArrivingField(wells(w).path, f.toString, side, side,
        fieldValues(w, f, side), Some(0))
    }

    val ckpt = java.nio.file.Files.createTempDirectory("h_plate384_ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Streams.ArrivingField]
    val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
    val perBatch = math.max(1, math.ceil(shuffled.size.toDouble / nBatches).toInt)
    shuffled.grouped(perBatch).foreach { b =>
      mem.addData(b.map(arriving))
      q.processAllAvailable()
    }
    // planted cross-batch replays: the first slice of the arrival
    // order delivered AGAIN — at-least-once, must collapse
    mem.addData(shuffled.take(perBatch / 2).map(arriving))
    q.processAllAvailable()
    q.stop()

    // --- structural verification against the plant
    val back = Hcs.fromHcsZarr(dir)
    require(back.plate == plate,
      "plate JSON did not round-trip the planted 384-well layout")
    val expectImages = (0 until nFields).map(_.toString)
    wells.foreach { wi =>
      val well = back.getWell(wi.path).getOrElse(
        sys.error(s"well ${wi.path} missing after ingest"))
      val paths = well.images.map(_.path)
      require(paths.sorted == expectImages,
        s"well ${wi.path} images $paths != planted 0..${nFields - 1} " +
          "(a replay duplicated or the shuffle lost a field)")
      require(well.images.forall(_.acquisition.contains(0)),
        s"well ${wi.path} lost acquisition ids in the merge")
    }
    require(back.imagesDf(spark).count() == wells.size.toLong * nFields,
      "plate image catalog count drifted from wells x fields")
    // pixel parity on a deterministic sample, through the full read path
    Seq(0, wells.size / 3, wells.size - 1).foreach { w =>
      val f = w % nFields
      val img = back.getImage(spark, wells(w).path, f.toString)
      val got = graft.operators.ChunkOps.toArray(
        img.levels.head.chunks, img.levels.head.meta).toSeq
      require(got == fieldValues(w, f, side).toSeq,
        s"pixel drift in well ${wells(w).path} field $f")
    }
    (System.nanoTime() - t0) / 1e9
  }
}
