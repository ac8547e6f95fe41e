package graft.hcs

import graft.SparkSpec
import graft.meta.Model._
import graft.operators.ChunkOps
import graft.streaming.Streams
import graft.zarr.CountingRemoteFileSystem
import graft.zarr.CountingRemoteFileSystem.{callsIn, isMetadata}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class HcsPlateSpec extends SparkSpec {

  private def values(side: Int, seed: Int): Array[Double] =
    Array.tabulate(side * side)(i => ((i * 7 + seed) % 1000).toDouble)

  private def field(well: String, image: String, seed: Int): Streams.ArrivingField =
    Streams.ArrivingField(well, image, 64, 64, values(64, seed), Some(0))

  private def plateOf(wells: Seq[String]): Plate = {
    val rows = wells.map(_.split("/")(0)).distinct
    val cols = wells.map(_.split("/")(1)).distinct
    Plate(rows.map(PlateRow.apply), cols.map(PlateColumn.apply),
      wells.map { w =>
        val Array(r, c) = w.split("/")
        PlateWellIndex(w, rows.indexOf(r), cols.indexOf(c))
      }, acquisitions = Seq(PlateAcquisition(0, Some("acq0"))))
  }

  /** Streams `fields` into the plate at `dir` in one micro-batch. */
  private def ingest(dir: String, fields: Seq[Streams.ArrivingField]): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Streams.ArrivingField]
    val q = Streams.hcsIngest(spark, mem.toDS(), dir, tempDir("hcs-ckpt").toString)
    try { mem.addData(fields); q.processAllAvailable() } finally q.stop()
  }

  /** A two-well plate under `countfs://`, fields 0 and 1 in A/1. */
  private lazy val countedPlate: String = {
    spark.sparkContext.hadoopConfiguration.set("fs.countfs.impl",
      classOf[CountingRemoteFileSystem].getName)
    val dir = s"countfs://bucket${tempDir("hcs-count")}/plate.zarr"
    Hcs.toHcsZarr(dir, plateOf(Seq("A/1", "B/2")))
    ingest(dir, Seq(field("A/1", "0", 0), field("A/1", "1", 1)))
    dir
  }

  test("a lookup executes a bare LocalTableScan, runs no Spark job, and reads each document once") {
    val h = Hcs.fromHcsZarr(countedPlate)
    def lookup(): ((Array[Double], Int, Int), Seq[(String, String)]) = callsIn(jobsAndStagesIn {
      assert(h.getWell("A/1").get.images.map(_.path) == Seq("0", "1"))
      val lvl = h.getImage(spark, "A/1", "1").levels.head
      val plan = lvl.chunks.queryExecution.executedPlan
      assert(plan.isInstanceOf[LocalTableScanExec], plan.toString)
      ChunkOps.toArray(lvl.chunks, lvl.meta)
    })
    // every lookup reads the store again, each document and the one
    // pixel object with a single open and no status call: planning the
    // level re-opens nothing
    Seq.fill(2)(lookup()).foreach { case ((px, jobs, stages), calls) =>
      assert(jobs == 0 && stages == 0, s"$jobs jobs, $stages stages")
      assert(px.toSeq == values(64, 1).toSeq)
      assert(!calls.exists(_._1 == "status"), calls)
      val wellDoc = calls.filter(_._2.endsWith("A/1/.zattrs"))
      assert(wellDoc.count(_._1 == "open") == 1 && !wellDoc.exists(_._1 == "exists"), calls)
      val opens = calls.filter(_._1 == "open").map(_._2)
      assert(opens.distinct.size == opens.size, calls)
      assert(opens.count(!isMetadata(_)) == 1, calls)
    }
  }

  test("a handle reads each lookup from the store: later ingests and a re-sized field show") {
    val dir = tempDir("hcs-fresh").toString + "/plate.zarr"
    Hcs.toHcsZarr(dir, plateOf(Seq("A/1")))
    ingest(dir, Seq(field("A/1", "0", 0)))
    val h = Hcs.fromHcsZarr(dir)
    assert(h.getWell("A/1").get.images.map(_.path) == Seq("0"))
    // a new field, and field 0 rewritten at 300², four 256² objects
    val big = Array.tabulate(300 * 300)(i => ((i * 3 + 1) % 1000).toDouble)
    ingest(dir, Seq(field("A/1", "1", 1),
      Streams.ArrivingField("A/1", "0", 300, 300, big, Some(0))))
    assert(h.getWell("A/1").get.images.map(_.path) == Seq("0", "1"))
    assert(h.imagesDf(spark).count() == 2)
    assert(h.wellsForAcquisition(spark, 0).count() == 2)
    // the old handle's image: today's metadata with today's pixels
    val lvl = h.getImage(spark, "A/1", "0").levels.head
    assert(lvl.meta.shape == Seq(300L, 300L))
    assert(ChunkOps.toArray(lvl.chunks, lvl.meta).toSeq == big.toSeq)
  }
}
