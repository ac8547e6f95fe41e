package graft.streaming

import graft.SparkSpec
import graft.hcs.Hcs
import graft.meta.Model._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("stream-stream interval join matches within-window pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, String)]
    val memB = MemoryStream[(Timestamp, Long, String)]
    val a = memA.toDF().toDF("ts", "user_id", "event_type")
    val b = memB.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.intervalJoin(a, b, "30 minutes", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("ijoin").start()
    memA.addData((ts(0), 1L, "click"), (ts(0), 2L, "click"))
    memB.addData((ts(10), 1L, "buy"), (ts(50), 1L, "buy"), (ts(5), 3L, "buy"))
    q.processAllAvailable()
    val rows = spark.table("ijoin").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("type_b")))
    // only user 1's buy at +10min is within 30min; +50min and user 3 excluded
    assert(rows.toSeq == Seq((1L, "buy")))
    q.stop()
  }

  test("left-outer interval join emits unmatched rows only after the watermark expires them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, String)]
    val memB = MemoryStream[(Timestamp, Long, String)]
    val a = memA.toDF().toDF("ts", "user_id", "event_type")
    val b = memB.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.intervalJoinOuter(a, b, "30 minutes", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("ojoin").start()
    memA.addData((ts(0), 1L, "click"), (ts(0), 2L, "click"))
    memB.addData((ts(10), 1L, "buy"))
    q.processAllAvailable()
    def rows() = spark.table("ojoin").collect()
      .map(r => (r.getAs[Long]("user_id"),
        Option(r.getAs[String]("type_b")).getOrElse("NONE"))).toSet
    // user 1 matched; user 2 unmatched but NOT yet emitted — the
    // watermark hasn't proven its window empty
    assert(rows() == Set((1L, "buy")))
    // late traffic pushes event-time forward: watermark = 200−60 =
    // +140min > user 2's window end (+30min) → its null row must emit
    memA.addData((ts(200), 9L, "click"))
    memB.addData((ts(200), 8L, "buy"))
    q.processAllAvailable()
    assert(rows().contains((2L, "NONE")), s"unmatched row missing: ${rows()}")
    assert(!rows().exists(r => r._1 == 9L), "user 9 must still be held in state")
    q.stop()
  }

  test("HCS plate: metadata round-trip, keyed lookup, streaming field upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hcs").toString + "/plate.zarr"
    val plate = Plate(
      rows = Seq(PlateRow("A"), PlateRow("B")),
      columns = Seq(PlateColumn("1"), PlateColumn("2")),
      wells = Seq(PlateWellIndex("A/1", 0, 0), PlateWellIndex("B/2", 1, 1)),
      acquisitions = Seq(PlateAcquisition(0, Some("acq0"))))
    Hcs.toHcsZarr(dir, plate)

    val mem = MemoryStream[Streams.ArrivingField]
    val ckpt = tempDir("hcs-ckpt").toString
    val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
    val vals = Array.tabulate(64 * 64)(i => (i % 500).toDouble)
    mem.addData(Streams.ArrivingField("A/1", "0", 64, 64, vals, Some(0)))
    q.processAllAvailable()
    // replay the same field (at-least-once) + a second field
    mem.addData(Streams.ArrivingField("A/1", "0", 64, 64, vals, Some(0)))
    mem.addData(Streams.ArrivingField("A/1", "1", 64, 64, vals, Some(0)))
    q.processAllAvailable()
    q.stop()

    val back = Hcs.fromHcsZarr(dir)
    assert(back.plate.wells.map(_.path) == Seq("A/1", "B/2"))
    val well = back.getWell("A/1").get
    assert(well.images.map(_.path).sorted == Seq("0", "1")) // replay did not duplicate
    assert(back.getWell(0, 0).isDefined && back.getWell(1, 0).isEmpty)
    val img = back.getImage(spark, "A/1", "0")
    assert(img.levels.head.meta.shape == Seq(64L, 64L))
    assert(graft.operators.ChunkOps.toArray(
      img.levels.head.chunks, img.levels.head.meta).toSeq == vals.toSeq)
    val cat = back.imagesDf(spark)
    assert(cat.count() == 2)
    assert(back.wellsDf(spark).filter(col("row_name") === "A").count() == 1)
  }

  test("HCS ingest never materializes pixel payloads on the driver") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hcs-big").toString + "/plate.zarr"
    Hcs.toHcsZarr(dir, Plate(
      rows = Seq(PlateRow("A")), columns = Seq(PlateColumn("1")),
      wells = Seq(PlateWellIndex("A/1", 0, 0)), acquisitions = Seq.empty))

    // every task's serialized result is tracked; a driver collect of
    // the field would ship the whole ~8 MB payload as a task result
    val resultSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) resultSizes.add(te.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val mem = MemoryStream[Streams.ArrivingField]
      val ckpt = tempDir("hcs-big-ckpt").toString
      val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
      val h = 1024
      val payloadBytes = h.toLong * h * 8
      mem.addData(Streams.ArrivingField("A/1", "0", h, h,
        Array.tabulate(h * h)(i => (i % 1000).toDouble), None))
      q.processAllAvailable()
      q.stop()
      // listener bus is async; give queued task-end events a moment
      Thread.sleep(1000)
      val maxResult = resultSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).max
      assert(maxResult < payloadBytes / 4,
        s"a task shipped $maxResult bytes to the driver (payload $payloadBytes)")
    } finally spark.sparkContext.removeSparkListener(listener)

    val img = Hcs.fromHcsZarr(dir).getImage(spark, "A/1", "0")
    assert(img.levels.head.meta.shape == Seq(1024L, 1024L))
    // sixteen 256² objects: an executor scan, not a driver read
    val plan = img.levels.head.chunks.queryExecution.sparkPlan
    assert(plan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.isDefined, plan.toString)
    // spot-check content without a full driver materialization
    val vv = graft.operators.ChunkOps.voxelView(spark, img.levels.head.chunks,
      img.levels.head.meta)
    assert(vv.filter(col("y") === 3 && col("x") === 7).select("value")
      .head().getDouble(0) == ((3 * 1024 + 7) % 1000).toDouble)
  }
}
