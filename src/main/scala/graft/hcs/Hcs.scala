package graft.hcs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.meta.Model._
import graft.meta.ZarrJson
import graft.operators.{MultiscaleBuilder, OmeZarrIO}
import graft.zarr.{SerializableHadoopConf, ZarrStore}
import scala.jdk.CollectionConverters._

/** High-Content-Screening plate/well relational structure
  * (SURVEY S12/S13 — ngff-zarr `py/ngff_zarr/hcs.py:91-765`).
  *
  * The plate's wells and acquisitions become small dimension
  * DataFrames joined to the image catalog. A plate handle
  * ([[HCSPlate]]) keeps only the `plate` document it was opened with
  * and one store handle; every keyed lookup reads the store again:
  * `getWell` is one get of the well document, `getImage` one metadata
  * open whose levels plan from that open, so an image's metadata and
  * pixels come from the same state of the store. The reference's LRU
  * caches (`hcs.py:41-88`) are left out: on the plate benchmark's Zipf
  * lookups they did not lower the lookup time (CHANGES.md).
  * `upsertWellsMeta` is the incremental at-least-once well-metadata
  * upsert the streaming ingest (`graft.streaming.Streams.hcsIngest`)
  * runs once per micro-batch.
  */
object Hcs {

  /** Driver-side store handle carrying the session's hadoop conf so
    * spark.hadoop.* object-store settings apply to HCS metadata I/O
    * exactly as they do to pixel I/O.
    */
  def openStore(path: String): ZarrStore =
    new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))

  final case class HCSPlate(store: String, plate: Plate) {
    private lazy val root = openStore(store)

    /** Wells dimension table. */
    def wellsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      plate.wells.map(w => (w.path, w.rowIndex, w.columnIndex))
        .toDF("path", "row_index", "column_index")
        .withColumn("row_name", element_at(
          typedLit(plate.rows.map(_.name)), col("row_index") + 1))
        .withColumn("column_name", element_at(
          typedLit(plate.columns.map(_.name)), col("column_index") + 1))
    }

    /** Acquisitions dimension table. */
    def acquisitionsDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      plate.acquisitions.map(a => (a.id, a.name.orNull, a.maximumfieldcount.map(_.toLong).getOrElse(-1L)))
        .toDF("acq_id", "acq_name", "max_field_count")
    }

    /** Image catalog: one row per (well, field image). */
    def imagesDf(spark: SparkSession): DataFrame = {
      import spark.implicits._
      plate.wells.flatMap { w =>
        readWellMeta(root, w.path).toSeq.flatMap(_.images.map(img =>
          (w.path, w.rowIndex, w.columnIndex, img.path,
            img.acquisition.map(_.toLong).getOrElse(-1L))))
      }.toDF("well_path", "row_index", "column_index", "image_path", "acquisition")
    }

    /** Keyed lookup by well path ("A/1"). */
    def getWell(path: String): Option[Well] =
      if (!plate.wells.exists(_.path == path)) None else readWellMeta(root, path)

    /** Keyed lookup by (rowIndex, columnIndex). */
    def getWell(rowIndex: Int, columnIndex: Int): Option[Well] =
      plate.wells.find(w => w.rowIndex == rowIndex && w.columnIndex == columnIndex)
        .flatMap(w => getWell(w.path))

    /** Load one field-of-view image from a well. */
    def getImage(spark: SparkSession, wellPath: String, imagePath: String)
        : MultiscaleBuilder.Multiscale =
      OmeZarrIO.readMultiscales(spark, s"$store/$wellPath/$imagePath")

    /** Wells restricted to one acquisition id. */
    def wellsForAcquisition(spark: SparkSession, acqId: Int): DataFrame =
      imagesDf(spark).filter(col("acquisition") === acqId)
  }

  // ---- JSON ----

  def plateAttrs(plate: Plate, version: String = "0.4"): String = {
    val mapper = ZarrJson.mapper
    val p = mapper.createObjectNode()
    val rows = p.putArray("rows"); plate.rows.foreach(r => rows.addObject().put("name", r.name))
    val cols = p.putArray("columns"); plate.columns.foreach(c => cols.addObject().put("name", c.name))
    val wells = p.putArray("wells")
    plate.wells.foreach { w =>
      val wn = wells.addObject()
      wn.put("path", w.path); wn.put("rowIndex", w.rowIndex); wn.put("columnIndex", w.columnIndex)
    }
    if (plate.acquisitions.nonEmpty) {
      val acqs = p.putArray("acquisitions")
      plate.acquisitions.foreach { a =>
        val an = acqs.addObject()
        an.put("id", a.id)
        a.name.foreach(an.put("name", _))
        a.maximumfieldcount.foreach(an.put("maximumfieldcount", _))
      }
    }
    plate.name.foreach(p.put("name", _))
    plate.field_count.foreach(p.put("field_count", _))
    p.put("version", version)
    val root = mapper.createObjectNode()
    if (version == "0.5") root.putObject("ome").put("version", "0.5")
      .asInstanceOf[ObjectNode].set[ObjectNode]("plate", p)
    else root.set[ObjectNode]("plate", p)
    ZarrJson.pretty(root)
  }

  def parsePlate(json: String): Plate = {
    val root = ZarrJson.mapper.readTree(json)
    val p = if (root.has("ome") && root.get("ome").has("plate")) root.get("ome").get("plate")
      else root.get("plate")
    require(p != null, "no plate metadata")
    Plate(
      p.path("rows").elements().asScala.map(r => PlateRow(r.get("name").asText())).toSeq,
      p.path("columns").elements().asScala.map(c => PlateColumn(c.get("name").asText())).toSeq,
      p.path("wells").elements().asScala.map(w => PlateWellIndex(
        w.get("path").asText(), w.path("rowIndex").asInt(), w.path("columnIndex").asInt())).toSeq,
      Option(p.get("name")).map(_.asText()),
      p.path("version").asText("0.4"),
      p.path("acquisitions").elements().asScala.map(a => PlateAcquisition(
        a.get("id").asInt(), Option(a.get("name")).map(_.asText()),
        Option(a.get("maximumfieldcount")).map(_.asInt()))).toSeq,
      Option(p.get("field_count")).map(_.asInt()))
  }

  def wellAttrs(well: Well): String = {
    val mapper = ZarrJson.mapper
    val w = mapper.createObjectNode()
    val imgs = w.putArray("images")
    well.images.foreach { i =>
      val in = imgs.addObject()
      in.put("path", i.path)
      i.acquisition.foreach(in.put("acquisition", _))
    }
    w.put("version", well.version)
    val root = mapper.createObjectNode()
    root.set[ObjectNode]("well", w)
    ZarrJson.pretty(root)
  }

  def parseWell(json: String): Well = {
    val root = ZarrJson.mapper.readTree(json)
    val w = root.path("well")
    Well(
      w.path("images").elements().asScala.map(i => WellImage(
        i.get("path").asText(), Option(i.get("acquisition")).map(_.asInt()))).toSeq,
      w.path("version").asText("0.4"))
  }

  private def readWellMeta(store: ZarrStore, wellPath: String): Option[Well] =
    store.readBytesIfExists(s"$wellPath/.zattrs")
      .map(b => parseWell(new String(b, java.nio.charset.StandardCharsets.UTF_8)))

  // ---- write paths ----

  /** Write the plate metadata tree (S13, `to_hcs_zarr`). */
  def toHcsZarr(path: String, plate: Plate): Unit = {
    val store = openStore(path)
    store.writeString(".zgroup", ZarrJson.pretty(ZarrJson.groupDoc(2)))
    store.writeString(".zattrs", plateAttrs(plate))
  }

  /** Batch well-metadata upsert: one driver pass covering every field
    * of a micro-batch. Row-group and well group docs are written once
    * each, sequentially — a multi-threaded truncate+write of the
    * shared `<row>/.zgroup` is not guaranteed atomic on all stores —
    * and each well's image list merges ALL of its arriving fields in
    * one read-modify-write (per-well ordering held trivially: single
    * thread). Chunk payloads are not touched; the caller writes them
    * in one distributed job.
    */
  def upsertWellsMeta(path: String,
      fields: Seq[(String, String, Option[Int])]): Unit = {
    val store = openStore(path)
    fields.map(_._1.split("/").head).distinct.sorted.foreach { rg =>
      store.writeString(s"$rg/.zgroup", ZarrJson.pretty(ZarrJson.groupDoc(2)))
    }
    // wells are independent of each other (per-WELL ordering is the
    // only merge constraint, and each well appears once here), so the
    // read-modify-write merges run on a bounded pool — the driver's
    // store round-trips are latency-bound, not CPU-bound
    val byWell = fields.groupBy(_._1).toSeq.sortBy(_._1)
    def mergeOne(wp: String, fs: Seq[(String, String, Option[Int])]): Unit = {
      store.writeString(s"$wp/.zgroup", ZarrJson.pretty(ZarrJson.groupDoc(2)))
      val existing = readWellMeta(store, wp).getOrElse(Well(Seq.empty))
      val newPaths = fs.map(_._2).toSet
      val merged = Well(
        existing.images.filterNot(i => newPaths.contains(i.path)) ++
          fs.sortBy(_._2).map { case (_, img, acq) => WellImage(img, acq) },
        existing.version)
      store.writeString(s"$wp/.zattrs", wellAttrs(merged))
    }
    if (byWell.length <= 1) byWell.foreach { case (wp, fs) => mergeOne(wp, fs) }
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(byWell.length, 32))
      try {
        val futs = byWell.map { case (wp, fs) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = mergeOne(wp, fs)
          })
        }
        futs.foreach { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
  }

  /** Read a plate store (S12, `from_hcs_zarr`). */
  def fromHcsZarr(path: String): HCSPlate = {
    val store = openStore(path)
    HCSPlate(path, parsePlate(store.readString(".zattrs")))
  }
}
