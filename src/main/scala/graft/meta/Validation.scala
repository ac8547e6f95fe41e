package graft.meta

import com.fasterxml.jackson.databind.JsonNode
import graft.meta.Model._

/** Metadata validation rules (SURVEY §2.6):
  *  - V1 structural validation of multiscales metadata (the schema
  *    constraints of the packaged OME JSON Schemas re-expressed as
  *    rule functions — no JSON-Schema engine ships in this
  *    environment, so the checks are explicit);
  *  - V2 RFC 4 orientation validation
  *    (ngff-zarr `py/ngff_zarr/rfc4_validation.py:26-133`);
  *  - V3 writer parameter validation (`py/ngff_zarr/to_ngff_zarr.py:331-352`);
  *  - V4 OMERO window back-compat (`py/ngff_zarr/from_ngff_zarr.py:198-254`).
  */
object Validation {

  final case class ValidationError(path: String, message: String)

  /** Versions with packaged schemas (reference `py/ngff_zarr/spec/`). */
  val SchemaVersions: Set[String] = Set("0.1", "0.2", "0.3", "0.4", "0.5")

  /** V1 — validate a raw attrs JSON tree against the vendored OME
    * JSON Schemas (the same files the reference packages;
    * `py/ngff_zarr/validate.py:32-52`). `model` is "image", "plate",
    * "well", …; `strict` picks the `strict_` schema variant where one
    * exists (0.1/0.3/0.4/0.5).
    */
  def validateSchema(attrs: JsonNode, version: String, model: String = "image",
      strict: Boolean = false): Seq[ValidationError] =
    JsonSchema.validate(JsonSchema.loadSchema(version, model, strict), attrs)

  /** V1 — structural multiscales validation. */
  def validateMultiscales(m: MultiscalesMeta): Seq[ValidationError] = {
    val errs = Seq.newBuilder[ValidationError]
    if (m.axes.isEmpty)
      errs += ValidationError("axes", "at least one axis required")
    if (m.axes.length > 5)
      errs += ValidationError("axes", s"at most 5 axes, got ${m.axes.length}")
    m.axes.foreach { a =>
      if (!isDimensionSupported(a.name))
        errs += ValidationError(s"axes/${a.name}", s"unsupported dimension name '${a.name}'")
      if (!Seq("time", "channel", "space").contains(a.`type`))
        errs += ValidationError(s"axes/${a.name}", s"invalid axis type '${a.`type`}'")
      a.unit.foreach { u =>
        if (!isUnitSupported(u))
          errs += ValidationError(s"axes/${a.name}/unit", s"unsupported unit '$u'")
      }
    }
    if (m.axes.map(_.name).distinct.length != m.axes.length)
      errs += ValidationError("axes", "duplicate axis names")
    if (m.datasets.isEmpty)
      errs += ValidationError("datasets", "at least one dataset required")
    m.datasets.zipWithIndex.foreach { case (d, i) =>
      val scales = d.coordinateTransformations.collect { case s: ScaleT => s }
      if (scales.isEmpty)
        errs += ValidationError(s"datasets/$i", "scale transform required")
      scales.foreach { s =>
        if (s.scale.length != m.axes.length)
          errs += ValidationError(s"datasets/$i/scale",
            s"scale rank ${s.scale.length} != axes rank ${m.axes.length}")
      }
      d.coordinateTransformations.collect { case t: TranslationT => t }.foreach { t =>
        if (t.translation.length != m.axes.length)
          errs += ValidationError(s"datasets/$i/translation",
            s"translation rank ${t.translation.length} != axes rank ${m.axes.length}")
      }
    }
    if (!Seq("0.1", "0.2", "0.3", "0.4", "0.5").contains(m.version))
      errs += ValidationError("version", s"unknown version '${m.version}'")
    m.omero.toSeq.flatMap(_.channels).zipWithIndex.foreach { case (c, i) =>
      if (!isValidHexColor(c.color))
        errs += ValidationError(s"omero/channels/$i/color", s"invalid hex color '${c.color}'")
    }
    errs.result()
  }

  /** V2 — RFC 4: orientation must be all-or-none across spatial axes,
    * a single '`anatomical`' type, values from the 18-member enum, and
    * no duplicate orientation directions.
    */
  def validateRfc4(axes: Seq[Axis]): Seq[ValidationError] = {
    val errs = Seq.newBuilder[ValidationError]
    val spatial = axes.filter(a => SpatialDims.contains(a.name))
    val withO = spatial.filter(_.orientation.isDefined)
    if (withO.nonEmpty && withO.length != spatial.length)
      errs += ValidationError("axes",
        "RFC 4: orientation must be specified on all spatial axes or none")
    withO.flatMap(_.orientation).foreach { o =>
      if (o.`type` != "anatomical")
        errs += ValidationError("orientation", s"invalid orientation type '${o.`type`}'")
      if (!AnatomicalOrientationValues.contains(o.value))
        errs += ValidationError("orientation", s"invalid orientation value '${o.value}'")
    }
    val pairs = withO.flatMap(_.orientation).map(o =>
      o.value.split("-to-").sorted.mkString("/"))
    if (pairs.distinct.length != pairs.length)
      errs += ValidationError("orientation", "duplicate anatomical orientation axes")
    errs.result()
  }

  /** V3 — writer parameter validation. */
  def validateWriterParams(version: String, chunksPerShard: Option[Seq[Int]],
      useTensorstoreStyleWriter: Boolean = false, storeIsPath: Boolean = true): Seq[ValidationError] = {
    val errs = Seq.newBuilder[ValidationError]
    if (!Seq("0.4", "0.5").contains(version))
      errs += ValidationError("version", s"unsupported version: $version (only 0.4 and 0.5)")
    if (chunksPerShard.isDefined && version != "0.5")
      errs += ValidationError("chunks_per_shard",
        "sharding requires OME-Zarr version >= 0.5 (Zarr v3)")
    if (useTensorstoreStyleWriter && !storeIsPath)
      errs += ValidationError("store", "alternative writer requires a filesystem path store")
    errs.result()
  }

  /** V4 — OMERO window back-compat: accept min/max, start/end, or
    * both; coerce to doubles; drop channels with neither pair.
    */
  def normalizeOmeroWindow(min: Option[Double], max: Option[Double],
      start: Option[Double], end: Option[Double]): Option[OmeroWindow] =
    (min, max, start, end) match {
      case (Some(mn), Some(mx), Some(st), Some(en)) => Some(OmeroWindow(mn, mx, st, en))
      case (Some(mn), Some(mx), None, None) => Some(OmeroWindow(mn, mx, mn, mx))
      case (None, None, Some(st), Some(en)) => Some(OmeroWindow(st, en, st, en))
      case _ => None
    }
}
