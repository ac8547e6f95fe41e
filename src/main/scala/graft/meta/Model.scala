package graft.meta

/** OME-Zarr metadata model (v0.4 / v0.5): axes, coordinate
  * transformations, per-scale datasets, omero rendering, HCS
  * plate/well structure and RFC 4 anatomical orientation.
  *
  * Mirrors the reference's data model (ngff-zarr
  * `py/ngff_zarr/v04/zarr_metadata.py:12-265`,
  * `py/ngff_zarr/rfc4.py:15-109`) as plain case classes; all
  * serialization lives in [[ZarrJson]].
  */
object Model {

  /** Supported dimension names, in canonical t,c,z,y,x order
    * (`v04/zarr_metadata.py:12-14`).
    */
  val SupportedDims: Seq[String] = Seq("t", "c", "z", "y", "x")
  val SpatialDims: Set[String] = Set("x", "y", "z")

  /** Closed unit enums (`v04/zarr_metadata.py:18-128`). */
  val SpaceUnits: Set[String] = Set(
    "angstrom", "attometer", "centimeter", "decimeter", "exameter",
    "femtometer", "foot", "gigameter", "hectometer", "inch", "kilometer",
    "megameter", "meter", "micrometer", "mile", "millimeter", "nanometer",
    "parsec", "petameter", "picometer", "terameter", "yard", "yoctometer",
    "yottameter", "zeptometer", "zettameter")

  val TimeUnits: Set[String] = Set(
    "attosecond", "centisecond", "day", "decisecond", "exasecond",
    "femtosecond", "gigasecond", "hectosecond", "hour", "kilosecond",
    "megasecond", "microsecond", "millisecond", "minute", "nanosecond",
    "petasecond", "picosecond", "second", "terasecond", "yoctosecond",
    "yottasecond", "zeptosecond", "zettasecond")

  def isDimensionSupported(dim: String): Boolean = SupportedDims.contains(dim)

  def isUnitSupported(unit: String): Boolean =
    SpaceUnits.contains(unit) || TimeUnits.contains(unit)

  def axisType(dim: String): String = dim match {
    case "t" => "time"
    case "c" => "channel"
    case _ => "space"
  }

  /** RFC 4 anatomical orientation values (`rfc4.py:15-66`). */
  val AnatomicalOrientationValues: Set[String] = Set(
    "left-to-right", "right-to-left",
    "anterior-to-posterior", "posterior-to-anterior",
    "inferior-to-superior", "superior-to-inferior",
    "dorsal-to-ventral", "ventral-to-dorsal",
    "dorsal-to-palmar", "palmar-to-dorsal",
    "dorsal-to-plantar", "plantar-to-dorsal",
    "rostral-to-caudal", "caudal-to-rostral",
    "cranial-to-caudal", "caudal-to-cranial",
    "proximal-to-distal", "distal-to-proximal")

  final case class AnatomicalOrientation(`type`: String, value: String)

  /** LPS reference frame (`rfc4.py:70-88`). */
  val LpsOrientation: Map[String, AnatomicalOrientation] = Map(
    "x" -> AnatomicalOrientation("anatomical", "right-to-left"),
    "y" -> AnatomicalOrientation("anatomical", "anterior-to-posterior"),
    "z" -> AnatomicalOrientation("anatomical", "inferior-to-superior"))

  /** RAS reference frame (`rfc4.py:91-109`). */
  val RasOrientation: Map[String, AnatomicalOrientation] = Map(
    "x" -> AnatomicalOrientation("anatomical", "left-to-right"),
    "y" -> AnatomicalOrientation("anatomical", "posterior-to-anterior"),
    "z" -> AnatomicalOrientation("anatomical", "inferior-to-superior"))

  final case class Axis(
      name: String,
      `type`: String,
      unit: Option[String] = None,
      orientation: Option[AnatomicalOrientation] = None)

  /** Coordinate transformations (`v04/zarr_metadata.py:149-166`). */
  sealed trait Transform { def `type`: String }
  final case class ScaleT(scale: Seq[Double]) extends Transform { val `type` = "scale" }
  final case class TranslationT(translation: Seq[Double]) extends Transform { val `type` = "translation" }
  case object IdentityT extends Transform { val `type` = "identity" }

  /** One pyramid level (`v04/zarr_metadata.py:169-172`). */
  final case class DatasetMeta(path: String, coordinateTransformations: Seq[Transform])

  /** Omero rendering metadata (`v04/zarr_metadata.py:175-196`). */
  final case class OmeroWindow(min: Double, max: Double, start: Double, end: Double)
  final case class OmeroChannel(color: String, window: OmeroWindow, label: Option[String] = None)
  final case class Omero(channels: Seq[OmeroChannel])

  val HexColorPattern = "^[0-9a-fA-F]{6}$".r
  def isValidHexColor(c: String): Boolean = HexColorPattern.matches(c)

  /** Multiscales metadata, version-discriminated
    * (`v04/zarr_metadata.py:256-265`, `v05/zarr_metadata.py:9-17`).
    */
  final case class MultiscalesMeta(
      axes: Seq[Axis],
      datasets: Seq[DatasetMeta],
      version: String = "0.4",
      name: Option[String] = None,
      `type`: Option[String] = None, // downsample method provenance
      metadata: Option[MethodMetadata] = None,
      omero: Option[Omero] = None,
      coordinateTransformations: Option[Seq[Transform]] = None)

  object MultiscalesMeta {

    /** The multiscales entry of a pyramid whose levels are `levels`,
      * base first: the base level's axes (with its units and
      * orientations) and one `scale<i>/<name>` dataset per level with
      * its scale and translation. `method` records the downsample
      * provenance (`type` and `metadata`).
      */
    def of(levels: Seq[ImageMeta], name: String, version: String,
        method: Option[Method] = None, omero: Option[Omero] = None): MultiscalesMeta = {
      val base = levels.head
      val axes = base.dims.map(d =>
        Axis(d, axisType(d), base.axesUnits.get(d), base.axesOrientations.get(d)))
      val datasets = levels.zipWithIndex.map { case (m, i) =>
        DatasetMeta(s"scale$i/$name",
          Seq(ScaleT(m.dims.map(m.scale)), TranslationT(m.dims.map(m.translation))))
      }
      MultiscalesMeta(axes, datasets, version, Some(name),
        method.map(_.value), method.map(_.metadata), omero)
    }
  }

  /** Method provenance recorded into attrs (`methods/_metadata.py:11-90`). */
  final case class MethodMetadata(description: String, method: String, version: String)

  /** Per-scale image metadata: the engine's NgffImage minus the pixel
    * payload (which lives in the chunk table DataFrame).
    */
  final case class ImageMeta(
      dims: Seq[String],
      shape: Seq[Long],
      chunks: Seq[Int],
      dtype: String,
      scale: Map[String, Double],
      translation: Map[String, Double],
      name: String = "image",
      axesUnits: Map[String, String] = Map.empty,
      axesOrientations: Map[String, AnatomicalOrientation] = Map.empty) {
    require(dims.length == shape.length, s"dims $dims vs shape $shape rank mismatch")
    def spatialDims: Seq[String] = dims.filter(SpatialDims.contains)
  }

  def defaultDims(ndim: Int): Seq[String] = ndim match {
    // `to_ngff_image.py:60-69`
    case n if n < 4 => Seq("z", "y", "x").takeRight(n)
    case 4 => Seq("z", "y", "x", "c")
    case 5 => Seq("t", "z", "y", "x", "c")
    case n => throw new IllegalArgumentException(s"Unsupported dimension: $n")
  }

  /** Default output chunk edge (`to_multiscales.py:296-300`):
    * 128 for 3D (z present), 256 for 2D; t always chunked to 1.
    */
  def defaultChunks(dims: Seq[String]): Map[String, Int] = {
    val edge = if (dims.contains("z")) 128 else 256
    dims.map {
      case "t" => "t" -> 1
      case "c" => "c" -> edge // clamped to shape at materialization
      case d => d -> edge
    }.toMap
  }

  /** HCS plate/well structure (`v04/zarr_metadata.py:206-253`). */
  final case class PlateAcquisition(
      id: Int, name: Option[String] = None, maximumfieldcount: Option[Int] = None,
      description: Option[String] = None, starttime: Option[Long] = None,
      endtime: Option[Long] = None)
  final case class PlateRow(name: String)
  final case class PlateColumn(name: String)
  final case class PlateWellIndex(path: String, rowIndex: Int, columnIndex: Int)
  final case class Plate(
      rows: Seq[PlateRow], columns: Seq[PlateColumn], wells: Seq[PlateWellIndex],
      name: Option[String] = None, version: String = "0.4",
      acquisitions: Seq[PlateAcquisition] = Seq.empty,
      field_count: Option[Int] = None)
  final case class WellImage(path: String, acquisition: Option[Int] = None)
  final case class Well(images: Seq[WellImage], version: String = "0.4")

  /** Downsample method registry (`methods/__init__.py:5-17`) with
    * provenance (`methods/_metadata.py`). Our engine implements one
    * JVM kernel per family; the enum is preserved for metadata parity.
    */
  sealed abstract class Method(val value: String, val description: String) {
    def metadata: MethodMetadata = MethodMetadata(description, value, "graft-0.1.0")
  }
  object Method {
    case object ItkwasmGaussian extends Method("itkwasm_gaussian",
      "Smoothed with a discrete gaussian filter to generate a scale space, ideal for intensity images")
    case object ItkwasmBinShrink extends Method("itkwasm_bin_shrink",
      "Uses the local mean for the output value, fast")
    case object ItkwasmLabelImage extends Method("itkwasm_label_image",
      "A sampling technique appropriate for label images")
    case object ItkGaussian extends Method("itk_gaussian",
      "Smoothed with a discrete gaussian filter to generate a scale space, ideal for intensity images")
    case object ItkBinShrink extends Method("itk_bin_shrink",
      "Uses the local mean for the output value, fast")
    case object DaskImageGaussian extends Method("dask_image_gaussian",
      "Smoothed with a gaussian filter to generate a scale space, ideal for intensity images")
    case object DaskImageMode extends Method("dask_image_mode",
      "The most frequent value in the neighborhood is used, appropriate for label images")
    case object DaskImageNearest extends Method("dask_image_nearest",
      "The nearest value is used, fast, appropriate for label images")

    val all: Seq[Method] = Seq(ItkwasmGaussian, ItkwasmBinShrink, ItkwasmLabelImage,
      ItkGaussian, ItkBinShrink, DaskImageGaussian, DaskImageMode, DaskImageNearest)
    def fromValue(v: String): Option[Method] = all.find(_.value == v)
  }
}
