package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.SparkSession
import graft.meta.Model.ImageMeta
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — constrained MINC1 reader (.mnc/.mnc.gz): the MNI medical
  * format the reference routes through itkwasm/itk
  * (`py/ngff_zarr/detect_cli_io_backend.py:44-45`). MINC1 is a
  * convention over NetCDF classic (CDF-1/CDF-2), whose container
  * layout is fully public — this file carries a complete classic-
  * format header parser (dims, attributes, variables, big-endian
  * data at recorded offsets) and the MINC semantics on top:
  *
  *  - the `image` variable's dims are listed slowest-first (NetCDF
  *    C-order); reversed they become this engine's fastest-first
  *    x,y,z(,t) axes via the MINC dim names (xspace/yspace/zspace/
  *    time; vector_dimension → c);
  *  - per-dim `step`/`start` attributes (on the matching dimension
  *    variables) become scale/translation, `units` become axis units;
  *  - integer images with SCALAR `image-min`/`image-max` variables
  *    apply MINC real-value normalization as a slope/intercept
  *    (float32 output, the NIfTI rescale posture); PER-SLICE
  *    normalization (dimensioned image-min/max) REFUSES loudly —
  *    a raw read would be silently wrong, the one failure mode this
  *    engine never ships. Float/double images read as stored.
  *
  * MINC2 is HDF5 — out of scope with a precise error (no HDF5 stack
  * here). Uncompressed NetCDF data is positioned-read per chunk by
  * executors through [[RawVolume]]; `.mnc.gz` stream-decodes once.
  */
object MincIO {

  // ----------------------------------------------------- NetCDF classic

  final case class NcDim(name: String, size: Int)
  final case class NcAtt(name: String, text: Option[String], nums: Option[Array[Double]])
  final case class NcVar(name: String, dimIds: Seq[Int], atts: Map[String, NcAtt],
      ncType: Int, begin: Long)
  final case class NcFile(dims: Seq[NcDim], gatts: Map[String, NcAtt], vars: Seq[NcVar])

  private val NcDimension = 0x0a
  private val NcVariable = 0x0b
  private val NcAttribute = 0x0c

  private def ncTypeName(t: Int): String = t match {
    case 1 => "int8"
    case 3 => "int16"
    case 4 => "int32"
    case 5 => "float32"
    case 6 => "float64"
    case other => throw new UnsupportedOperationException(s"NetCDF type $other for voxels")
  }

  private def ncTypeSize(t: Int): Int = t match {
    case 1 | 2 => 1; case 3 => 2; case 4 | 5 => 4; case 6 => 8
    case other => throw new UnsupportedOperationException(s"NetCDF type $other")
  }

  private final class Reader(bytes: Array[Byte]) {
    val bb: ByteBuffer = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    def i32(): Int = bb.getInt()
    def i64(): Long = bb.getLong()
    def name(): String = {
      val n = i32()
      val s = new String(bytes, bb.position(), n, "US-ASCII")
      bb.position(bb.position() + pad4(n))
      s
    }
    def pad4(n: Int): Int = (n + 3) / 4 * 4

    def attList(): Map[String, NcAtt] = {
      val tag = i32(); val n = i32()
      require(tag == NcAttribute || (tag == 0 && n == 0), s"bad att_list tag $tag")
      (0 until n).map { _ =>
        val nm = name()
        val t = i32()
        val count = i32()
        val sz = ncTypeSize(t)
        val start = bb.position()
        val att =
          if (t == 2) NcAtt(nm, Some(new String(bytes, start, count, "US-ASCII")), None)
          else {
            val vals = Array.tabulate(count) { k =>
              t match {
                case 1 => bytes(start + k).toDouble
                case 3 => bb.getShort(start + 2 * k).toDouble
                case 4 => bb.getInt(start + 4 * k).toDouble
                case 5 => bb.getFloat(start + 4 * k).toDouble
                case 6 => bb.getDouble(start + 8 * k)
              }
            }
            NcAtt(nm, None, Some(vals))
          }
        bb.position(start + pad4(count * sz))
        nm -> att
      }.toMap
    }
  }

  /** Parse a CDF-1/CDF-2 header (big-endian, public layout). */
  def parseNetcdf(bytes: Array[Byte]): NcFile = {
    require(bytes.length >= 8 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F',
      "not a NetCDF classic file (missing CDF magic) — MINC2 is HDF5 and out of scope")
    val version = bytes(3).toInt
    require(version == 1 || version == 2, s"CDF version $version unsupported")
    val r = new Reader(bytes)
    r.bb.position(4)
    r.i32() // numrecs (record dims unused by MINC images)
    // dim_list
    val dtag = r.i32(); val dn = r.i32()
    require(dtag == NcDimension || (dtag == 0 && dn == 0), s"bad dim_list tag $dtag")
    val dims = (0 until dn).map(_ => NcDim(r.name(), r.i32()))
    val gatts = r.attList()
    val vtag = r.i32(); val vn = r.i32()
    require(vtag == NcVariable || (vtag == 0 && vn == 0), s"bad var_list tag $vtag")
    val vars = (0 until vn).map { _ =>
      val nm = r.name()
      val nd = r.i32()
      val dimIds = (0 until nd).map(_ => r.i32())
      val atts = r.attList()
      val t = r.i32()
      r.i32() // vsize (padded; recomputed from dims when needed)
      val begin = if (version == 1) r.i32().toLong & 0xffffffffL else r.i64()
      NcVar(nm, dimIds, atts, t, begin)
    }
    NcFile(dims, gatts, vars)
  }

  // ------------------------------------------------------------- MINC1

  private def axisName(mincDim: String): String = mincDim match {
    case "xspace" => "x"
    case "yspace" => "y"
    case "zspace" => "z"
    case "time" => "t"
    case "vector_dimension" => "c"
    case other => throw new UnsupportedOperationException(s"MINC dimension '$other'")
  }

  /** Header-only facts → the shared RawHeader + whether real-value
    * normalization applies (slope/inter resolve in [[read]], where the
    * scalar variables' data region is reachable).
    */
  private[graft] def plan(nc: NcFile): (VolumeFormats.RawHeader, Boolean, Seq[String]) = {
    val image = nc.vars.find(_.name == "image").getOrElse(
      throw new IllegalArgumentException("MINC file without an image variable"))
    require(image.dimIds.nonEmpty, "MINC image variable has no dimensions")
    // NetCDF lists dims slowest-first; this engine is fastest-first
    val ncDims = image.dimIds.reverse.map(nc.dims(_))
    val dims = ncDims.map(d => axisName(d.name))
    val shape = ncDims.map(_.size.toLong)
    val srcDtype = ncTypeName(image.ncType)

    def dimVar(n: String) = nc.vars.find(_.name == n)
    def attNum(v: Option[NcVar], a: String, dflt: Double) =
      v.flatMap(_.atts.get(a)).flatMap(_.nums).flatMap(_.headOption).getOrElse(dflt)
    // MNI volumes commonly encode direction in the sign of `step`;
    // spacing must stay positive (ITK normalizes and flips the
    // direction cosine — this engine keeps axis order, so abs here).
    val spacing = ncDims.map(d => math.abs(attNum(dimVar(d.name), "step", 1.0)))
    val origin = ncDims.map(d => attNum(dimVar(d.name), "start", 0.0))
    val units = ncDims.map(d => dimVar(d.name).flatMap(_.atts.get("units"))
      .flatMap(_.text).map(_.trim).getOrElse(""))

    // real-value normalization: only for integer voxels with SCALAR
    // image-min/image-max; per-slice normalization refuses.
    val isInt = srcDtype != "float32" && srcDtype != "float64"
    val imin = nc.vars.find(_.name == "image-min")
    val imax = nc.vars.find(_.name == "image-max")
    val normalize = isInt && (imin.nonEmpty || imax.nonEmpty)
    if (normalize)
      require(imin.forall(_.dimIds.isEmpty) && imax.forall(_.dimIds.isEmpty),
        "MINC per-slice image-min/image-max normalization unsupported " +
          "(a raw read would be silently wrong; normalize upstream)")

    val header = VolumeFormats.RawHeader(shape, srcDtype, bigEndian = true,
      encoding = "raw", dataOffset = image.begin, dataFile = None,
      spatial = dims.map(d => d == "x" || d == "y" || d == "z"),
      spacing = spacing, origin = origin, units = units)
    (header, normalize, dims)
  }

  private def defaultRange(dtype: String): Array[Double] = dtype match {
    case "int8" => Array(Byte.MinValue.toDouble, Byte.MaxValue.toDouble)
    case "int16" => Array(Short.MinValue.toDouble, Short.MaxValue.toDouble)
    case "int32" => Array(Int.MinValue.toDouble, Int.MaxValue.toDouble)
    case _ => Array(0.0, 1.0)
  }

  /** Read a .mnc / .mnc.gz into a chunked image. */
  def read(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeFormats.VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val gz = path.toLowerCase.endsWith(".gz")
    val headerBytes =
      if (gz) VolumeFormats.gunzip(store.readBytes(""))
      else store.readRange("", 0L, math.min(store.size(""), 1 << 20).toInt)
    // a .mnc with the HDF5 signature is MINC2 — route to the HDF5
    // subset reader instead of refusing (gz MINC2 stays out of scope:
    // the HDF5 path positioned-reads, which gzip can't serve)
    if (headerBytes.length >= 8 && (headerBytes(0) & 0xff) == 0x89 &&
        headerBytes(1) == 'H' && headerBytes(2) == 'D' && headerBytes(3) == 'F') {
      require(!gz, s"$path: gzipped MINC2 unsupported — gunzip upstream")
      return Hdf5IO.readMinc2(spark, path, chunkShape)
    }
    val nc = parseNetcdf(headerBytes)
    val (h, normalize, dims) = plan(nc)

    // scalar image-min/image-max stored as 0-dim variables: their one
    // big-endian value sits at the variable's begin offset
    def scalarAt(name: String, dflt: Double): Double =
      nc.vars.find(v => v.name == name && v.dimIds.isEmpty).map { v =>
        val sz = ncTypeSize(v.ncType)
        val raw = if (gz) java.util.Arrays.copyOfRange(
            headerBytes, v.begin.toInt, v.begin.toInt + sz)
          else store.readRange("", v.begin, sz)
        ZarrStore.decodeToDoubles(raw, ncTypeName(v.ncType), bigEndian = true)(0)
      }.getOrElse(dflt)
    val (slope, inter) =
      if (!normalize) (1.0, 0.0)
      else {
        val image = nc.vars.find(_.name == "image").get
        val vr = image.atts.get("valid_range").flatMap(_.nums)
          .getOrElse(defaultRange(h.dtype))
        require(vr.length == 2 && vr(1) > vr(0), s"MINC valid_range ${vr.toSeq}")
        val lo = scalarAt("image-min", vr(0))
        val hi = scalarAt("image-max", vr(1))
        val s = (hi - lo) / (vr(1) - vr(0))
        (s, lo - vr(0) * s)
      }

    val rescale = (slope, inter) != ((1.0, 0.0))
    val meta0 = VolumeFormats.metaForDims(h, dims, chunkShape,
      dtypeOverride = if (rescale) Some("float32") else None)
    val chunks =
      if (gz) {
        val n = h.shape.product
        val itemSize = ncTypeSize(nc.vars.find(_.name == "image").get.ncType)
        require(h.dataOffset + n * itemSize < Int.MaxValue,
          s".mnc.gz payload is ${n * itemSize} bytes — gzip is not splittable; " +
            "convert to .mnc or zarr for volumes this large")
        val payload = java.util.Arrays.copyOfRange(headerBytes,
          h.dataOffset.toInt, h.dataOffset.toInt + (n * itemSize).toInt)
        val vals = ZarrStore.decodeToDoubles(payload, h.dtype, bigEndian = true)
        RawVolume.scatterFortran(spark, vals, meta0, slope, inter)
      } else RawVolume.readDistributed(spark, path, hconf, h.dataOffset, h.dtype,
        ncTypeSize(nc.vars.find(_.name == "image").get.ncType), bigEndian = true,
        meta0, slope, inter)
    VolumeFormats.VolumeImage(meta0, chunks)
  }

}
