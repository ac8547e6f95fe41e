package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.meta.Model.ImageMeta
import graft.operators.ChunkOps.ChunkRow
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — the next converter tier after NIfTI/TIFF: NRRD (.nrrd/.nhdr),
  * MetaImage (.mha/.mhd), FreeSurfer MGH (.mgh/.mgz), legacy VTK
  * structured points (.vtk, BINARY) and GIPL (.gipl/.gipl.gz). All are
  * reference-ingestable formats (`py/ngff_zarr/detect_cli_io_backend.py:36-68`
  * routes them through itkwasm/itk) with public header-plus-raw-array
  * layouts — no codec stack, so a pure-JVM reader is exactly as
  * trustworthy as the spec. Each parses its header, maps
  * spacing/origin to scale/translation, and reads voxels through the
  * shared [[RawVolume]] machinery: uncompressed payloads are
  * positioned-read per chunk by executors (the file never transits
  * the driver); gzip/zlib payloads stream-decode once and scatter
  * (neither codec is splittable — convert large volumes to raw or
  * zarr for parallel ingest, same posture as .nii.gz).
  *
  * Refuse-loudly: unknown types, ascii/bzip2/hex encodings, detached
  * LIST data files, byte/line skips and reserved flags are precise
  * errors, never a silently mis-strided volume.
  */
object VolumeFormats {

  final case class VolumeImage(meta: ImageMeta, chunks: Dataset[ChunkRow])

  /** Parsed "header + raw Fortran array" facts shared by all three
    * formats. `shape` is fastest-axis-first (the on-disk raster
    * order); `spatial(i)` marks axes that carry spacing.
    */
  final case class RawHeader(
      shape: Seq[Long],
      dtype: String,
      bigEndian: Boolean,
      encoding: String, // "raw" | "gzip" | "zlib" | "ascii"
      dataOffset: Long, // into the data object (attached or detached)
      dataFile: Option[String], // detached payload, relative to header dir
      spatial: Seq[Boolean],
      spacing: Seq[Double], // per-axis; 1.0 for non-spatial
      origin: Seq[Double],
      units: Seq[String] = Nil) // per-axis when the header declares them

  private[operators] val itemSizes = Map(
    "int8" -> 1, "uint8" -> 1, "int16" -> 2, "uint16" -> 2,
    "int32" -> 4, "uint32" -> 4, "int64" -> 8, "float32" -> 4, "float64" -> 8)

  /** Axis names in the NIfTI convention this engine uses (fastest
    * first): spatial axes become x,y,z in order. A TRAILING
    * non-spatial axis is time (the MGH/NIfTI frames convention); a
    * leading/interior one is channel (the NRRD `none`-direction
    * convention); with two, the leading is c and the trailing t.
    */
  private[operators] def dimNames(spatial: Seq[Boolean]): Seq[String] = {
    val spatialNames = Iterator("x", "y", "z")
    require(spatial.count(identity) <= 3, "more than 3 spatial axes")
    val nonSpatial = spatial.zipWithIndex.collect { case (false, i) => i }
    // two interior non-spatial axes would both want the "c" name —
    // refuse rather than emit duplicate dim columns downstream
    require(nonSpatial.size <= 2 &&
      (nonSpatial.size < 2 || nonSpatial.contains(spatial.length - 1)),
      s"unsupported non-spatial axis layout at positions $nonSpatial " +
        "(at most one channel axis plus one trailing time axis)")
    spatial.zipWithIndex.map {
      case (true, _) => spatialNames.next()
      case (false, i) => if (i == spatial.length - 1) "t" else "c"
    }
  }

  // ---------------------------------------------------------------- NRRD

  private val nrrdTypes: Map[String, String] = {
    def all(canon: String, aliases: String*) = aliases.map(_ -> canon)
    (all("int8", "signed char", "int8", "int8_t") ++
      all("uint8", "uchar", "unsigned char", "uint8", "uint8_t") ++
      all("int16", "short", "short int", "signed short", "signed short int", "int16", "int16_t") ++
      all("uint16", "ushort", "unsigned short", "unsigned short int", "uint16", "uint16_t") ++
      all("int32", "int", "signed int", "int32", "int32_t") ++
      all("uint32", "uint", "unsigned int", "uint32", "uint32_t") ++
      all("int64", "longlong", "long long", "long long int", "signed long long",
        "signed long long int", "int64", "int64_t") ++
      all("float32", "float") ++ all("float64", "double")).toMap
  }

  /** Parse an NRRD header (the teem format, magic `NRRD000N`): field
    * lines up to the blank line; `sizes` is fastest-axis-first;
    * spatial-ness comes from `space directions` (`none` = non-spatial
    * axis), spacing from direction column norms or `spacings`.
    */
  def parseNrrd(headerBytes: Array[Byte]): RawHeader = {
    val text = new String(headerBytes, "US-ASCII")
    val endIdx = headerEnd(headerBytes)
    val lines = text.substring(0, endIdx).split("\r?\n").toSeq
    require(lines.nonEmpty && lines.head.startsWith("NRRD000"),
      "not an NRRD header (missing NRRD000N magic)")
    val fields = lines.tail
      .filterNot(l => l.isEmpty || l.startsWith("#") || l.contains(":="))
      .map { l =>
        val i = l.indexOf(": ")
        require(i > 0, s"malformed NRRD field line '$l'")
        (l.substring(0, i).toLowerCase, l.substring(i + 2).trim)
      }.toMap

    val dim = fields.getOrElse("dimension",
      throw new IllegalArgumentException("NRRD without dimension field")).toInt
    val sizes = fields.getOrElse("sizes",
      throw new IllegalArgumentException("NRRD without sizes field"))
      .split("\\s+").map(_.toLong).toSeq
    require(sizes.length == dim, s"NRRD sizes ${sizes.length} != dimension $dim")
    val dtype = nrrdTypes.getOrElse(fields("type").toLowerCase,
      throw new UnsupportedOperationException(s"NRRD type '${fields("type")}' unsupported"))
    val enc = fields.getOrElse("encoding", "raw").toLowerCase match {
      case "raw" => "raw"
      case "gzip" | "gz" => "gzip"
      case "ascii" | "text" | "txt" => "ascii"
      case other => throw new UnsupportedOperationException(
        s"NRRD encoding '$other' unsupported (raw/gzip/ascii)")
    }
    require(!fields.contains("byte skip") && !fields.contains("byteskip") &&
      !fields.contains("line skip") && !fields.contains("lineskip"),
      "NRRD byte/line skip unsupported")
    val bigEndian = fields.get("endian") match {
      case Some("big") => true
      case Some("little") | None => false
      case Some(o) => throw new IllegalArgumentException(s"NRRD endian '$o'")
    }

    // space directions: per-axis `none` or a (a,b,c) vector
    val dirs = fields.get("space directions").map(_.split("\\s+(?![^(]*\\))").toSeq)
    val spatial = dirs match {
      case Some(ds) =>
        require(ds.length == dim, "space directions arity != dimension")
        ds.map(_ != "none")
      case None => sizes.map(_ => true)
    }
    val spacings = fields.get("spacings").map(_.split("\\s+").map(_.toDouble).toSeq)
    val spacing = (0 until dim).map { i =>
      dirs match {
        case Some(ds) if ds(i) != "none" =>
          val v = ds(i).stripPrefix("(").stripSuffix(")").split(",").map(_.trim.toDouble)
          math.sqrt(v.map(x => x * x).sum)
        case _ => spacings.flatMap(_.lift(i)).getOrElse(1.0)
      }
    }
    val origin = fields.get("space origin") match {
      case Some(o) =>
        val v = o.stripPrefix("(").stripSuffix(")").split(",").map(_.trim.toDouble).toSeq
        // origin is per SPATIAL axis; expand to all axes
        val it = v.iterator
        spatial.map(s => if (s && it.hasNext) it.next() else 0.0)
      case None => sizes.map(_ => 0.0)
    }
    val dataFile = fields.get("data file").orElse(fields.get("datafile"))
    // `space units: "mm" "mm" "mm"` — one quoted token per SPATIAL axis
    val units = fields.get("space units").map { u =>
      val vals = "\"([^\"]*)\"".r.findAllMatchIn(u).map(_.group(1)).toSeq
      val it = vals.iterator
      spatial.map(s => if (s && it.hasNext) it.next() else "")
    }.getOrElse(Nil)
    RawHeader(sizes, dtype, bigEndian, enc,
      dataOffset = if (dataFile.isDefined) 0L else endIdx.toLong,
      dataFile = dataFile,
      spatial = spatial, spacing = spacing, origin = origin, units = units)
  }

  /** First byte index AFTER the header's terminating blank line. */
  private def headerEnd(bytes: Array[Byte]): Int = {
    var i = 0
    while (i < bytes.length - 1) {
      if (bytes(i) == '\n') {
        if (bytes(i + 1) == '\n') return i + 2
        if (i + 2 < bytes.length && bytes(i + 1) == '\r' && bytes(i + 2) == '\n') return i + 3
      }
      i += 1
    }
    throw new IllegalArgumentException("no blank line terminating the header")
  }

  // ----------------------------------------------------------- MetaImage

  private val metTypes = Map(
    "MET_CHAR" -> "int8", "MET_UCHAR" -> "uint8",
    "MET_SHORT" -> "int16", "MET_USHORT" -> "uint16",
    "MET_INT" -> "int32", "MET_UINT" -> "uint32",
    "MET_LONG_LONG" -> "int64",
    "MET_FLOAT" -> "float32", "MET_DOUBLE" -> "float64")

  /** Parse a MetaImage header (`Key = Value` lines; `ElementDataFile`
    * is by spec the LAST line — attached payloads start right after
    * it). `CompressedData = True` means one zlib stream.
    */
  def parseMetaImage(headerBytes: Array[Byte]): RawHeader = {
    val text = new String(headerBytes, "US-ASCII")
    var offset = 0
    var fields = Map.empty[String, String]
    var dataOffset = -1L
    while (dataOffset < 0 && offset < text.length) {
      val nl = text.indexOf('\n', offset)
      require(nl >= 0, "MetaImage header without ElementDataFile before EOF")
      val line = text.substring(offset, if (nl > offset && text.charAt(nl - 1) == '\r') nl - 1 else nl)
      offset = nl + 1 // byte-exact: attached payloads start right after this
      val parts = line.split("=", 2)
      require(parts.length == 2, s"malformed MetaImage line '$line'")
      val (k, v) = (parts(0).trim, parts(1).trim)
      fields += (k -> v)
      if (k == "ElementDataFile") dataOffset = offset.toLong
    }
    require(dataOffset >= 0, "MetaImage header without ElementDataFile")
    require(fields.get("ObjectType").forall(_ == "Image"),
      s"MetaImage ObjectType '${fields.getOrElse("ObjectType", "?")}' unsupported")
    require(fields.get("HeaderSize").forall(_.toLong == 0L),
      "MetaImage HeaderSize != 0 unsupported")
    val ndims = fields.getOrElse("NDims",
      throw new IllegalArgumentException("MetaImage without NDims")).toInt
    val sizes = fields.getOrElse("DimSize",
      throw new IllegalArgumentException("MetaImage without DimSize"))
      .split("\\s+").map(_.toLong).toSeq
    require(sizes.length == ndims, "DimSize arity != NDims")
    val dtype = metTypes.getOrElse(fields.getOrElse("ElementType", "?"),
      throw new UnsupportedOperationException(
        s"MetaImage ElementType '${fields.getOrElse("ElementType", "?")}' unsupported"))
    require(fields.get("ElementNumberOfChannels").forall(_.toInt == 1),
      "MetaImage multi-channel voxels unsupported (split channels upstream)")
    val bigEndian = Seq("BinaryDataByteOrderMSB", "ElementByteOrderMSB")
      .flatMap(fields.get).headOption.exists(_.equalsIgnoreCase("True"))
    val compressed = fields.get("CompressedData").exists(_.equalsIgnoreCase("True"))
    val dataFileField = fields("ElementDataFile")
    require(dataFileField != "LIST" && !dataFileField.contains("%"),
      "MetaImage per-slice data file lists unsupported")
    val dataFile = if (dataFileField == "LOCAL") None else Some(dataFileField)
    val spacing = fields.get("ElementSpacing").orElse(fields.get("ElementSize"))
      .map(_.split("\\s+").map(_.toDouble).toSeq)
      .getOrElse(sizes.map(_ => 1.0))
    val origin = fields.get("Offset").orElse(fields.get("Origin"))
      .orElse(fields.get("Position"))
      .map(_.split("\\s+").map(_.toDouble).toSeq)
      .getOrElse(sizes.map(_ => 0.0))
    RawHeader(sizes, dtype, bigEndian, if (compressed) "zlib" else "raw",
      dataOffset = if (dataFile.isEmpty) dataOffset else 0L,
      dataFile = dataFile,
      spatial = sizes.map(_ => true), spacing = spacing, origin = origin)
  }

  // ----------------------------------------------------------------- MGH

  /** Parse the FreeSurfer MGH fixed 284-byte header (always
    * big-endian): dims [width, height, depth, nframes] fastest-first,
    * type code, and — when goodRASFlag is set — per-axis sizes used
    * as spacing. (.mgz is the same stream gzip-wrapped.)
    */
  def parseMgh(headerBytes: Array[Byte]): RawHeader = {
    require(headerBytes.length >= 284, "MGH header needs 284 bytes")
    val bb = ByteBuffer.wrap(headerBytes).order(ByteOrder.BIG_ENDIAN)
    val version = bb.getInt(0)
    require(version == 1, s"MGH version $version unsupported (expected 1)")
    val dims = Seq(bb.getInt(4), bb.getInt(8), bb.getInt(12)).map(_.toLong)
    val nframes = bb.getInt(16).toLong
    val dtype = bb.getInt(20) match {
      case 0 => "uint8"
      case 1 => "int32"
      case 3 => "float32"
      case 4 => "int16"
      case other => throw new UnsupportedOperationException(s"MGH type code $other")
    }
    val goodRas = bb.getShort(28) > 0
    val spacing3 =
      if (goodRas) Seq(bb.getFloat(30).toDouble, bb.getFloat(34).toDouble,
        bb.getFloat(38).toDouble)
      else Seq(1.0, 1.0, 1.0)
    val shape = if (nframes > 1) dims :+ nframes else dims
    val spatial = Seq(true, true, true) ++ (if (nframes > 1) Seq(false) else Nil)
    RawHeader(shape, dtype, bigEndian = true, encoding = "raw", dataOffset = 284L,
      dataFile = None, spatial = spatial,
      spacing = spacing3 ++ (if (nframes > 1) Seq(1.0) else Nil),
      origin = shape.map(_ => 0.0))
  }

  // ------------------------------------------------------- VTK (legacy)

  private val vtkTypes = Map(
    "char" -> "int8", "unsigned_char" -> "uint8",
    "short" -> "int16", "unsigned_short" -> "uint16",
    "int" -> "int32", "unsigned_int" -> "uint32",
    "long" -> "int64", "float" -> "float32", "double" -> "float64")

  /** Parse a legacy-VTK STRUCTURED_POINTS header (the `# vtk DataFile`
    * text preamble): BINARY point scalars only (legacy binary data is
    * big-endian by spec; ASCII and other dataset kinds refuse).
    */
  def parseVtk(headerBytes: Array[Byte]): RawHeader = {
    val text = new String(headerBytes, "ISO-8859-1")
    require(text.startsWith("# vtk DataFile"), "not a legacy VTK file")
    // header lines: magic, title, format, DATASET, then keyword lines
    // until the line AFTER `LOOKUP_TABLE` (or after SCALARS when no
    // table); data starts on the next byte.
    var pos = 0
    def nextLine(): String = {
      val nl = text.indexOf('\n', pos)
      require(nl >= 0, "truncated VTK header")
      val line = text.substring(pos, nl).stripSuffix("\r")
      pos = nl + 1
      line
    }
    nextLine(); nextLine()
    val fmt = nextLine().trim.toUpperCase
    require(fmt == "BINARY" || fmt == "ASCII", s"VTK format '$fmt' unsupported")
    val ds = nextLine().trim.split("\\s+")
    require(ds.length == 2 && ds(0) == "DATASET" && ds(1) == "STRUCTURED_POINTS",
      s"VTK dataset '${ds.mkString(" ")}' unsupported (STRUCTURED_POINTS only)")
    var dims: Seq[Long] = null
    var spacing = Seq(1.0, 1.0, 1.0)
    var origin = Seq(0.0, 0.0, 0.0)
    var dtype: String = null
    var done = false
    while (!done) {
      val parts = nextLine().trim.split("\\s+")
      parts(0).toUpperCase match {
        case "DIMENSIONS" => dims = parts.drop(1).map(_.toLong).toSeq
        case "SPACING" | "ASPECT_RATIO" => spacing = parts.drop(1).map(_.toDouble).toSeq
        case "ORIGIN" => origin = parts.drop(1).map(_.toDouble).toSeq
        case "POINT_DATA" => ()
        case "SCALARS" =>
          require(parts.length >= 3, "malformed SCALARS line")
          require(parts.length < 4 || parts(3) == "1",
            s"VTK multi-component scalars (${parts.lift(3).getOrElse("?")}) unsupported")
          dtype = vtkTypes.getOrElse(parts(2),
            throw new UnsupportedOperationException(s"VTK scalar type '${parts(2)}'"))
          // LOOKUP_TABLE line is optional; data may start immediately
          val save = pos
          val peek = nextLine()
          if (!peek.trim.toUpperCase.startsWith("LOOKUP_TABLE")) pos = save
          done = true
        case "CELL_DATA" => throw new UnsupportedOperationException(
          "VTK CELL_DATA unsupported (point scalars only)")
        case other => throw new IllegalArgumentException(s"unexpected VTK keyword '$other'")
      }
    }
    require(dims != null && dims.length == 3, "VTK without 3-D DIMENSIONS")
    RawHeader(dims, dtype, bigEndian = true,
      encoding = if (fmt == "ASCII") "ascii" else "raw",
      dataOffset = pos.toLong, dataFile = None,
      spatial = Seq(true, true, true), spacing = spacing, origin = origin)
  }

  // ---------------------------------------------------------------- GIPL

  /** Parse the Guys Image Processing Lab fixed 256-byte big-endian
    * header (the itk-readable `.gipl`/`.gipl.gz`): dims + type code +
    * pixdim + origin, magic at offset 252 — itkGiplImageIO accepts
    * both the primary 0xEFFFE9B0 and the secondary 0x2AE389B8.
    */
  def parseGipl(headerBytes: Array[Byte]): RawHeader = {
    require(headerBytes.length >= 256, "GIPL header needs 256 bytes")
    val bb = ByteBuffer.wrap(headerBytes).order(ByteOrder.BIG_ENDIAN)
    val giplMagic = bb.getInt(252) & 0xffffffffL
    require(giplMagic == 0x2AE389B8L || giplMagic == 0xEFFFE9B0L,
      f"bad GIPL magic 0x$giplMagic%08x")
    val dims4 = (0 until 4).map(i => (bb.getShort(2 * i) & 0xffff).toLong)
    val shape = if (dims4(3) > 1) dims4 else dims4.take(3)
    require(shape.forall(_ > 0), s"GIPL dims $dims4")
    val dtype = bb.getShort(8).toInt match {
      case 7 => "int8"
      case 8 => "uint8"
      case 15 => "int16"
      case 16 => "uint16"
      case 31 => "uint32"
      case 32 => "int32"
      case 64 => "float32"
      case 65 => "float64"
      case other => throw new UnsupportedOperationException(s"GIPL image type $other")
    }
    val pixdim = (0 until 4).map(i => bb.getFloat(10 + 4 * i).toDouble)
    val origin = (0 until 4).map(i => bb.getDouble(204 + 8 * i))
    val n = shape.length
    RawHeader(shape, dtype, bigEndian = true, encoding = "raw", dataOffset = 256L,
      dataFile = None,
      spatial = Seq(true, true, true) ++ (if (n > 3) Seq(false) else Nil),
      spacing = pixdim.take(3) ++ (if (n > 3) Seq(1.0) else Nil),
      origin = origin.take(3) ++ (if (n > 3) Seq(0.0) else Nil))
  }

  // ----------------------------------------------------------------- MRC

  /** Parse an MRC2014 header (electron microscopy / cryo-EM;
    * `.mrc` in the reference's itk list): 1024-byte header validated
    * by the 'MAP ' magic at byte 208, endianness from the machine
    * stamp, voxel spacing = CELLA / M (ångströms), data at
    * 1024 + NSYMBT (extended header skipped by length). Non-default
    * axis correspondence (MAPC/R/S ≠ 1/2/3) and complex modes refuse.
    */
  def parseMrc(headerBytes: Array[Byte]): RawHeader = {
    require(headerBytes.length >= 1024, "MRC header needs 1024 bytes")
    require(new String(headerBytes, 208, 3, "US-ASCII") == "MAP",
      "not an MRC2014 file (missing 'MAP ' magic at byte 208)")
    val stamp = headerBytes(212) & 0xff
    val be = stamp match {
      case 0x44 => false
      case 0x11 => true
      case other => throw new IllegalArgumentException(
        f"MRC machine stamp 0x$other%02x unrecognized (0x44 LE / 0x11 BE)")
    }
    val bb = ByteBuffer.wrap(headerBytes).order(
      if (be) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    def w(i: Int) = bb.getInt(4 * i)
    def f(i: Int) = bb.getFloat(4 * i).toDouble
    val shape = Seq(w(0).toLong, w(1).toLong, w(2).toLong)
    require(shape.forall(s => s > 0 && s < Int.MaxValue), s"MRC dims $shape")
    val dtype = w(3) match {
      case 0 => "int8"
      case 1 => "int16"
      case 2 => "float32"
      case 6 => "uint16"
      case other => throw new UnsupportedOperationException(
        s"MRC mode $other unsupported (0/1/2/6)")
    }
    require(w(16) == 1 && w(17) == 2 && w(18) == 3,
      s"MRC axis correspondence ${w(16)}/${w(17)}/${w(18)} unsupported (1/2/3 only)")
    val m = Seq(w(7), w(8), w(9))
    val spacing = (0 until 3).map(i =>
      if (m(i) > 0 && f(10 + i) > 0) f(10 + i) / m(i) else 1.0)
    val nsymbt = w(23)
    require(nsymbt >= 0, s"MRC NSYMBT $nsymbt")
    RawHeader(shape, dtype, be, encoding = "raw", dataOffset = 1024L + nsymbt,
      dataFile = None, spatial = Seq(true, true, true),
      spacing = spacing, origin = Seq(0.0, 0.0, 0.0),
      units = Seq("angstrom", "angstrom", "angstrom"))
  }

  def readMrc(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage =
    readParsed(spark, path, parseMrc(probeHeader(spark, path)), chunkShape)

  // ------------------------------------------------------------- reading

  /** Read any of the five formats, dispatched on extension. */
  def read(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val lower = path.toLowerCase
    if (lower.endsWith(".nrrd") || lower.endsWith(".nhdr")) readNrrd(spark, path, chunkShape)
    else if (lower.endsWith(".mha") || lower.endsWith(".mhd")) readMetaImage(spark, path, chunkShape)
    else if (lower.endsWith(".mgh") || lower.endsWith(".mgz")) readMgh(spark, path, chunkShape)
    else if (lower.endsWith(".vtk")) readVtk(spark, path, chunkShape)
    else if (lower.endsWith(".gipl") || lower.endsWith(".gipl.gz")) readGipl(spark, path, chunkShape)
    else if (lower.endsWith(".mrc")) readMrc(spark, path, chunkShape)
    else if (lower.endsWith(".mnc") || lower.endsWith(".mnc.gz"))
      MincIO.read(spark, path, chunkShape)
    else if (lower.endsWith(".pic")) ScannerFormats.readPic(spark, path, chunkShape)
    else if (lower.endsWith(".isq")) ScannerFormats.readIsq(spark, path, chunkShape)
    else if (lower.endsWith(".fdf")) ScannerFormats.readFdf(spark, path, chunkShape)
    else throw new UnsupportedOperationException(
      s"$path: not an NRRD/MetaImage/MGH/VTK/GIPL/MRC/MINC/PIC/ISQ/FDF volume")
  }

  def readNrrd(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage =
    readParsed(spark, path, parseNrrd(probeHeader(spark, path)), chunkShape)

  def readMetaImage(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage =
    readParsed(spark, path, parseMetaImage(probeHeader(spark, path)), chunkShape)

  def readVtk(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage =
    readParsed(spark, path, parseVtk(probeHeader(spark, path)), chunkShape)

  def readGipl(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    if (path.toLowerCase.endsWith(".gz")) {
      val all = gunzip(new ZarrStore(path, hconf).readBytes(""))
      val h = parseGipl(all)
      val meta = metaFor(h, chunkShape)
      VolumeImage(meta, RawVolume.scatterFortran(spark, decodePayload(all, h), meta))
    } else readParsed(spark, path, parseGipl(probeHeader(spark, path)), chunkShape)
  }

  def readMgh(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    if (path.toLowerCase.endsWith(".mgz")) {
      val store = new ZarrStore(path, hconf)
      val all = gunzip(store.readBytes(""))
      val h = parseMgh(all)
      val meta = metaFor(h, chunkShape)
      val fvals = decodePayload(all, h)
      VolumeImage(meta, RawVolume.scatterFortran(spark, fvals, meta))
    } else readParsed(spark, path, parseMgh(probeHeader(spark, path)), chunkShape)
  }

  /** First bytes of the object, capped at its length (headers are
    * small; raw payloads are NOT pulled here).
    */
  private[operators] def probeHeader(spark: SparkSession, path: String): Array[Byte] = {
    val store = new ZarrStore(path, Some(SerializableHadoopConf.fromActiveSession()))
    val size = store.size("")
    val n = math.min(size, 64 * 1024L).toInt
    store.readRange("", 0L, n)
  }

  private[operators] def metaFor(h: RawHeader, chunkShape: Option[Seq[Int]]): ImageMeta =
    metaForDims(h, dimNames(h.spatial), chunkShape)

  /** One definition of the chunk-default rule (64 per spatial dim,
    * 1 otherwise) and the RawHeader→ImageMeta mapping — shared with
    * readers that derive dim names themselves (MINC).
    */
  private[operators] def metaForDims(h: RawHeader, dims: Seq[String],
      chunkShape: Option[Seq[Int]], dtypeOverride: Option[String] = None): ImageMeta = {
    val chunks = chunkShape.getOrElse(
      dims.zip(h.shape).map { case (d, s) =>
        if (Seq("x", "y", "z").contains(d)) math.min(64L, s).toInt else 1 })
    ImageMeta(dims, h.shape, chunks, dtypeOverride.getOrElse(h.dtype),
      scale = dims.zip(h.spacing).toMap,
      translation = dims.zip(h.origin).toMap,
      axesUnits = dims.zip(h.units).collect {
        case (d, u) if u.nonEmpty => d -> u
      }.toMap)
  }

  private[operators] def readParsed(spark: SparkSession, headerPath: String, h: RawHeader,
      chunkShape: Option[Seq[Int]]): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val meta = metaFor(h, chunkShape)
    val itemSize = itemSizes(h.dtype)
    val dataPath = h.dataFile match {
      case Some(f) =>
        val slash = headerPath.lastIndexOf('/')
        if (slash < 0) f else headerPath.substring(0, slash + 1) + f
      case None => headerPath
    }
    val chunks: Dataset[ChunkRow] = h.encoding match {
      case "raw" =>
        RawVolume.readDistributed(spark, dataPath, hconf, h.dataOffset,
          h.dtype, itemSize, h.bigEndian, meta)
      case "ascii" =>
        // decimal text parses to exactly-rounded doubles; ascii files
        // are small by nature, so the one-pass decode is fine
        val raw = new ZarrStore(dataPath, hconf).readBytes("")
        val txt = new String(raw, h.dataOffset.toInt,
          raw.length - h.dataOffset.toInt, "US-ASCII")
        val vals = txt.trim.split("\\s+")
        val n = h.shape.product.toInt
        require(vals.length >= n,
          s"ascii volume truncated: need $n values, have ${vals.length}")
        RawVolume.scatterFortran(spark, vals.take(n).map(_.toDouble), meta)
      case enc =>
        val store = new ZarrStore(dataPath, hconf)
        val raw = store.readBytes("")
        val payload = raw.slice(h.dataOffset.toInt, raw.length)
        val decoded = if (enc == "gzip") gunzip(payload) else inflate(payload)
        RawVolume.scatterFortran(spark,
          decodeAll(decoded, h), meta)
    }
    VolumeImage(meta, chunks)
  }

  private def decodePayload(all: Array[Byte], h: RawHeader): Array[Double] =
    decodeAll(all.slice(h.dataOffset.toInt, all.length), h)

  private def decodeAll(payload: Array[Byte], h: RawHeader): Array[Double] = {
    val n = h.shape.product
    val itemSize = itemSizes(h.dtype)
    require(payload.length >= n * itemSize,
      s"volume payload truncated: need ${n * itemSize} bytes, have ${payload.length}")
    ZarrStore.decodeToDoubles(payload.take((n * itemSize).toInt), h.dtype, h.bigEndian)
  }

  // ---- minimal encoder (fixtures + synthetic gate payloads) ----

  /** Encode an attached-raw NRRD (fastest-axis-first `values` in
    * Fortran order, int16 big-endian payload) — the shape every NRRD
    * reader must accept; used by the i67 gate so header, spacing
    * mapping and the distributed positioned-read path are all on the
    * verified route.
    */
  def encodeNrrdInt16(shape: Seq[Long], spacing: Seq[Double], origin: Seq[Double],
      values: Array[Int]): Array[Byte] = {
    require(values.length.toLong == shape.product, "values != shape product")
    require(shape.length == 3 && spacing.length == 3 && origin.length == 3,
      "encodeNrrdInt16 writes 3-D volumes")
    def vec(v: Seq[Double], axis: Int) =
      "(" + v.indices.map(i => if (i == axis) v(axis).toString else "0").mkString(",") + ")"
    val header =
      "NRRD0004\n" +
        "type: short\n" +
        "dimension: 3\n" +
        s"sizes: ${shape.mkString(" ")}\n" +
        "space directions: " + (0 until 3).map(a => vec(spacing, a)).mkString(" ") + "\n" +
        s"space origin: (${origin.mkString(",")})\n" +
        "endian: big\n" +
        "encoding: raw\n\n"
    val bb = ByteBuffer.allocate(values.length * 2).order(ByteOrder.BIG_ENDIAN)
    values.foreach(v => bb.putShort(v.toShort))
    header.getBytes("US-ASCII") ++ bb.array()
  }

  private[operators] def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    try in.readAllBytes() finally in.close()
  }

  private def inflate(bytes: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(bytes)
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](64 * 1024)
    while (!inf.finished()) {
      val n = inf.inflate(buf)
      require(n > 0 || inf.finished(), "truncated zlib stream in MetaImage payload")
      out.write(buf, 0, n)
    }
    inf.end()
    out.toByteArray
  }
}
