package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.SparkSession
import graft.operators.VolumeFormats.{RawHeader, VolumeImage}
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — the vendor scanner-format tier: BioRad confocal `.pic`,
  * Scanco microCT `.isq`, and Varian MRI `.fdf`. The reference routes
  * all three through itkwasm/itk (`py/ngff_zarr/detect_cli_io_backend.py:36-68`;
  * `.isq`/`.fdf` need the itk-ioscanco / itk-iofdf plugin modules).
  * Each is a fixed or text header plus a raw Fortran-ordered array —
  * no codec stack — so they read through the shared [[RawVolume]]
  * positioned-read machinery exactly like NRRD/MetaImage: one Spark
  * task per output chunk, payload bytes never transit the driver.
  *
  * Layout sources are the public format documentation each vendor or
  * its open-source readers published: the BioRad MRC-600 PIC header
  * (76-byte fixed header, 96-byte note records, `AXIS_n` calibration
  * lines) as implemented by ITK's BioRadImageIO and ImageJ's Biorad
  * reader; Scanco's own ISQ header description ("CTDATA-HEADER_V1",
  * int32 fields, data offset in 512-byte blocks) as implemented by
  * ITK's ScancoImageIO; and the Varian/Agilent FDF text-header format
  * (NUL-terminated ASCII header, payload aligned to end-of-file) as
  * implemented by the itk-iofdf module. Scanco `.aim` stays a loud
  * refusal: its block-structured container has no authoritative
  * public layout available here, and a guessed stride is exactly the
  * silent corruption this engine refuses to risk.
  */
object ScannerFormats {

  // ------------------------------------------------------------- BioRad PIC

  /** Fixed BioRad PIC facts: 76-byte little-endian header; voxel
    * payload immediately after; optional 96-byte note records after
    * the payload carrying `AXIS_n` spatial calibration.
    */
  final case class PicHeader(
      nx: Int, ny: Int, npic: Int,
      uint8: Boolean,       // byte_format == 1 → uint8, 0 → uint16 LE
      hasNotes: Boolean)

  def parsePicHeader(bytes: Array[Byte]): PicHeader = {
    require(bytes.length >= 76, "BioRad PIC file shorter than its 76-byte header")
    val bb = ByteBuffer.wrap(bytes, 0, 76).order(ByteOrder.LITTLE_ENDIAN)
    val nx = bb.getShort(0) & 0xffff
    val ny = bb.getShort(2) & 0xffff
    val npic = bb.getShort(4) & 0xffff
    val notes = bb.getInt(10)
    val byteFormat = bb.getShort(14)
    val fileId = bb.getShort(54)
    require(fileId == 12345,
      s"not a BioRad PIC file (file_id $fileId != 12345 at offset 54)")
    require(byteFormat == 0 || byteFormat == 1,
      s"BioRad PIC byte_format $byteFormat unsupported (0=16-bit, 1=8-bit)")
    require(nx > 0 && ny > 0 && npic > 0, s"BioRad PIC dims ${nx}x${ny}x$npic")
    PicHeader(nx, ny, npic, uint8 = byteFormat == 1, hasNotes = notes != 0)
  }

  /** Parse the note region (96-byte records: level s16, next s32,
    * num/status/type/x/y s16, text char[80]) for `AXIS_n` variable
    * notes: `AXIS_2 001 <origin> <increment> <units>` with axis type
    * 1 (distance). AXIS_2/3/4 are x/y/z; increment is the pixel size
    * (microns in every published profile).
    */
  def parsePicNotes(notes: Array[Byte]): Map[Int, (Double, Double, String)] = {
    var out = Map.empty[Int, (Double, Double, String)]
    val bb = ByteBuffer.wrap(notes).order(ByteOrder.LITTLE_ENDIAN)
    var off = 0
    var more = true
    while (more && off + 96 <= notes.length) {
      val next = bb.getInt(off + 2)
      val text = new String(notes, off + 16, 80, "US-ASCII")
        .takeWhile(_ != 0).trim
      if (text.startsWith("AXIS_")) {
        // AXIS_2 001 0.000000e+00 1.799999e-01 microns
        val toks = text.split("\\s+")
        if (toks.length >= 4) {
          val axis = toks(0).stripPrefix("AXIS_").toInt
          val axisType = toks(1).toInt
          if (axisType == 1 && axis >= 2 && axis <= 4)
            out += (axis - 2) -> (toks(2).toDouble, toks(3).toDouble,
              if (toks.length >= 5) toks(4) else "")
        }
      }
      more = next != 0
      off += 96
    }
    out
  }

  /** Read a BioRad `.pic` confocal stack. Payload is positioned-read
    * per chunk by executors; only the 76-byte header and the
    * kilobyte-scale note records are probed driver-side.
    */
  def readPic(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val size = store.size("")
    val h = parsePicHeader(store.readRange("", 0L, math.min(size, 76L).toInt))
    val itemSize = if (h.uint8) 1 else 2
    val dataEnd = 76L + h.nx.toLong * h.ny * h.npic * itemSize
    require(dataEnd <= size,
      s"BioRad PIC payload truncated: need $dataEnd bytes, file has $size")
    val axes: Map[Int, (Double, Double, String)] =
      if (h.hasNotes && size > dataEnd)
        parsePicNotes(store.readRange("", dataEnd, (size - dataEnd).toInt))
      else Map.empty
    def unit(s: String) = s.toLowerCase match {
      case "microns" | "micron" | "um" => "micrometer"
      case "" => ""
      case other => other
    }
    val raw = RawHeader(
      shape = Seq(h.nx.toLong, h.ny.toLong, h.npic.toLong),
      dtype = if (h.uint8) "uint8" else "uint16",
      bigEndian = false, encoding = "raw", dataOffset = 76L, dataFile = None,
      spatial = Seq(true, true, true),
      spacing = (0 until 3).map(i => axes.get(i).map(_._2).getOrElse(1.0)),
      origin = (0 until 3).map(i => axes.get(i).map(_._1).getOrElse(0.0)),
      units = (0 until 3).map(i => unit(axes.get(i).map(_._3).getOrElse(""))))
    VolumeFormats.readParsed(spark, path, raw, chunkShape)
  }

  // ------------------------------------------------------------- Scanco ISQ

  /** Parse a Scanco ISQ header: 16-byte magic "CTDATA-HEADER_V1",
    * int32 LE fields (data_type at 16: 1=char, 3=short; pixel dims at
    * 44..55; physical dims in µm at 56..67), and the data offset in
    * 512-byte blocks at byte 508 (payload starts at
    * `(data_offset + 1) * 512`). Spacing is `dim_um / dim_p / 1000`
    * millimetres per pixel, the ScancoImageIO rule.
    */
  def parseIsq(bytes: Array[Byte]): RawHeader = {
    require(bytes.length >= 512, "Scanco ISQ file shorter than its 512-byte header")
    val magic = new String(bytes, 0, 16, "US-ASCII")
    require(magic == "CTDATA-HEADER_V1",
      s"not a Scanco ISQ file (magic '$magic')")
    val bb = ByteBuffer.wrap(bytes, 0, 512).order(ByteOrder.LITTLE_ENDIAN)
    val dataType = bb.getInt(16)
    val dtype = dataType match {
      case 1 => "int8"
      case 3 => "int16"
      case other => throw new UnsupportedOperationException(
        s"Scanco ISQ data type $other unsupported (1=char, 3=short)")
    }
    val dimP = Seq(bb.getInt(44), bb.getInt(48), bb.getInt(52)).map(_.toLong)
    val dimUm = Seq(bb.getInt(56), bb.getInt(60), bb.getInt(64))
    require(dimP.forall(_ > 0), s"Scanco ISQ pixel dims $dimP")
    val spacing = dimP.zip(dimUm).map { case (p, um) =>
      if (um > 0) um.toDouble / p / 1000.0 else 1.0
    }
    val dataOffsetBlocks = bb.getInt(508)
    require(dataOffsetBlocks >= 0, s"Scanco ISQ data offset $dataOffsetBlocks blocks")
    RawHeader(dimP, dtype, bigEndian = false, encoding = "raw",
      dataOffset = (dataOffsetBlocks + 1L) * 512L, dataFile = None,
      spatial = Seq(true, true, true), spacing = spacing,
      origin = Seq(0.0, 0.0, 0.0),
      units = Seq("millimeter", "millimeter", "millimeter"))
  }

  def readIsq(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage =
    VolumeFormats.readParsed(spark, path,
      parseIsq(VolumeFormats.probeHeader(spark, path)), chunkShape)

  // ------------------------------------------------------------- Varian FDF

  /** Parsed FDF field lines: `type name[] = value;` up to the NUL
    * byte that terminates the ASCII header.
    */
  def parseFdfFields(bytes: Array[Byte]): (Map[String, String], Int) = {
    var nul = 0
    while (nul < bytes.length && bytes(nul) != 0) nul += 1
    require(nul < bytes.length, "Varian FDF header missing its NUL terminator")
    val text = new String(bytes, 0, nul, "US-ASCII")
    val lines = text.split("\r?\n").toSeq
    require(lines.nonEmpty && lines.head.startsWith("#!/usr/local/fdf/"),
      "not a Varian FDF file (missing #!/usr/local/fdf/ magic line)")
    val fields = lines.tail.flatMap { l =>
      val line = l.trim.stripSuffix(";")
      val eq = line.indexOf('=')
      if (eq < 0) None
      else {
        // last identifier token before '=' is the name; strip `*`/`[]`
        val name = line.substring(0, eq).trim.split("\\s+").last
          .stripPrefix("*").stripSuffix("[]")
        Some(name -> line.substring(eq + 1).trim)
      }
    }.toMap
    (fields, nul)
  }

  private def fdfList(v: String): Seq[String] =
    v.stripPrefix("{").stripSuffix("}").split(",").map(_.trim).toSeq

  private def fdfStr(v: String): String = v.stripPrefix("\"").stripSuffix("\"")

  /** Read a Varian/Agilent `.fdf` slab. The header is ASCII `field =
    * value;` lines; the payload is raw, aligned to the END of the
    * file (`fileSize - product(matrix) * bits/8`, the itk-iofdf
    * seek-from-end rule). `span`/`origin` are centimetres →
    * millimetres (×10); spacing is `span*10/matrix`. A missing
    * `bigendian` field means big-endian (historic Sun byte order).
    */
  def readFdf(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val size = store.size("")
    val (fields, _) = parseFdfFields(store.readRange("", 0L, math.min(size, 32 * 1024L).toInt))
    val matrix = fdfList(fields.getOrElse("matrix",
      throw new IllegalArgumentException("FDF without matrix[] field")))
      .map(_.toDouble.toLong)
    require(matrix.nonEmpty && matrix.forall(_ > 0), s"FDF matrix $matrix")
    val storage = fdfStr(fields.getOrElse("storage", "\"float\""))
    val bits = fields.get("bits").map(_.toDouble.toInt).getOrElse(32)
    val dtype = (storage, bits) match {
      case ("float", 32) => "float32"
      case ("float", 64) => "float64"
      case ("integer", 32) => "int32"
      case ("integer", 16) | ("short", 16) => "int16"
      case other => throw new UnsupportedOperationException(
        s"FDF storage/bits $other unsupported")
    }
    val itemSize = VolumeFormats.itemSizes(dtype)
    val bigEndian = fields.get("bigendian").map(_.trim.toDouble.toInt)
      .map(_ != 0).getOrElse(true)
    val n = matrix.product
    val dataOffset = size - n * itemSize
    require(dataOffset >= 0,
      s"FDF payload larger than file: need ${n * itemSize} bytes, file has $size")
    val span = fields.get("span").map(fdfList(_).map(_.toDouble))
      .getOrElse(matrix.map(_ => 0.0))
    val origin = fields.get("origin").map(fdfList(_).map(_.toDouble))
      .getOrElse(matrix.map(_ => 0.0))
    require(span.length >= matrix.length && origin.length >= matrix.length,
      "FDF span/origin arity < matrix arity")
    val spacing = matrix.indices.map { i =>
      if (span(i) != 0.0) span(i) * 10.0 / matrix(i) else 1.0
    }
    val raw = RawHeader(matrix, dtype, bigEndian, encoding = "raw",
      dataOffset = dataOffset, dataFile = None,
      spatial = matrix.map(_ => true),
      spacing = spacing, origin = origin.take(matrix.length).map(_ * 10.0),
      units = matrix.map(_ => "millimeter"))
    VolumeFormats.readParsed(spark, path, raw, chunkShape)
  }

  // --------------------------------------------- fixture/gate encoders

  /** Encode a BioRad PIC (uint8 payload, AXIS_2/3/4 spacing notes) —
    * used by the oracle gate so the header, note-walk and positioned
    * read are all on the verified route. Independent of the reader:
    * plain struct packing per the published layout.
    */
  def encodePicUint8(nx: Int, ny: Int, npic: Int,
      spacing: Seq[Double], origin: Seq[Double], values: Array[Int]): Array[Byte] = {
    require(values.length == nx * ny * npic, "values != nx*ny*npic")
    val header = ByteBuffer.allocate(76).order(ByteOrder.LITTLE_ENDIAN)
    header.putShort(0, nx.toShort)
    header.putShort(2, ny.toShort)
    header.putShort(4, npic.toShort)
    header.putInt(10, 1) // notes present
    header.putShort(14, 1.toShort) // uint8
    header.putShort(54, 12345.toShort)
    val payload = values.map(_.toByte)
    val notes = (0 until 3).map { a =>
      val b = ByteBuffer.allocate(96).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(2, if (a < 2) 1 else 0) // next flag
      b.putShort(10, 20.toShort)       // NOTE_TYPE_VARIABLE
      val txt = f"AXIS_${a + 2}%d 001 ${origin(a)}%.6e ${spacing(a)}%.6e microns"
      val tb = txt.getBytes("US-ASCII")
      b.position(16); b.put(tb, 0, math.min(tb.length, 80))
      b.array()
    }
    header.array() ++ payload ++ notes.flatten
  }

  /** Encode a Scanco ISQ (int16 payload, one data-offset block) for
    * the spec/gate route.
    */
  def encodeIsqInt16(dims: Seq[Int], dimsUm: Seq[Int],
      values: Array[Int]): Array[Byte] = {
    require(dims.length == 3 && dimsUm.length == 3, "ISQ is 3-D")
    require(values.length.toLong == dims.map(_.toLong).product, "values != dims product")
    val header = ByteBuffer.allocate(1024).order(ByteOrder.LITTLE_ENDIAN)
    header.put("CTDATA-HEADER_V1".getBytes("US-ASCII"))
    header.putInt(16, 3) // short
    (0 until 3).foreach { i =>
      header.putInt(44 + 4 * i, dims(i))
      header.putInt(56 + 4 * i, dimsUm(i))
    }
    header.putInt(508, 1) // data at (1+1)*512 = 1024
    val bb = ByteBuffer.allocate(values.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(v => bb.putShort(v.toShort))
    header.array() ++ bb.array()
  }
}
