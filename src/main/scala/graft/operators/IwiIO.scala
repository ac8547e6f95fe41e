package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.SparkSession
import graft.meta.{Cbor, Model}
import graft.meta.Cbor._
import graft.meta.Model.ImageMeta
import graft.operators.VolumeFormats.{RawHeader, VolumeImage}
import graft.zarr.{SerializableHadoopConf, ZarrStore}

/** S10 — the itk-wasm image container family: `.iwi` (a directory
  * with `index.json` + raw payload files), `.iwi.cbor` (the same
  * structure as one CBOR document) and `.iwi.cbor.zst` (zstd-framed
  * CBOR). The reference routes all three through itkwasm_image_io
  * (`py/ngff_zarr/detect_cli_io_backend.py:44-46`) and converts the
  * resulting itkwasm `Image` via `itk_image_to_ngff_image.py:53-83`;
  * the layout here is the public itk-wasm `Image` interface —
  * `imageType{dimension, componentType, pixelType, components}`,
  * `name`, `origin`, `spacing`, `direction` (dim² row-major float64),
  * `size` (fastest-axis-first: x, y, z), `metadata`, `data` (C-order
  * buffer, component interleaved fastest) — with numeric arrays as
  * RFC 8746 typed-array tags in the CBOR form.
  *
  * Scale posture: `.iwi` directories and plain `.iwi.cbor` payloads
  * are positioned-read per output chunk by executors — the CBOR
  * header parse leaves the voxel byte string IN PLACE
  * ([[Cbor.decodeWithRefs]]) so pixels never transit the driver as
  * decoded doubles. Only `.iwi.cbor.zst` stream-decodes once
  * (zstd single frames aren't splittable — the same documented
  * posture as `.nii.gz`/gzip volumes; convert to `.iwi` or zarr for
  * parallel ingest of large compressed volumes). Parity with the
  * reference's `add_anatomical_orientation=True` default: spatial
  * dims carry the fixed ITK LPS orientations (`rfc4.py:129-160`).
  *
  * Refuse-loudly: unknown component types, float128/clamped typed
  * arrays, rank/size mismatches between `size`, `dimension` and the
  * payload length are precise errors, never a mis-strided volume.
  */
object IwiIO {

  /** RFC 8746 tag → (element dtype, big-endian). Tags 68 (uint8
    * clamped) and 83/87 (float128) refuse: no analog in this engine's
    * dtype lattice.
    */
  private val typedArrayTags: Map[Long, (String, Boolean)] = Map(
    64L -> ("uint8", false),
    65L -> ("uint16", true), 66L -> ("uint32", true), 67L -> ("uint64", true),
    69L -> ("uint16", false), 70L -> ("uint32", false), 71L -> ("uint64", false),
    72L -> ("int8", false),
    73L -> ("int16", true), 74L -> ("int32", true), 75L -> ("int64", true),
    77L -> ("int16", false), 78L -> ("int32", false), 79L -> ("int64", false),
    80L -> ("float16", true), 81L -> ("float32", true), 82L -> ("float64", true),
    84L -> ("float16", false), 85L -> ("float32", false), 86L -> ("float64", false))

  /** Canonical write tag per component type (always little-endian). */
  private val writeTags: Map[String, Long] = Map(
    "uint8" -> 64L, "uint16" -> 69L, "uint32" -> 70L, "uint64" -> 71L,
    "int8" -> 72L, "int16" -> 77L, "int32" -> 78L, "int64" -> 79L,
    "float32" -> 85L, "float64" -> 86L)

  private val componentTypes = writeTags.keySet + "float16"

  /** Parsed container facts, pre-pixel-read. */
  final case class IwiHeader(
      dimension: Int,
      componentType: String,
      pixelType: String,
      components: Int,
      name: String,
      origin: Seq[Double],
      spacing: Seq[Double],
      size: Seq[Long],
      direction: Array[Double], // dim², row-major
      dataDtype: String,        // element type of the payload encoding
      dataBigEndian: Boolean)

  // ------------------------------------------------------------- read

  def read(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]] = None): VolumeImage = {
    val lower = path.toLowerCase
    if (lower.endsWith(".iwi.cbor.zst")) readCborZst(spark, path, chunkShape)
    else if (lower.endsWith(".iwi.cbor")) readCbor(spark, path, chunkShape)
    else if (lower.endsWith(".iwi")) readDir(spark, path, chunkShape)
    else throw new UnsupportedOperationException(
      s"$path is not an itk-wasm image container (.iwi/.iwi.cbor/.iwi.cbor.zst)")
  }

  /** Plain CBOR: parse the document with the voxel byte string left
    * in place, then positioned-read it distributed.
    */
  private def readCbor(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]]): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val bytes = new ZarrStore(path, hconf).readBytes("")
    // 1 MiB threshold: headers/direction stay materialized, any real
    // voxel payload becomes an (offset, length) view into the file
    val doc = asMap(Cbor.decodeWithRefs(bytes, 1 << 20), "iwi.cbor root")
    val (h, dataV) = parseHeader(doc)
    val meta = metaFor(h, chunkShape)
    val itemSize = graft.meta.Dtypes.itemSize(h.dataDtype)
    dataV match {
      case CBytesRef(off, len) =>
        requirePayload(h, len.toLong, itemSize, path)
        val chunks = RawVolume.readDistributed(spark, path, hconf, off.toLong,
          h.dataDtype, itemSize, h.dataBigEndian, meta)
        VolumeImage(meta, chunks)
      case CBytes(raw) => // small or indefinite-length payload
        requirePayload(h, raw.length.toLong, itemSize, path)
        val vals = ZarrStore.decodeToDoubles(raw, h.dataDtype, h.dataBigEndian)
        VolumeImage(meta, RawVolume.scatterFortran(spark, vals, meta))
      case other => fail(s"iwi.cbor data entry is ${other.getClass.getSimpleName}, not a byte string")
    }
  }

  /** Zstd-framed CBOR: stream-decode once (not splittable), then
    * scatter the decoded volume into chunk rows.
    */
  private def readCborZst(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]]): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val framed = new ZarrStore(path, hconf).readBytes("")
    val bytes = zstdDecompress(framed)
    val doc = asMap(Cbor.decodeWithRefs(bytes, 1 << 20), "iwi.cbor.zst root")
    val (h, dataV) = parseHeader(doc)
    val meta = metaFor(h, chunkShape)
    val itemSize = graft.meta.Dtypes.itemSize(h.dataDtype)
    val raw = dataV match {
      case CBytesRef(off, len) => java.util.Arrays.copyOfRange(bytes, off, off + len)
      case CBytes(b) => b
      case other => fail(s"iwi.cbor data entry is ${other.getClass.getSimpleName}, not a byte string")
    }
    requirePayload(h, raw.length.toLong, itemSize, path)
    val vals = ZarrStore.decodeToDoubles(raw, h.dataDtype, h.dataBigEndian)
    VolumeImage(meta, RawVolume.scatterFortran(spark, vals, meta))
  }

  /** `.iwi` directory: `index.json` + `data/<uuid>.raw` payload files
    * referenced by path string. Raw payloads are little-endian and
    * uncompressed — the fully distributed ingest path.
    */
  private def readDir(spark: SparkSession, path: String,
      chunkShape: Option[Seq[Int]]): VolumeImage = {
    val hconf = Some(SerializableHadoopConf.fromActiveSession())
    val store = new ZarrStore(path, hconf)
    val idx = new String(store.readBytes("index.json"), "UTF-8")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(idx)
    def arr(name: String): Seq[Double] = {
      val n = root.get(name)
      require(n != null && n.isArray, s"iwi index.json: missing array '$name'")
      (0 until n.size()).map(n.get(_).asDouble())
    }
    val it = root.get("imageType")
    require(it != null, "iwi index.json: missing imageType")
    val comp = it.get("componentType").asText()
    val h0 = IwiHeader(
      dimension = it.get("dimension").asInt(),
      componentType = comp,
      pixelType = it.get("pixelType").asText(),
      components = it.get("components").asInt(),
      name = Option(root.get("name")).map(_.asText()).getOrElse("image"),
      origin = arr("origin"),
      spacing = arr("spacing"),
      size = arr("size").map(_.toLong),
      direction = Option(root.get("direction")).filter(_.isArray)
        .map(n => (0 until n.size()).map(n.get(_).asDouble()).toArray)
        .getOrElse(Array.empty[Double]),
      dataDtype = comp, dataBigEndian = false)
    val h = validated(h0)
    val dataPath = Option(root.get("data")).filter(_.isTextual).map(_.asText())
      .getOrElse("data/data.raw")
    val meta = metaFor(h, chunkShape)
    val itemSize = graft.meta.Dtypes.itemSize(h.dataDtype)
    val chunks = RawVolume.readDistributed(spark, s"$path/$dataPath", hconf, 0L,
      h.dataDtype, itemSize, bigEndian = false, meta)
    VolumeImage(meta, chunks)
  }

  // -------------------------------------------------------- header parse

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  private def asMap(v: Cbor.Value, what: String): CMap = v match {
    case m: CMap => m
    case other => fail(s"$what is ${other.getClass.getSimpleName}, expected a CBOR map")
  }

  private def numSeq(v: Option[Cbor.Value], what: String): Seq[Double] = v match {
    case Some(CArray(items)) => items.map {
      case CInt(n) => n.toDouble
      case CFloat(d) => d
      case other => fail(s"$what holds ${other.getClass.getSimpleName}, expected numbers")
    }
    case Some(CTag(tag, body)) => // typed-array-encoded vector
      val (dt, be) = typedArrayTags.getOrElse(tag, fail(s"$what: unsupported typed-array tag $tag"))
      val raw = body match {
        case CBytes(b) => b
        case CBytesRef(_, _) => fail(s"$what: vector unexpectedly large")
        case other => fail(s"$what tag content is ${other.getClass.getSimpleName}")
      }
      ZarrStore.decodeToDoubles(raw, dt, be).toSeq
    case Some(other) => fail(s"$what is ${other.getClass.getSimpleName}, expected an array")
    case None => fail(s"iwi.cbor: missing '$what'")
  }

  private def parseHeader(doc: CMap): (IwiHeader, Cbor.Value) = {
    val it = asMap(doc.get("imageType").getOrElse(fail("iwi.cbor: missing imageType")), "imageType")
    def itInt(k: String): Int = it.get(k) match {
      case Some(CInt(n)) => n.toInt
      case _ => fail(s"imageType.$k missing or non-integer")
    }
    def itText(k: String): String = it.get(k) match {
      case Some(CText(s)) => s
      case _ => fail(s"imageType.$k missing or non-text")
    }
    val comp = itText("componentType")
    val (dataV, dataDtype, dataBe) = doc.get("data") match {
      case Some(CTag(tag, body)) =>
        val (dt, be) = typedArrayTags.getOrElse(tag,
          fail(s"iwi.cbor data: unsupported typed-array tag $tag (uint8-clamped and float128 have no analog here)"))
        require(dt == comp, s"iwi.cbor data typed-array element $dt != componentType $comp")
        (body, dt, be)
      case Some(b: CBytes) => (b, comp, false)     // untagged: componentType, LE
      case Some(r: CBytesRef) => (r, comp, false)
      case Some(other) => fail(s"iwi.cbor data is ${other.getClass.getSimpleName}")
      case None => fail("iwi.cbor: missing data")
    }
    val h = IwiHeader(
      dimension = itInt("dimension"),
      componentType = comp,
      pixelType = itText("pixelType"),
      components = itInt("components"),
      name = doc.get("name") match {
        case Some(CText(s)) => s; case _ => "image"
      },
      origin = numSeq(doc.get("origin"), "origin"),
      spacing = numSeq(doc.get("spacing"), "spacing"),
      size = numSeq(doc.get("size"), "size").map(_.toLong),
      direction = doc.get("direction").map(d => numSeq(Some(d), "direction").toArray)
        .getOrElse(Array.empty[Double]),
      dataDtype = dataDtype, dataBigEndian = dataBe)
    (validated(h), dataV)
  }

  private def validated(h: IwiHeader): IwiHeader = {
    require(componentTypes.contains(h.componentType),
      s"iwi componentType '${h.componentType}' unsupported")
    require(h.dimension >= 1 && h.dimension <= 3,
      s"iwi dimension ${h.dimension} outside 1..3 (t-axis stacks arrive as 4-D data)")
    require(h.size.length == h.dimension,
      s"iwi size rank ${h.size.length} != dimension ${h.dimension}")
    require(h.size.forall(_ > 0), s"iwi size ${h.size} must be positive")
    require(h.components >= 1, s"iwi components ${h.components} must be >= 1")
    require(h.origin.length == h.dimension && h.spacing.length == h.dimension,
      s"iwi origin/spacing rank != dimension ${h.dimension}")
    require(h.direction.isEmpty || h.direction.length == h.dimension * h.dimension,
      s"iwi direction has ${h.direction.length} elements, want dimension² = ${h.dimension * h.dimension}")
    h
  }

  private def requirePayload(h: IwiHeader, bytes: Long, itemSize: Int, path: String): Unit = {
    val want = h.size.product * h.components * itemSize
    require(bytes == want,
      s"$path voxel payload is $bytes bytes, want $want " +
        s"(${h.size.mkString("x")} × ${h.components} components × $itemSize B)")
  }

  /** Fastest-axis-first ImageMeta: components (when vector-pixel)
    * interleave fastest, then x, y, z — the itk buffer order. Spatial
    * dims carry the fixed ITK LPS orientations, matching the
    * reference's `add_anatomical_orientation=True` default.
    */
  private def metaFor(h: IwiHeader, chunkShape: Option[Seq[Int]]): ImageMeta = {
    val spatial =
      (if (h.components > 1) Seq(false) else Seq.empty) ++ Seq.fill(h.dimension)(true)
    val shape =
      (if (h.components > 1) Seq(h.components.toLong) else Seq.empty) ++ h.size
    val pad = if (h.components > 1) Seq(1.0) else Seq.empty
    val raw = RawHeader(
      shape = shape, dtype = h.componentType, bigEndian = h.dataBigEndian,
      encoding = "raw", dataOffset = 0L, dataFile = None, spatial = spatial,
      spacing = pad ++ h.spacing, origin = pad.map(_ => 0.0) ++ h.origin)
    val dims = VolumeFormats.dimNames(spatial)
    val m = VolumeFormats.metaForDims(raw, dims, chunkShape)
    m.copy(name = h.name,
      axesOrientations = m.spatialDims.map(d => d -> Model.LpsOrientation(d)).toMap)
  }

  // ------------------------------------------------------------- write

  /** Encode an itkwasm image as a single `.iwi.cbor` document —
    * canonical form: definite lengths, the reference key order
    * (imageType, name, origin, spacing, direction, size, metadata,
    * data), little-endian RFC 8746 typed arrays for direction and
    * data. `values` are fastest-axis-first Fortran-order doubles
    * (component fastest when `components > 1`), encoded to
    * `componentType` exactly like the zarr write path.
    */
  def encodeIwiCbor(size: Seq[Long], spacing: Seq[Double], origin: Seq[Double],
      componentType: String, values: Array[Double], components: Int = 1,
      name: String = "image", pixelType: String = "Scalar"): Array[Byte] = {
    val dim = size.length
    require(writeTags.contains(componentType),
      s"componentType '$componentType' not writable (float16 is read-only)")
    require(values.length.toLong == size.product * components,
      s"values ${values.length} != ${size.product} voxels × $components components")
    require(spacing.length == dim && origin.length == dim, "spacing/origin rank != size rank")
    val identity = Array.tabulate(dim * dim)(i => if (i % (dim + 1) == 0) 1.0 else 0.0)
    val dirBytes = {
      val bb = ByteBuffer.allocate(dim * dim * 8).order(ByteOrder.LITTLE_ENDIAN)
      identity.foreach(bb.putDouble)
      bb.array()
    }
    val payload = ZarrStore.encodeFromDoubles(values, componentType)
    val doc = CMap(Vector(
      CText("imageType") -> CMap(Vector(
        CText("dimension") -> CInt(dim),
        CText("componentType") -> CText(componentType),
        CText("pixelType") -> CText(pixelType),
        CText("components") -> CInt(components))),
      CText("name") -> CText(name),
      CText("origin") -> CArray(origin.map(CFloat(_)).toVector),
      CText("spacing") -> CArray(spacing.map(CFloat(_)).toVector),
      CText("direction") -> CTag(86, CBytes(dirBytes)),
      CText("size") -> CArray(size.map(CInt(_)).toVector),
      CText("metadata") -> CMap(Vector.empty),
      CText("data") -> CTag(writeTags(componentType), CBytes(payload))))
    Cbor.encode(doc)
  }

  /** Zstd-framed variant of [[encodeIwiCbor]] (level 3, the zstd
    * library default).
    */
  def encodeIwiCborZst(size: Seq[Long], spacing: Seq[Double], origin: Seq[Double],
      componentType: String, values: Array[Double], components: Int = 1,
      name: String = "image"): Array[Byte] =
    com.github.luben.zstd.Zstd.compress(
      encodeIwiCbor(size, spacing, origin, componentType, values, components, name), 3)

  /** Decode a zstd frame; uses the frame-header content size when
    * present, else streams.
    */
  private def zstdDecompress(framed: Array[Byte]): Array[Byte] = {
    val sz = com.github.luben.zstd.Zstd.getFrameContentSize(framed)
    if (sz > 0 && sz <= Int.MaxValue)
      com.github.luben.zstd.Zstd.decompress(framed, sz.toInt)
    else {
      val in = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(framed))
      try in.readAllBytes() finally in.close()
    }
  }
}
