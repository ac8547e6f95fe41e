package graft.zarr

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.meta.{Dtypes, Validation, ZarrJson}
import graft.meta.Model._
import graft.operators.{ChunkOps, NdKernels}
import scala.jdk.CollectionConverters._

/** One parsed Zarr array document (v2 `.zarray` or v3 array
  * `zarr.json`): everything a reader needs to turn the array's stored
  * objects back into chunks. The Zarr array format lives here and
  * nowhere else — the one metadata open ([[ZarrArray.openPyramid]]),
  * the one array-document parser ([[ZarrArray.parse]]) and writer
  * ([[ZarrArray.metadataDocs]]), the one grid-object reader ([[read]]),
  * and the writers' shared chunk encoder.
  *
  * `gridChunks` is the chunk grid of the stored objects: the shard
  * shape when `innerChunks` is set (v3 `sharding_indexed`), whose inner
  * chunks are then the chunk table's chunks. `compressor` is the
  * per-chunk compressor (the inner chain's when sharded);
  * `transposeOrder` is the v3 transpose codec's order, or the reversed
  * dims of a v2 F-order array (F-order chunks are the C-order chunks of
  * the dimension-reversed array).
  */
final case class ZarrArray(
    path: String,
    zarrFormat: Int,
    shape: Seq[Long],
    gridChunks: Seq[Int],
    innerChunks: Option[Seq[Int]],
    dtype: String,
    bigEndian: Boolean,
    compressor: Option[String],
    filters: Seq[NumcodecsFilters.V2Filter],
    transposeOrder: Option[Seq[Int]],
    fillValue: Double,
    separator: String,
    keyEncoding: String) {

  /** Shape of one chunk of the chunk table. */
  def chunks: Seq[Int] = innerChunks.getOrElse(gridChunks)

  /** Grid positions of the stored objects (chunks, or whole shards). */
  def objects: Iterator[Seq[Int]] =
    ZarrStore.gridPositions(ZarrStore.chunkGrid(shape, gridChunks))

  private def chunksPerShard: Seq[Int] =
    gridChunks.zip(chunks).map { case (s, c) => s / c }

  /** The chunks one stored object holds, each with its slot in the
    * shard index: the object itself for a plain array. Edge shards of
    * a non-divisible array enumerate slots past the array boundary —
    * not chunks, never rows — so those are clipped out.
    */
  def slots(obj: Seq[Int]): Iterator[(Int, Seq[Int])] =
    if (innerChunks.isEmpty) Iterator((0, obj))
    else {
      val cps = chunksPerShard
      (0 until cps.product).iterator.map { f =>
        val rel = Sharding.innerPosition(f, cps)
        (f, obj.zip(cps).zip(rel).map { case ((s, n), r) => s * n + r })
      }.filter { case (_, idx) => ZarrStore.inArrayGrid(shape, chunks, idx) }
    }

  /** Whether `idx` names a chunk of this array: the array's rank, no
    * negative entry, inside the chunk grid.
    */
  def holds(idx: Seq[Int]): Boolean =
    idx.length == shape.length && idx.forall(_ >= 0) && ZarrStore.inArrayGrid(shape, chunks, idx)

  /** Grid position of the stored object that holds chunk `idx`. */
  def objectOf(idx: Seq[Int]): Seq[Int] =
    if (innerChunks.isEmpty) idx else idx.zip(chunksPerShard).map { case (i, n) => i / n }

  /** Fetch one stored object and decode the chunks it holds that
    * `wanted` keeps → (chunk position, chunk bytes in `dtype`, clipped
    * to the array). An absent object or a shard-index hole is a chunk
    * of `fill_value` (sparse stores legally omit uniform chunks), so
    * the rows are exactly the kept [[slots]]; the other slots of a
    * shard are never decompressed.
    */
  def read(store: ZarrStore, obj: Seq[Int],
      wanted: Seq[Int] => Boolean = _ => true): Iterator[(Seq[Int], Array[Byte])] = {
    val bytes = store.readBytesIfExists(
      ZarrStore.chunkKey(zarrFormat, path, obj, separator, keyEncoding))
    val encoded: Int => Option[Array[Byte]] = bytes match {
      case None => _ => None
      case Some(b) if innerChunks.isEmpty => _ => Some(b)
      case Some(b) => Sharding.parseShard(b, chunksPerShard.product).get
    }
    slots(obj).collect { case (f, idx) if wanted(idx) => idx -> decode(encoded(f), idx) }
  }

  /** decompress → filters/decode → inverse transpose → clip. */
  private def decode(encoded: Option[Array[Byte]], idx: Seq[Int]): Array[Byte] = {
    val cShape = ZarrStore.chunkShapeAt(shape, chunks, idx)
    val values = encoded match {
      case None => Array.fill(cShape.product)(fillValue)
      case Some(enc) =>
        // zarr stores chunks at FULL chunk shape (edge chunks padded);
        // with v2 filters the compressor saw the filtered representation
        val raw = Codecs.decompress(compressor, enc,
          chunks.product * NumcodecsFilters.encodedItemSize(filters, dtype))
        val stored =
          if (filters.nonEmpty) NumcodecsFilters.decodeToDoubles(raw, filters, dtype, bigEndian)
          else ZarrStore.decodeToDoubles(raw, dtype, bigEndian)
        val full = transposeOrder.fold(stored) { o =>
          NdKernels.permuteFlat(stored, o.map(chunks(_)).toArray, NdKernels.inversePerm(o.toArray))
        }
        if (cShape == chunks) full
        else ChunkOps.sliceBlock(full, chunks.toArray, Array.fill(chunks.length)(0), cShape.toArray)
    }
    ZarrStore.encodeFromDoubles(values, dtype)
  }
}

object ZarrArray {

  private val mapper = ZarrJson.mapper

  /** Open an OME-Zarr pyramid's metadata: the multiscales attrs and one
    * [[ZarrArray]] per dataset index that `scales` keeps (datasets it
    * drops cost no store call). v2 or v3 is detected from the root
    * documents; consolidated metadata (S8), when present, serves every
    * array document from the one root GET. Each document is read into
    * a JSON tree once; consolidated entries are subtrees of the root's.
    *
    * Precedence follows zarr-python: a consolidated copy WINS over the
    * live per-level document, so a store mutated by a writer that did
    * not re-consolidate reads stale metadata. `validate` runs structural
    * + RFC 4 validation (V1/V2) and makes that hazard loud: it pays the
    * per-level GET anyway and refuses on divergence.
    */
  def openPyramid(store: ZarrStore, validate: Boolean = false,
      scales: Int => Boolean = _ => true): (MultiscalesMeta, Seq[(Int, ZarrArray)]) = {
    val v2 = store.exists(".zattrs")
    // consolidated entries: keyed by document key for v2
    // (`.zmetadata`'s `metadata`), by node path for v3 (the root
    // document's `consolidated_metadata.metadata`)
    val (root, consolidated) =
      if (v2) {
        val cons = store.readBytesIfExists(".zmetadata").fold(Map.empty[String, JsonNode])(b =>
          entries(mapper.readTree(utf8(b)).path("metadata")))
        (mapper.readTree(store.readString(".zattrs")), cons)
      } else {
        val doc = mapper.readTree(utf8(store.readBytesIfExists("zarr.json").getOrElse(
          throw new IllegalArgumentException(s"no OME-Zarr metadata at ${store.root}"))))
        (doc.path("attributes"), entries(doc.path("consolidated_metadata").path("metadata")))
      }
    val meta = ZarrJson.parseMultiscales(root)
    if (validate) {
      val schemaErrs =
        if (Validation.SchemaVersions.contains(meta.version))
          Validation.validateSchema(root, meta.version)
        else Nil
      val errs = schemaErrs ++
        Validation.validateMultiscales(meta) ++ Validation.validateRfc4(meta.axes)
      require(errs.isEmpty, s"validation failed: ${errs.mkString("; ")}")
    }
    val arrays = meta.datasets.zipWithIndex.filter { case (_, i) => scales(i) }.map { case (d, i) =>
      val liveKey = if (v2) s"${d.path}/.zarray" else s"${d.path}/zarr.json"
      val doc = consolidated.get(if (v2) liveKey else d.path) match {
        case Some(cons) if validate =>
          require(cons == mapper.readTree(store.readString(liveKey)),
            s"consolidated metadata for '$liveKey' diverges from the live document " +
              "(store mutated without re-consolidating?) — re-consolidate or drop " +
              "the consolidated copy")
          cons
        case Some(cons) => cons
        case None => mapper.readTree(store.readString(liveKey))
      }
      i -> parse(doc, if (v2) 2 else 3, d.path)
    }
    (meta, arrays)
  }

  /** The fields of a consolidated `metadata` object; empty when absent. */
  private def entries(n: JsonNode): Map[String, JsonNode] =
    if (!n.isObject) Map.empty
    else n.fields().asScala.map(e => e.getKey -> e.getValue).toMap

  /** Parse one array document tree (v2 `.zarray` or v3 array
    * `zarr.json`) in one pass. Unknown codecs, filters, chunk grids,
    * key encodings, orders and fill values refuse here, at metadata
    * time, never as misdecoded chunks on an executor; a missing
    * required key refuses with an `IllegalArgumentException` naming
    * the key and the array.
    */
  def parse(doc: JsonNode, zarrFormat: Int, path: String): ZarrArray = {
    def ints(n: JsonNode) = n.elements().asScala.map(_.asInt()).toSeq
    def req(n: JsonNode, key: String, within: String) = required(n, key, within, path)
    val shape = req(doc, "shape", "document").elements().asScala.map(_.asLong()).toSeq
    if (zarrFormat == 2) {
      val chunks = ints(req(doc, "chunks", "document"))
      val dt = req(doc, "dtype", "document").asText()
      val compressor = Option(doc.get("compressor")).filter(!_.isNull)
        .map(req(_, "id", "compressor").asText())
      val sep = doc.path("dimension_separator").asText(".")
      // F-order chunks are the C-order chunks of the dimension-reversed
      // array: the readers invert them like a v3 transpose
      val order = doc.path("order").asText("C")
      require(order == "C" || order == "F", s"zarr v2 order '$order' unsupported (C/F)")
      ZarrArray(path, 2, shape, chunks, None, Dtypes.normalize(dt), Dtypes.isBigEndian(dt),
        compressor, NumcodecsFilters.parse(doc.path("filters")),
        if (order == "F") Some(shape.indices.reverse) else None, fillValue(doc), sep, "default")
    } else {
      val grid = req(doc, "chunk_grid", "document")
      val gridName = grid.path("name").asText("regular")
      require(gridName == "regular", s"zarr v3 chunk_grid '$gridName' unsupported (regular)")
      val gridChunks = ints(req(req(grid, "configuration", "chunk_grid"), "chunk_shape",
        "chunk_grid configuration"))
      val dt = req(doc, "data_type", "document").asText()
      // endianness, compressor and transpose ride the codec chain — the
      // INNER chain when sharded. The outer chain always parses
      // (validating it); a transpose or compressor there would be
      // dropped when decode switches to the inner chain, so it refuses.
      val codecs = doc.path("codecs")
      val outer = parseCodecChainV3(codecs, shape.length, path)
      val sharding = codecs.elements().asScala
        .find(_.get("name").asText() == "sharding_indexed")
        .map(req(_, "configuration", "sharding_indexed codec"))
      val inner = sharding.map(c => parseCodecChainV3(c.path("codecs"), shape.length, path))
      require(inner.isEmpty || (outer.transposeOrder.isEmpty && outer.compressor.isEmpty),
        "zarr v3 transpose or compressor OUTSIDE sharding_indexed is unsupported")
      val chain = inner.getOrElse(outer)
      // key encoding defaults per spec: `default` with '/', `v2` with '.'
      // (the encoding zarr-python emits for v2-converted stores)
      val cke = doc.path("chunk_key_encoding")
      val keyEncoding = cke.path("name").asText("default")
      require(keyEncoding == "default" || keyEncoding == "v2",
        s"zarr v3 chunk_key_encoding '$keyEncoding' unsupported (default/v2)")
      val sep = cke.path("configuration").path("separator")
        .asText(if (keyEncoding == "v2") "." else "/")
      ZarrArray(path, 3, shape, gridChunks,
        sharding.map(c => ints(req(c, "chunk_shape", "sharding_indexed configuration"))),
        Dtypes.normalize(dt), chain.bigEndian, chain.compressor, Nil, chain.transposeOrder,
        fillValue(doc), sep, keyEncoding)
    }
  }

  /** A parsed Zarr v3 codec chain: the optional `transpose`
    * array→array codec's dimension order, the `bytes` array→bytes
    * codec's endianness, and the bytes→bytes compressor (the existing
    * name semantics).
    */
  private final case class V3CodecChain(
      transposeOrder: Option[Seq[Int]],
      bigEndian: Boolean,
      compressor: Option[String])

  private val knownCompressors = Set("gzip", "zstd", "blosc", "zlib")

  /** Parse a v3 `codecs` array node into a [[V3CodecChain]]. The
    * `bytes` codec's `endian` configuration is the ONLY endianness
    * source in v3 (v3 dtype strings carry no byte-order prefix, unlike
    * v2's `<f4`/`>f4`) — defaults to little when absent (legal for
    * 1-byte dtypes, and the universal writer default otherwise).
    *
    * `rank` (the array's dimensionality) validates the transpose order:
    * a malformed order — wrong length, repeated or out-of-range entries
    * — throws HERE at metadata parse, never scrambling chunk data on
    * executors. Chains with more than one compression codec also throw:
    * the decode path applies exactly one, so accepting a stacked chain
    * would silently misdecode. Codecs the engine doesn't implement
    * throw too — refusing a store loudly, never decoding it wrong.
    */
  private def parseCodecChainV3(codecs: JsonNode, rank: Int, path: String): V3CodecChain = {
    var order: Option[Seq[Int]] = None
    var big = false
    var comp: Option[String] = None
    var checksum = false
    val els = codecs.elements().asScala.toSeq
    els.zipWithIndex.foreach { case (c, i) =>
      required(c, "name", "codec entry", path).asText() match {
        case "transpose" =>
          val o = c.path("configuration").path("order")
            .elements().asScala.map(_.asInt()).toSeq
          require(o.sorted == o.indices.toList && o.length == rank,
            s"zarr v3 transpose order $o is not a permutation of 0..${rank - 1}")
          // identity orders are legal no-ops; only keep real permutes
          if (o.nonEmpty && o != o.indices.toSeq) order = Some(o)
        case "bytes" | "endian" => // "endian" was the pre-1.0 spec name
          big = c.path("configuration").path("endian").asText("little") == "big"
        case "sharding_indexed" => // its inner chain is parsed on its own
        case "crc32c" =>
          // the checksum codec appends a 4-byte LE CRC-32C; decode
          // verifies + strips it BEFORE decompression, so it must be
          // the outermost (last-listed) bytes->bytes codec
          require(i == els.length - 1,
            "zarr v3 crc32c codec must be the last codec in the chain")
          checksum = true
        case name if knownCompressors(name) =>
          require(comp.isEmpty, s"zarr v3 codec chain stacks compression codecs " +
            s"(${comp.get} then $name) — the decode path applies exactly one")
          comp = Some(name)
        case other => throw new UnsupportedOperationException(
          s"zarr v3 codec '$other' unsupported (transpose/bytes/" +
            s"${knownCompressors.mkString("/")}/crc32c/sharding_indexed)")
      }
    }
    // checksum rides the compressor id ("crc32c" / "crc32c:gzip") so
    // every decode site keeps its Option[String] plumbing
    val compEff =
      if (checksum) Some(comp.fold("crc32c")(c => s"crc32c:$c")) else comp
    V3CodecChain(order, big, compEff)
  }

  /** Field `key` of `n`, which a document must carry: a missing or
    * `null` one refuses naming the key, where it was looked for, and
    * the array.
    */
  private def required(n: JsonNode, key: String, within: String, path: String): JsonNode =
    Option(n.get(key)).filter(!_.isNull).getOrElse(throw new IllegalArgumentException(
      s"zarr array '$path': $within has no '$key'"))

  /** The array's `fill_value` as a double — the value a chunk whose
    * object is ABSENT from the store holds (sparse stores legally
    * omit uniform chunks; both zarr versions). Handles JSON numbers,
    * booleans, the IEEE string forms ("NaN"/"Infinity"/"-Infinity"),
    * and v2's `null` (unspecified → 0, zarr-python's effective
    * default).
    */
  private def fillValue(doc: JsonNode): Double = {
    val n = doc.path("fill_value")
    if (n.isMissingNode || n.isNull) 0.0
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) { if (n.asBoolean()) 1.0 else 0.0 }
    else n.asText() match {
      case "NaN" => Double.NaN
      case "Infinity" => Double.PositiveInfinity
      case "-Infinity" => Double.NegativeInfinity
      case other => throw new UnsupportedOperationException(
        s"fill_value '$other' unsupported (number/bool/NaN/±Infinity)")
    }
  }

  /** The one chunk encoder: pad an edge chunk to the full chunk shape
    * (Zarr stores edge chunks padded), then compress with the dtype's
    * item size as the blosc typesize.
    */
  def encodeChunk(shape: Seq[Int], data: Array[Byte], chunks: Seq[Int], dtype: String,
      compressor: Option[String]): Array[Byte] = {
    val full =
      if (shape == chunks) data
      else {
        val padded = new Array[Double](chunks.product)
        ChunkOps.placeBlock(padded, chunks.toArray, Array.fill(chunks.length)(0), shape.toArray,
          ZarrStore.decodeToDoubles(data, dtype))
        ZarrStore.encodeFromDoubles(padded, dtype)
      }
    Codecs.compress(compressor, full, typesize = Dtypes.itemSize(dtype))
  }

  /** Every metadata document of a pyramid store as (key, document), in
    * write order: the root group + attrs, each level's group and array
    * documents (v2 adds xarray's `_ARRAY_DIMENSIONS`,
    * `to_ngff_zarr.py:1079-1081`), and the consolidated copy (S8) last
    * — v2's `.zmetadata`, or v3's root `zarr.json` carrying
    * `consolidated_metadata` (the zarr-python 3 layout,
    * `must_understand: false`). Every document is built as a tree and
    * the consolidated copy inlines those trees; nothing is read back.
    * `meta.version` "0.5" selects Zarr v3; `chunksPerShard` writes v3
    * arrays sharded.
    */
  def metadataDocs(meta: MultiscalesMeta, levels: Seq[ImageMeta], compressor: Option[String],
      chunksPerShard: Option[Seq[Int]] = None): Seq[(String, String)] = {
    val v3 = meta.version == "0.5"
    def doc(key: String, n: JsonNode) = (key, n, ZarrJson.pretty(n))
    val levelDocs = meta.datasets.zip(levels).flatMap { case (d, m) =>
      val group = d.path.take(d.path.lastIndexOf('/'))
      if (v3) Seq(
        doc(s"$group/zarr.json", ZarrJson.groupDoc(3)),
        doc(s"${d.path}/zarr.json", zarrayV3(m, compressor, chunksPerShard)))
      else {
        val dims = mapper.createObjectNode()
        val names = dims.putArray("_ARRAY_DIMENSIONS"); m.dims.foreach(names.add)
        Seq(
          doc(s"$group/.zgroup", ZarrJson.groupDoc(2)),
          doc(s"${d.path}/.zarray", zarrayV2(m, compressor)),
          // xarray's one-line layout, not the indented one
          (s"${d.path}/.zattrs", dims, m.dims.map(mapper.writeValueAsString)
            .mkString("{\"_ARRAY_DIMENSIONS\": [", ", ", "]}")))
      }
    }
    def inline(node: ObjectNode, docs: Seq[(String, JsonNode, String)],
        key: String => String): Unit =
      docs.foreach { case (k, n, _) => node.set[JsonNode](key(k), n) }
    val docs =
      if (v3) {
        val root = ZarrJson.groupDoc(3, Some(ZarrJson.rootAttrs(meta)))
        val cm = root.putObject("consolidated_metadata")
        cm.put("kind", "inline")
        cm.put("must_understand", false)
        inline(cm.putObject("metadata"), levelDocs, _.stripSuffix("/zarr.json"))
        levelDocs :+ doc("zarr.json", root)
      } else {
        val docs = Seq(doc(".zgroup", ZarrJson.groupDoc(2)),
          doc(".zattrs", ZarrJson.rootAttrs(meta))) ++ levelDocs
        val consolidated = mapper.createObjectNode()
        consolidated.put("zarr_consolidated_format", 1)
        inline(consolidated.putObject("metadata"), docs, identity)
        docs :+ doc(".zmetadata", consolidated)
      }
    docs.map { case (k, _, text) => k -> text }
  }

  /** Zarr v2 `.zarray` document. */
  private def zarrayV2(m: ImageMeta, compressor: Option[String]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("zarr_format", 2)
    val sh = n.putArray("shape"); m.shape.foreach(sh.add)
    val ch = n.putArray("chunks"); m.chunks.foreach(x => ch.add(x))
    n.put("dtype", Dtypes.zarrV2TypeStr(m.dtype))
    compressor match {
      case Some("gzip") =>
        val c = n.putObject("compressor"); c.put("id", "gzip"); c.put("level", 5)
      case Some("zstd") =>
        val c = n.putObject("compressor"); c.put("id", "zstd"); c.put("level", 3)
      case Some(b) if b == "blosc" || b.startsWith("blosc:") =>
        // the shared parser throws on bad tokens HERE, before any
        // store bytes are written, and keeps metadata in lockstep
        // with what Codecs.compress will actually encode
        val (cname, clevel, mode) = Codecs.parseBloscId(b)
        val c = n.putObject("compressor")
        c.put("id", "blosc")
        c.put("cname", cname)
        c.put("clevel", clevel)
        c.put("shuffle", Codecs.shuffleV2(mode))
        c.put("blocksize", 0)
      case _ => n.putNull("compressor")
    }
    n.putNull("fill_value")
    n.put("order", "C")
    n.putNull("filters")
    n.put("dimension_separator", "/")
    n
  }

  /** Zarr v3 array `zarr.json` document, plain or sharded. A sharded
    * array's chunk grid is the SHARD shape (`chunksPerShard` chunks per
    * shard); its one codec is `sharding_indexed`, holding the inner
    * chunk shape and the same codec chain a plain array carries.
    */
  private def zarrayV3(m: ImageMeta, compressor: Option[String],
      chunksPerShard: Option[Seq[Int]]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("zarr_format", 3)
    n.put("node_type", "array")
    val sh = n.putArray("shape"); m.shape.foreach(sh.add)
    n.put("data_type", Dtypes.normalize(m.dtype))
    val grid = n.putObject("chunk_grid")
    grid.put("name", "regular")
    val gc = grid.putObject("configuration").putArray("chunk_shape")
    chunksPerShard.fold(m.chunks)(_.zip(m.chunks).map { case (k, c) => k * c })
      .foreach(x => gc.add(x))
    val cke = n.putObject("chunk_key_encoding")
    cke.put("name", "default")
    cke.putObject("configuration").put("separator", "/")
    n.put("fill_value", 0)
    val codecs = n.putArray("codecs")
    chunksPerShard match {
      case None => addCodecs(codecs, compressor, Some(Dtypes.itemSize(m.dtype)))
      case Some(_) =>
        val s = codecs.addObject()
        s.put("name", "sharding_indexed")
        val cfg = s.putObject("configuration")
        val cs = cfg.putArray("chunk_shape"); m.chunks.foreach(x => cs.add(x))
        addCodecs(cfg.putArray("codecs"), compressor, None)
        val index = cfg.putArray("index_codecs")
        addCodecs(index, None, None)
        index.addObject().put("name", "crc32c")
        cfg.put("index_location", "end")
    }
    val dn = n.putArray("dimension_names")
    m.dims.foreach(dn.add)
    n
  }

  /** The `bytes` codec (little endian), then the compressor's entry.
    * Blosc parameters come from the shared id parser, so the metadata
    * matches the frames [[Codecs.compress]] writes and a bad token
    * throws before any store bytes land. A blosc entry carries the
    * dtype's `typesize` at the top level and `blocksize: 0` inside a
    * shard (`bloscTypesize` None), as every store written so far does.
    */
  private def addCodecs(codecs: ArrayNode, compressor: Option[String],
      bloscTypesize: Option[Int]): Unit = {
    val bytes = codecs.addObject()
    bytes.put("name", "bytes")
    bytes.putObject("configuration").put("endian", "little")
    compressor.foreach { c =>
      val entry = codecs.addObject()
      if (c == "blosc" || c.startsWith("blosc:")) {
        entry.put("name", "blosc")
        val (cname, clevel, mode) = Codecs.parseBloscId(c)
        val cfg = entry.putObject("configuration")
        cfg.put("cname", cname)
        cfg.put("clevel", clevel)
        cfg.put("shuffle", Codecs.shuffleV3(mode))
        bloscTypesize.fold(cfg.put("blocksize", 0))(cfg.put("typesize", _))
      } else {
        entry.put("name", c)
        val cfg = entry.putObject("configuration")
        if (c == "gzip") cfg.put("level", 5)
        else if (c == "zstd") { cfg.put("level", 3); cfg.put("checksum", false) }
      }
    }
  }

  private def utf8(b: Array[Byte]): String = new String(b, java.nio.charset.StandardCharsets.UTF_8)
}
