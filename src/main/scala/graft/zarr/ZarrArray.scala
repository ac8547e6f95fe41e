package graft.zarr

import com.fasterxml.jackson.databind.JsonNode
import graft.meta.{Dtypes, Validation, ZarrJson}
import graft.meta.Model._
import graft.operators.{ChunkOps, NdKernels}

/** One parsed Zarr array document (v2 `.zarray` or v3 array
  * `zarr.json`): everything a reader needs to turn the array's stored
  * objects back into chunks. The Zarr array format lives here — the
  * one metadata open ([[ZarrArray.openPyramid]]), the one grid-object
  * reader ([[read]]), and the writers' shared chunk encoder and
  * metadata documents.
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

  /** Fetch one stored object and decode every chunk it holds →
    * (chunk position, chunk bytes in `dtype`, clipped to the array).
    * An absent object or a shard-index hole is a chunk of
    * `fill_value` (sparse stores legally omit uniform chunks), so the
    * rows are exactly [[slots]].
    */
  def read(store: ZarrStore, obj: Seq[Int]): Iterator[(Seq[Int], Array[Byte])] = {
    val bytes = store.readBytesIfExists(
      ZarrStore.chunkKey(zarrFormat, path, obj, separator, keyEncoding))
    val encoded: Int => Option[Array[Byte]] = bytes match {
      case None => _ => None
      case Some(b) if innerChunks.isEmpty => _ => Some(b)
      case Some(b) => Sharding.parseShard(b, chunksPerShard.product).get
    }
    slots(obj).map { case (f, idx) => idx -> decode(encoded(f), idx) }
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

  /** Open an OME-Zarr pyramid's metadata: the multiscales attrs and one
    * [[ZarrArray]] per dataset index that `scales` keeps (datasets it
    * drops cost no store call). v2 or v3 is detected from the root
    * documents; consolidated metadata (S8), when present, serves every
    * array document from the one root GET.
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
    val (rootJson, consolidated) =
      if (v2) {
        val cons = store.readBytesIfExists(".zmetadata")
          .fold(Map.empty[String, String])(b => ZarrJson.parseConsolidatedV2(utf8(b)))
        (store.readString(".zattrs"), cons)
      } else {
        val raw = utf8(store.readBytesIfExists("zarr.json").getOrElse(
          throw new IllegalArgumentException(s"no OME-Zarr metadata at ${store.root}")))
        (ZarrJson.mapper.writeValueAsString(ZarrJson.mapper.readTree(raw).path("attributes")),
          ZarrJson.parseConsolidatedV3(raw))
      }
    val meta = ZarrJson.parseMultiscales(rootJson)
    if (validate) {
      val schemaErrs =
        if (Validation.SchemaVersions.contains(meta.version))
          Validation.validateSchema(rootJson, meta.version)
        else Nil
      val errs = schemaErrs ++
        Validation.validateMultiscales(meta) ++ Validation.validateRfc4(meta.axes)
      require(errs.isEmpty, s"validation failed: ${errs.mkString("; ")}")
    }
    val arrays = meta.datasets.zipWithIndex.filter { case (_, i) => scales(i) }.map { case (d, i) =>
      // consolidated keys: the document key for v2, the node path for v3
      val liveKey = if (v2) s"${d.path}/.zarray" else s"${d.path}/zarr.json"
      val doc = consolidated.get(if (v2) liveKey else d.path) match {
        case Some(cons) if validate =>
          require(ZarrJson.mapper.readTree(cons) == ZarrJson.mapper.readTree(store.readString(liveKey)),
            s"consolidated metadata for '$liveKey' diverges from the live document " +
              "(store mutated without re-consolidating?) — re-consolidate or drop " +
              "the consolidated copy")
          cons
        case Some(cons) => cons
        case None => store.readString(liveKey)
      }
      i -> parse(doc, if (v2) 2 else 3, d.path)
    }
    (meta, arrays)
  }

  /** Parse one array document. Unknown codecs, filters, chunk grids and
    * key encodings refuse here, at metadata time, never as misdecoded
    * chunks on an executor.
    */
  private def parse(doc: String, zarrFormat: Int, path: String): ZarrArray =
    if (zarrFormat == 2) {
      val (shape, chunks, dt, comp, sep) = ZarrJson.parseZarrayV2(doc)
      val fOrder = if (ZarrJson.parseOrderV2(doc) == "F") Some(shape.indices.reverse) else None
      ZarrArray(path, 2, shape, chunks, None, Dtypes.normalize(dt), Dtypes.isBigEndian(dt),
        comp, ZarrJson.parseFiltersV2(doc), fOrder, ZarrJson.parseFillValue(doc), sep, "default")
    } else {
      val (shape, chunks, dt, _, _) = ZarrJson.parseZarrayV3(doc)
      // endianness, compressor and transpose ride the codec chain — the
      // INNER chain when sharded. The outer chain always parses
      // (validating it); a transpose or compressor there would be
      // dropped when decode switches to the inner chain, so it refuses.
      val outer = ZarrJson.parseCodecsV3(doc)
      val inner = ZarrJson.parseShardingInnerV3(doc)
      require(inner.isEmpty || (outer.transposeOrder.isEmpty && outer.compressor.isEmpty),
        "zarr v3 transpose or compressor OUTSIDE sharding_indexed is unsupported")
      val chain = inner.getOrElse(outer)
      val (keyEncoding, sep) = ZarrJson.parseChunkKeyEncodingV3(doc)
      ZarrArray(path, 3, shape, chunks, ZarrJson.parseShardingV3(doc).map(_._1),
        Dtypes.normalize(dt), chain.bigEndian, chain.compressor, Nil, chain.transposeOrder,
        ZarrJson.parseFillValue(doc), sep, keyEncoding)
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
    * `must_understand: false`). The consolidated copy is composed from
    * these strings, never read back from the store. `meta.version`
    * "0.5" selects Zarr v3; `chunksPerShard` writes v3 arrays sharded.
    */
  def metadataDocs(meta: MultiscalesMeta, levels: Seq[ImageMeta], compressor: Option[String],
      chunksPerShard: Option[Seq[Int]] = None): Seq[(String, String)] = {
    val mapper = ZarrJson.mapper
    val v3 = meta.version == "0.5"
    val levelDocs = meta.datasets.zip(levels).flatMap { case (d, m) =>
      val group = d.path.take(d.path.lastIndexOf('/'))
      if (v3) Seq(
        s"$group/zarr.json" -> ZarrJson.groupDoc(3),
        s"${d.path}/zarr.json" -> chunksPerShard.fold(
          ZarrJson.zarrayV3(m.shape, m.chunks, m.dtype, compressor, m.dims)) { cps =>
          ZarrJson.zarrayV3Sharded(m.shape, m.chunks.zip(cps).map { case (c, n) => c * n },
            m.chunks, m.dtype, compressor, m.dims)
        })
      else Seq(
        s"$group/.zgroup" -> ZarrJson.groupDoc(2),
        s"${d.path}/.zarray" -> ZarrJson.zarrayV2(m.shape, m.chunks, m.dtype, compressor),
        s"${d.path}/.zattrs" ->
          s"""{"_ARRAY_DIMENSIONS": [${m.dims.map(d => "\"" + d + "\"").mkString(", ")}]}""")
    }
    def inline(node: com.fasterxml.jackson.databind.node.ObjectNode,
        docs: Seq[(String, String)], key: String => String): Unit =
      docs.foreach { case (k, v) => node.set[JsonNode](key(k), mapper.readTree(v)) }
    def pretty(n: JsonNode): String = mapper.writerWithDefaultPrettyPrinter().writeValueAsString(n)
    if (v3) {
      val root = mapper.readTree(ZarrJson.groupDoc(3, Some(mapper.readTree(ZarrJson.rootAttrs(meta)))))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val cm = root.putObject("consolidated_metadata")
      cm.put("kind", "inline")
      cm.put("must_understand", false)
      inline(cm.putObject("metadata"), levelDocs, _.stripSuffix("/zarr.json"))
      levelDocs :+ ("zarr.json" -> pretty(root))
    } else {
      val docs = Seq(".zgroup" -> ZarrJson.groupDoc(2), ".zattrs" -> ZarrJson.rootAttrs(meta)) ++
        levelDocs
      val consolidated = mapper.createObjectNode()
      consolidated.put("zarr_consolidated_format", 1)
      inline(consolidated.putObject("metadata"), docs, identity)
      docs :+ (".zmetadata" -> pretty(consolidated))
    }
  }

  private def utf8(b: Array[Byte]): String = new String(b, java.nio.charset.StandardCharsets.UTF_8)
}
