package graft.meta

import org.scalatest.funsuite.AnyFunSuite
import graft.meta.Model._

class MetadataSpec extends AnyFunSuite {

  private val axes = Seq(
    Axis("y", "space", Some("micrometer")), Axis("x", "space", Some("micrometer")))
  private val ms = MultiscalesMeta(
    axes,
    Seq(
      DatasetMeta("scale0/image", Seq(ScaleT(Seq(1.0, 1.0)), TranslationT(Seq(0.0, 0.0)))),
      DatasetMeta("scale1/image", Seq(ScaleT(Seq(2.0, 2.0)), TranslationT(Seq(0.5, 0.5))))),
    version = "0.4", name = Some("image"),
    `type` = Some("itkwasm_bin_shrink"),
    metadata = Some(Method.ItkwasmBinShrink.metadata))

  private def tree(json: String) = ZarrJson.mapper.readTree(json)

  /** One array document through the one parser. */
  private def array(json: String, zarrFormat: Int) =
    graft.zarr.ZarrArray.parse(tree(json), zarrFormat, "a")

  test("v0.4 root attrs JSON round-trips") {
    val parsed = ZarrJson.parseMultiscales(ZarrJson.rootAttrs(ms))
    assert(parsed.version == "0.4")
    assert(parsed.axes == axes)
    assert(parsed.datasets == ms.datasets)
    assert(parsed.`type`.contains("itkwasm_bin_shrink"))
    assert(parsed.metadata.map(_.method).contains("itkwasm_bin_shrink"))
  }

  test("v0.5 root attrs nest under ome key and round-trip") {
    val v5 = ms.copy(version = "0.5")
    val json = ZarrJson.rootAttrs(v5)
    assert(json.has("ome"))
    val parsed = ZarrJson.parseMultiscales(json)
    assert(parsed.version == "0.5")
    assert(parsed.datasets == ms.datasets)
  }

  test("version detection: bare multiscales with no version → 0.4") {
    val json = """{"multiscales": [{"datasets": [{"path": "0"}]}]}"""
    val parsed = ZarrJson.parseMultiscales(tree(json))
    assert(parsed.version == "0.4")
    // v0.1-0.3 back-compat: fixed tczyx axes
    assert(parsed.axes.map(_.name) == Seq("t", "c", "z", "y", "x"))
    assert(parsed.datasets.head.coordinateTransformations
      .collect { case ScaleT(s) => s }.head == Seq.fill(5)(1.0))
  }

  test("omero window back-compat: min/max only, start/end only, both") {
    assert(Validation.normalizeOmeroWindow(Some(0), Some(255), None, None)
      .contains(OmeroWindow(0, 255, 0, 255)))
    assert(Validation.normalizeOmeroWindow(None, None, Some(10), Some(90))
      .contains(OmeroWindow(10, 90, 10, 90)))
    assert(Validation.normalizeOmeroWindow(None, None, None, None).isEmpty)
    val json = """{"multiscales":[{"axes":[{"name":"y","type":"space"},{"name":"x","type":"space"}],
      "datasets":[{"path":"0"}],"version":"0.4"}],
      "omero":{"channels":[
        {"color":"FF0000","window":{"start":0,"end":100}},
        {"color":"00FF00","window":{}}]}}"""
    val parsed = ZarrJson.parseMultiscales(tree(json))
    assert(parsed.omero.get.channels.length == 1) // invalid channel skipped
    assert(parsed.omero.get.channels.head.window == OmeroWindow(0, 100, 0, 100))
  }

  test("structural validation catches bad axes/units/colors") {
    val bad = ms.copy(
      axes = Seq(Axis("q", "space"), Axis("x", "banana", Some("lightyear"))),
      omero = Some(Omero(Seq(OmeroChannel("red!", OmeroWindow(0, 1, 0, 1))))))
    val errs = Validation.validateMultiscales(bad)
    assert(errs.exists(_.message.contains("unsupported dimension name 'q'")))
    assert(errs.exists(_.message.contains("invalid axis type 'banana'")))
    assert(errs.exists(_.message.contains("unsupported unit 'lightyear'")))
    assert(errs.exists(_.message.contains("invalid hex color")))
    assert(Validation.validateMultiscales(ms).isEmpty)
  }

  test("RFC 4 validation: all-or-none, enum membership, duplicates") {
    val good = Seq(
      Axis("y", "space", None, Some(LpsOrientation("y"))),
      Axis("x", "space", None, Some(LpsOrientation("x"))))
    assert(Validation.validateRfc4(good).isEmpty)
    val partial = Seq(
      Axis("y", "space", None, Some(LpsOrientation("y"))), Axis("x", "space"))
    assert(Validation.validateRfc4(partial)
      .exists(_.message.contains("all spatial axes or none")))
    val dup = Seq(
      Axis("y", "space", None, Some(AnatomicalOrientation("anatomical", "left-to-right"))),
      Axis("x", "space", None, Some(AnatomicalOrientation("anatomical", "right-to-left"))))
    assert(Validation.validateRfc4(dup).exists(_.message.contains("duplicate")))
    val badVal = Seq(
      Axis("y", "space", None, Some(AnatomicalOrientation("anatomical", "up-to-down"))),
      Axis("x", "space", None, Some(AnatomicalOrientation("anatomical", "left-to-right"))))
    assert(Validation.validateRfc4(badVal).exists(_.message.contains("invalid orientation value")))
  }

  test("writer params: sharding requires v0.5") {
    assert(Validation.validateWriterParams("0.4", Some(Seq(2, 2)))
      .exists(_.message.contains("sharding requires")))
    assert(Validation.validateWriterParams("0.5", Some(Seq(2, 2))).isEmpty)
    assert(Validation.validateWriterParams("0.3", None).nonEmpty)
  }

  test("dtype registry: normalization, sizes, spark mapping") {
    assert(Dtypes.normalize("<u2") == "uint16")
    assert(Dtypes.normalize(">f4") == "float32")
    assert(Dtypes.itemSize("complex128") == 16)
    assert(Dtypes.sparkType("uint16") == org.apache.spark.sql.types.IntegerType)
    assertThrows[IllegalArgumentException](Dtypes.normalize("str"))
  }

  test("default dims and chunks follow the reference rules") {
    assert(defaultDims(2) == Seq("y", "x"))
    assert(defaultDims(4) == Seq("z", "y", "x", "c"))
    assert(defaultDims(5) == Seq("t", "z", "y", "x", "c"))
    assert(defaultChunks(Seq("t", "z", "y", "x"))("t") == 1)
    assert(defaultChunks(Seq("t", "z", "y", "x"))("x") == 128)
    assert(defaultChunks(Seq("y", "x"))("x") == 256)
  }

  test("imageMetaToItk mirrors ngff_image_to_itk_image semantics") {
    import graft.meta.Converters
    // tczyx with 3 uint8 channels → RGB, itk dims x,y,z,t with t last
    val m = ImageMeta(Seq("t", "c", "z", "y", "x"), Seq(5, 3, 10, 20, 30),
      Seq(1, 3, 10, 20, 30), "uint8",
      Map("t" -> 2.0, "z" -> 1.5, "y" -> 0.5, "x" -> 0.25, "c" -> 1.0),
      Map("t" -> 0.0, "z" -> 7.0, "y" -> 8.0, "x" -> 9.0, "c" -> 0.0))
    val itk = Converters.imageMetaToItk(m)
    assert(itk.itkDims == Seq("x", "y", "z", "t"))
    assert(itk.dimension == 4)
    assert(itk.pixelType == "RGB" && itk.components == 3)
    assert(itk.componentType == "uint8")
    assert(itk.spacing == Seq(0.25, 0.5, 1.5, 2.0))
    assert(itk.origin == Seq(9.0, 8.0, 7.0, 0.0))
    assert(itk.size == Seq(30L, 20L, 10L, 5L))

    // non-3-channel float32 → VariableLengthVector; no c → Scalar
    val v = Converters.imageMetaToItk(m.copy(dtype = "float32"))
    assert(v.pixelType == "VariableLengthVector")
    val s = Converters.imageMetaToItk(ImageMeta(Seq("y", "x"), Seq(4, 4),
      Seq(4, 4), "int16", Map("y" -> 1.0, "x" -> 1.0),
      Map("y" -> 0.0, "x" -> 0.0)))
    assert(s.pixelType == "Scalar" && s.components == 1 && s.dimension == 2)

    // dtypes ITK has no scalar for refuse
    assertThrows[IllegalArgumentException](
      Converters.imageMetaToItk(m.copy(dtype = "float16")))
    assertThrows[IllegalArgumentException](
      Converters.imageMetaToItk(m.copy(dtype = "complex64")))
  }

  test("v3 codec chain: parse, validation, and refusals") {
    def doc(codecs: String) =
      s"""{"zarr_format":3,"node_type":"array","shape":[4,6],"data_type":"float32",
          "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2,3]}},
          "codecs":$codecs}"""
    def chain(codecs: String) = {
      val a = array(doc(codecs), 3)
      (a.transposeOrder, a.bigEndian, a.compressor)
    }
    // full chain parses: transpose order, big endian, compressor
    assert(chain(
      """[{"name":"transpose","configuration":{"order":[1,0]}},
         {"name":"bytes","configuration":{"endian":"big"}},
         {"name":"zlib","configuration":{}}]""") == ((Some(Seq(1, 0)), true, Some("zlib"))))
    // identity transpose is a no-op, little endian default
    assert(chain(
      """[{"name":"transpose","configuration":{"order":[0,1]}},
         {"name":"bytes","configuration":{"endian":"little"}}]""") == ((None, false, None)))
    // malformed orders refuse at parse: repeated entry, wrong length
    assertThrows[IllegalArgumentException](chain(
      """[{"name":"transpose","configuration":{"order":[0,0]}},{"name":"bytes"}]"""))
    assertThrows[IllegalArgumentException](chain(
      """[{"name":"transpose","configuration":{"order":[1,2,0]}},{"name":"bytes"}]"""))
    // stacked compression codecs refuse (decode applies exactly one)
    assertThrows[IllegalArgumentException](chain(
      """[{"name":"bytes"},{"name":"zstd"},{"name":"gzip"}]"""))
    // unknown codecs refuse loudly
    val e = intercept[UnsupportedOperationException](chain(
      """[{"name":"bytes"},{"name":"vlen-utf8"}]"""))
    assert(e.getMessage.contains("vlen-utf8"))
    // crc32c checksum codec rides the compressor id, composed or alone
    assert(chain("""[{"name":"bytes"},{"name":"gzip"},{"name":"crc32c"}]""")._3
      == Some("crc32c:gzip"))
    assert(chain("""[{"name":"bytes"},{"name":"crc32c"}]""")._3 == Some("crc32c"))
    // crc32c anywhere but last refuses (decode strips it first)
    assertThrows[IllegalArgumentException](chain(
      """[{"name":"bytes"},{"name":"crc32c"},{"name":"gzip"}]"""))
  }

  test("foreign-store metadata hazards refuse loudly") {
    def v2(extra: String) =
      s"""{"zarr_format":2,"shape":[4,6],"chunks":[2,3],"dtype":"<f4","compressor":null$extra}"""
    def v3(extra: String) =
      s"""{"zarr_format":3,"node_type":"array","shape":[4],"data_type":"float32",
          "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[2]}},
          "codecs":[{"name":"bytes"}]$extra}"""
    // v2 numcodecs filter chains parse into typed decode steps
    // (delta/fixedscaleoffset/quantize/astype/shuffle, round 5) —
    // UNKNOWN filter ids still refuse at metadata time, never
    // mid-decode on an executor
    assert(array(v2(""","filters":[{"id":"delta","dtype":"<f4"}],"order":"C""""), 2).filters ==
      Seq(graft.zarr.NumcodecsFilters.DeltaF("<f4", "<f4")))
    val e1 = intercept[UnsupportedOperationException](
      array(v2(""","filters":[{"id":"vlen-utf8"}]"""), 2))
    assert(e1.getMessage.contains("vlen-utf8"))
    // null/empty filters stay fine
    assert(array(v2(""","filters":null"""), 2).filters == Nil)
    assert(array(v2(""), 2).filters == Nil)
    // order parses C/F (F reads as the reversed-dims transpose),
    // refuses anything else
    assert(array(v2(""","order":"F""""), 2).transposeOrder == Some(Seq(1, 0)))
    assert(array(v2(""), 2).transposeOrder.isEmpty)
    assertThrows[IllegalArgumentException](array(v2(""","order":"Z""""), 2))
    // non-regular v3 chunk grids refuse
    val rect = """{"zarr_format":3,"node_type":"array","shape":[4],
      "data_type":"float32","chunk_grid":{"name":"rectilinear",
      "configuration":{"chunk_shape":[2]}},"codecs":[{"name":"bytes"}]}"""
    val e2 = intercept[IllegalArgumentException](array(rect, 3))
    assert(e2.getMessage.contains("rectilinear"))
    // v3 chunk_key_encoding: v2 name defaults to '.', unknown refuses
    val dotted = array(v3(""","chunk_key_encoding":{"name":"v2"}"""), 3)
    assert((dotted.keyEncoding, dotted.separator) == (("v2", ".")))
    val plain = array(v3(""), 3)
    assert((plain.keyEncoding, plain.separator) == (("default", "/")))
    assertThrows[IllegalArgumentException](
      array(v3(""","chunk_key_encoding":{"name":"hex"}"""), 3))
    // fill_value forms
    assert(array(v2(""","fill_value":7"""), 2).fillValue == 7.0)
    assert(array(v2(""","fill_value":null"""), 2).fillValue == 0.0)
    assert(array(v2(""), 2).fillValue == 0.0)
    assert(array(v2(""","fill_value":"NaN""""), 2).fillValue.isNaN)
    assert(array(v3(""","fill_value":"-Infinity""""), 3).fillValue.isNegInfinity)
    assert(array(v3(""","fill_value":true"""), 3).fillValue == 1.0)
  }
}
