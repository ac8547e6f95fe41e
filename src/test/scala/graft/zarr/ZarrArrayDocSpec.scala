package graft.zarr

import org.scalatest.funsuite.AnyFunSuite
import graft.meta.{Dtypes, ZarrJson}
import graft.meta.Model._

/** The Zarr array document, written and parsed by [[ZarrArray]]:
  * `metadataDocs` output pinned byte for byte against stores written
  * before the writers were folded into one (the `metadata-docs/`
  * resources), and every written array document parsed back to the
  * shape, grid, inner chunks, dtype and compressor it was written with.
  */
class ZarrArrayDocSpec extends AnyFunSuite {

  private val l0 = ImageMeta(Seq("y", "x"), Seq(100L, 80L), Seq(32, 32), "uint16",
    Map("y" -> 0.5, "x" -> 0.25), Map("y" -> 0.0, "x" -> 0.0),
    axesUnits = Map("y" -> "micrometer", "x" -> "micrometer"))
  private val l1 = l0.copy(shape = Seq(50L, 40L), scale = Map("y" -> 1.0, "x" -> 0.5),
    translation = Map("y" -> 0.25, "x" -> 0.125))
  private val omero =
    Omero(Seq(OmeroChannel("FF0000", OmeroWindow(0, 65535, 10, 1000), Some("c0"))))

  private def docs(levels: Seq[ImageMeta], version: String, compressor: Option[String],
      chunksPerShard: Option[Seq[Int]], omero: Option[Omero] = None): Seq[(String, String)] =
    ZarrArray.metadataDocs(
      MultiscalesMeta.of(levels, "image", version, Some(Method.ItkwasmGaussian), omero),
      levels, compressor, chunksPerShard)

  Seq(("v04-blosc", "0.4", Some("blosc"), None, None),
    ("v05-zstd", "0.5", Some("zstd"), None, Some(omero)),
    ("v05-sharded-zstd", "0.5", Some("zstd"), Some(Seq(2, 2)), None),
    ("v05-sharded-blosc", "0.5", Some("blosc:zstd:3:bit"), Some(Seq(2, 2)), None)
  ).foreach { case (name, version, compressor, chunksPerShard, om) =>
    test(s"metadataDocs writes the pinned bytes: $name") {
      val in = getClass.getResourceAsStream(s"/metadata-docs/$name.txt")
      val pinned = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val text = docs(Seq(l0, l1), version, compressor, chunksPerShard, om)
        .map { case (k, v) => s"==> $k <==\n$v\n" }.mkString
      assert(text == pinned)
    }
  }

  test("write → parse round trip over format × compressor × sharding") {
    val compressors = Seq(None, Some("gzip"), Some("zstd"), Some("blosc"),
      Some("blosc:zstd:3:bit"), Some("blosc:blosclz:9:none"))
    val layouts = Seq(("0.4", None), ("0.5", None), ("0.5", Some(Seq(2, 3))))
    for {
      dtype <- Seq("uint16", "float32")
      compressor <- compressors
      (version, chunksPerShard) <- layouts
    } {
      val levels = Seq(l0, l1).map(_.copy(dtype = dtype, chunks = Seq(16, 8)))
      val v3 = version == "0.5"
      val written = docs(levels, version, compressor, chunksPerShard).toMap
      levels.zipWithIndex.foreach { case (m, i) =>
        val path = s"scale$i/image"
        val doc = written(if (v3) s"$path/zarr.json" else s"$path/.zarray")
        val a = ZarrArray.parse(ZarrJson.mapper.readTree(doc), if (v3) 3 else 2, path)
        val clue = s"$dtype $compressor $version $chunksPerShard level $i"
        assert(a.shape == m.shape, clue)
        assert(a.gridChunks == chunksPerShard.fold(m.chunks)(_.zip(m.chunks).map {
          case (k, c) => k * c }), clue)
        assert(a.innerChunks == chunksPerShard.map(_ => m.chunks), clue)
        assert(a.chunks == m.chunks, clue)
        assert(a.dtype == Dtypes.normalize(dtype) && !a.bigEndian, clue)
        assert(a.compressor == compressor.map(_.takeWhile(_ != ':')), clue)
        assert(a.transposeOrder.isEmpty && a.filters.isEmpty && a.fillValue == 0.0, clue)
      }
    }
  }
}
