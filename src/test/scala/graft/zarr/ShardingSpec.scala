package graft.zarr

import graft.SparkSpec
import graft.meta.Model._
import graft.operators.{ChunkOps, MultiscaleBuilder, OmeZarrIO}
import java.nio.file.Files

class ShardingSpec extends SparkSpec {

  test("shard build/parse round-trips with crc32c and missing chunks") {
    val enc = Map(0 -> Array[Byte](1, 2, 3), 2 -> Array[Byte](9, 8))
    val shard = Sharding.buildShard(4, enc)
    val back = Sharding.parseShard(shard, 4)
    assert(back.keySet == Set(0, 2))
    assert(back(0).toSeq == Seq[Byte](1, 2, 3) && back(2).toSeq == Seq[Byte](9, 8))
    // corrupt the index → crc failure
    val corrupted = shard.clone()
    corrupted(shard.length - 10) = (corrupted(shard.length - 10) ^ 0xff).toByte
    assertThrows[IllegalArgumentException](Sharding.parseShard(corrupted, 4))
  }

  test("parseShard refuses an index entry whose range leaves the payload region") {
    val shard = Sharding.buildShard(4, Map(0 -> Array[Byte](1, 2, 3), 2 -> Array[Byte](9, 8)))
    val idxStart = shard.length - Sharding.indexSize(4)
    // stretch entry 2 (offset 3, length 2) one byte into the index, and
    // re-sign the index so only the range check can catch it
    def tampered(entry: Int, length: Long): Array[Byte] = {
      val out = shard.clone()
      val bb = java.nio.ByteBuffer.wrap(out).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putLong(idxStart + entry * 16 + 8, length)
      val crc = new java.util.zip.CRC32C
      crc.update(out, idxStart, 4 * 16)
      bb.putInt(out.length - 4, crc.getValue.toInt)
      out
    }
    assert(Sharding.parseShard(tampered(2, 2), 4)(2).toSeq == Seq[Byte](9, 8))
    assertThrows[IllegalArgumentException](Sharding.parseShard(tampered(2, idxStart - 3 + 1), 4))
    assertThrows[IllegalArgumentException](Sharding.parseShard(tampered(2, -2), 4))
    assertThrows[IllegalArgumentException](Sharding.parseShard(tampered(0, 1L << 40), 4))
  }

  test("inner index math round-trips") {
    val cps = Seq(2, 4)
    for (a <- 0 until 2; b <- 0 until 4) {
      val flat = Sharding.innerFlatIndex(Seq(a, b), cps)
      assert(Sharding.innerPosition(flat, cps) == Seq(a, b))
    }
  }

  test("v0.5 sharded write/read: 4 chunks per shard, data parity (S6)") {
    val m = ImageMeta(Seq("y", "x"), Seq(128, 128), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(5)
    val vals = Array.fill(128 * 128)(r.nextInt(60000).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("shard").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2)))
    // 128/32 = 4x4 chunk grid packed 2x2 per shard → 2x2 = 4 shard objects
    val shardFiles = new java.io.File(s"$dir/scale0/image/c").listFiles().flatMap(_.listFiles())
    assert(shardFiles.length == 4)
    // metadata advertises shard grid + inner chunks
    val doc = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/scale0/image/zarr.json")))
    assert(doc.contains("sharding_indexed"))
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.head.meta.chunks == Seq(32, 32)) // inner chunks exposed
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq == vals.toSeq)
    assert(ChunkOps.toArray(back.levels(1).chunks, back.levels(1).meta).toSeq ==
      ChunkOps.toArray(ms.levels(1).chunks, ms.levels(1).meta).toSeq)
  }

  test("edge shards of a non-divisible array clip out-of-grid slots, both read paths") {
    // shape 40, chunks 16, 2x2 chunks/shard → shard shape 32; the edge
    // shards cover inner slots at chunk idx 3 (origin 48 > 40) that lie
    // entirely past the array — they must not become rows (negative
    // extents) on either read path
    val m = ImageMeta(Seq("y", "x"), Seq(40, 40), Seq(16, 16), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(11)
    val vals = Array.fill(40 * 40)(r.nextInt(60000).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.Multiscale(Seq(base), Method.ItkwasmBinShrink)
    val dir = tempDir("shardedge").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2)))
    // direct path: data parity and exactly ceil(40/16)^2 = 9 chunk rows
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.head.chunks.count() == 9)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq == vals.toSeq)
    // DSv2 path: same 9 rows with positive extents, metadata-only scan
    // (no data column) agrees, and the stats row count matches
    val df = spark.read.format("omezarr").load(dir)
    assert(df.count() == 9)
    val shapes = df.select("shape").collect().map(_.getSeq[Int](0))
    assert(shapes.forall(s => s.forall(_ > 0)))
    assert(shapes.map(_.product).sum == 40 * 40)
    val metaOnly = spark.read.format("omezarr").load(dir).select("chunk_idx")
    assert(metaOnly.count() == 9)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.contains(BigInt(9)))
  }

  test("whole-shard outer compressor is refused at metadata time") {
    // spec-legal but unsupported: a bytes->bytes codec AFTER
    // sharding_indexed compresses the entire shard object; silently
    // dropping it would mis-parse shard bytes with a misleading crc32c
    // error. Both read paths must refuse while parsing metadata.
    val m = ImageMeta(Seq("y", "x"), Seq(32, 32), Seq(16, 16), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, new Array[Double](32 * 32), m))
    val ms = MultiscaleBuilder.Multiscale(Seq(base), Method.ItkwasmBinShrink)
    val dir = tempDir("shardoutercomp").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2)))
    // splice a gzip codec after sharding_indexed in the outer chain
    val p = java.nio.file.Paths.get(s"$dir/scale0/image/zarr.json")
    val doc = new String(Files.readAllBytes(p))
    val node = graft.meta.ZarrJson.mapper.readTree(doc)
    val codecs = node.path("codecs").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val gz = graft.meta.ZarrJson.mapper.createObjectNode()
    gz.put("name", "gzip")
    gz.set("configuration", graft.meta.ZarrJson.mapper.createObjectNode().put("level", 5): com.fasterxml.jackson.databind.JsonNode)
    codecs.add(gz)
    Files.write(p, graft.meta.ZarrJson.mapper.writeValueAsBytes(node))
    TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val e1 = intercept[IllegalArgumentException](OmeZarrIO.readMultiscales(spark, dir))
    assert(e1.getMessage.contains("OUTSIDE sharding_indexed"))
    val e2 = intercept[Exception](
      spark.read.format("omezarr").load(dir).collect())
    assert(e2.getMessage.contains("OUTSIDE sharding_indexed") ||
      Option(e2.getCause).exists(_.getMessage.contains("OUTSIDE sharding_indexed")))
  }

  test("sharding on v0.4 is rejected (V3)") {
    val m = ImageMeta(Seq("y", "x"), Seq(8, 8), Seq(4, 4), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, new Array[Double](64), m))
    val ms = MultiscaleBuilder.Multiscale(Seq(base), Method.ItkwasmBinShrink)
    val dir = tempDir("shardbad").toString + "/img.zarr"
    assertThrows[IllegalArgumentException](
      OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4",
        chunksPerShard = Some(Seq(2, 2))))
  }
}
