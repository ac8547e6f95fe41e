package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import graft.zarr.{Codecs, Sharding, ZarrStore}
import graft.operators.ChunkOps.ChunkRow
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end pyramid at real volume: a 512³ uint8 image (134M voxels)
  * generated DISTRIBUTED (never materialized on the driver), cascaded
  * through three bin-shrink levels with inter-level checkpointing (C4),
  * written as a sharded v3 store, mutated to carry a transpose codec
  * inside the sharding's inner chain (the foreign-writer layout), and
  * re-read — asserting the reference's pyramid-integrity invariant
  * `d·s₀ == scaleᵢ·shapeᵢ` (`py/test/test_pyramid_integrity.py:7-36`)
  * plus position-sensitive data parity. The imaging gate queries run
  * tiny fixtures; this is the scale rehearsal under the default 8g
  * heap.
  */
class PyramidLargeSpec extends SparkSpec {

  private val N = 512
  private val C = 128

  test("512³ sharded+inner-transpose pyramid round-trips with the integrity invariant") {
    val t0 = System.nanoTime()
    val meta = ImageMeta(Seq("z", "y", "x"), Seq(N, N, N), Seq(C, C, C), "uint8",
      Map("z" -> 0.25, "y" -> 0.25, "x" -> 0.25),
      Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))

    // distributed generation: one task per 128³ chunk, 16 MB of
    // doubles peak per task — the driver only ships grid positions
    // (shared with the bench's i_pyramid512 rehearsal)
    val base = PyramidRehearsal.generate(spark, meta)

    // cascade with inter-level caching (C4): each level builds from
    // the materialized previous level, not the whole lineage
    val ms = MultiscaleBuilder.toMultiscales(spark,
      MultiscaleBuilder.Level(meta, base),
      Some(Seq(Map("z" -> 2, "y" -> 2, "x" -> 2),
        Map("z" -> 4, "y" -> 4, "x" -> 4),
        Map("z" -> 8, "y" -> 8, "x" -> 8))),
      Method.ItkwasmBinShrink, cache = true)
    assert(ms.levels.length == 4)

    // the reference's pyramid-integrity invariant: the volume spans
    // the same physical space at every level, and scaleᵢ = factorᵢ·s₀
    val factors = Seq(1, 2, 4, 8)
    ms.levels.zip(factors).foreach { case (lvl, f) =>
      meta.dims.zipWithIndex.foreach { case (d, i) =>
        val si = lvl.meta.scale(d)
        assert(meta.shape(i) * meta.scale(d) == si * lvl.meta.shape(i),
          s"level f=$f dim $d: ${meta.shape(i)} * ${meta.scale(d)} != $si * ${lvl.meta.shape(i)}")
        assert(si == f * meta.scale(d), s"level f=$f dim $d scale $si")
      }
    }

    // sharded v3 write: scale0 = 4³ chunks packed 2³ per shard → 8
    // shard objects; the 64³ tail level exercises the clipped
    // edge-shard path (array smaller than one shard)
    val dir = tempDir("pyr512").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2, 2)))

    // foreign-writer mutation: transpose (2,1,0) inside scale0's
    // sharding inner chain, every inner chunk's payload permuted
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val cSize = C * C * C
    for (sz <- 0 until 2; sy <- 0 until 2; sx <- 0 until 2) {
      val key = arr.resolve("c").resolve(sz.toString).resolve(sy.toString).resolve(sx.toString)
      val inner = Sharding.parseShard(Files.readAllBytes(key), 8)
      val rebuilt = inner.map { case (flat, enc) =>
        val plain = Codecs.decompress(Some("zstd"), enc, cSize)
        val chunk = ZarrStore.decodeToDoubles(plain, "uint8")
        val permuted = NdKernels.permuteFlat(chunk, Array(C, C, C), Array(2, 1, 0))
        flat -> Codecs.compress(Some("zstd"),
          ZarrStore.encodeFromDoubles(permuted, "uint8"))
      }
      Files.write(key, Sharding.buildShard(8, rebuilt))
    }
    val mapper = graft.meta.ZarrJson.mapper
    val docPath = arr.resolve("zarr.json")
    val doc = mapper.readTree(new String(Files.readAllBytes(docPath)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val shardCfg = doc.withArray("codecs").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .`with`("configuration")
    val innerCodecs = shardCfg.withArray("codecs")
    val rebuiltCodecs = mapper.createArrayNode()
    val tr = rebuiltCodecs.addObject(); tr.put("name", "transpose")
    val o = tr.putObject("configuration").putArray("order"); o.add(2); o.add(1); o.add(0)
    innerCodecs.elements().forEachRemaining(c => rebuiltCodecs.add(c))
    shardCfg.set("codecs", rebuiltCodecs)
    Files.write(docPath, mapper.writeValueAsBytes(doc))

    // re-read and verify with a position-sensitive checksum (a plain
    // sum would not catch a transpose/order bug): distributed over
    // chunk rows, never collecting voxels
    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.length == 4)
    assert(back.levels.head.meta.shape == Seq(N, N, N))
    assert(back.levels.head.meta.chunks == Seq(C, C, C))
    def checksum(ds: org.apache.spark.sql.Dataset[ChunkRow], dtype: String): (Long, Double) =
      PyramidRehearsal.checksum(ds, dtype)
    val (nBack, wBack) = checksum(back.levels.head.chunks, back.levels.head.meta.dtype)
    val (nGen, wGen) = checksum(base, "uint8")
    assert(nBack == N.toLong * N * N)
    assert(nBack == nGen)
    assert(wBack == wGen, "position-weighted checksum differs after round-trip")
    // downsampled levels survive the round-trip too (checksum vs the
    // in-memory cascade level)
    val (n1Back, w1Back) = checksum(back.levels(1).chunks, back.levels(1).meta.dtype)
    val (n1Mem, w1Mem) = checksum(ms.levels(1).chunks, ms.levels(1).meta.dtype)
    assert(n1Back == 256L * 256 * 256 && n1Back == n1Mem && w1Back == w1Mem)
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"512³ pyramid end-to-end wall time: $secs%.1f s")
  }
}
