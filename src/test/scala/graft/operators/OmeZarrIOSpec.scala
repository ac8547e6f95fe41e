package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import java.nio.file.Files

/** The §7.3 minimum slice, end-to-end: build a pyramid from a 64×64
  * uint8 image, write OME-Zarr, re-read, and assert data + metadata
  * parity (scale' = 2·scale, translation' = translation + 0.5·scale,
  * chunk bytes stable).
  */
class OmeZarrIOSpec extends SparkSpec {

  private def mkImage(): (ImageMeta, Array[Double]) = {
    val m = ImageMeta(Seq("y", "x"), Seq(64, 64), Seq(32, 32), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(123)
    (m, Array.fill(64 * 64)(r.nextInt(256).toDouble))
  }

  test("minimum slice: pyramid → write v0.4 → read → verify data and metadata") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr").toString + "/img.zarr"
    val counts = OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    assert(counts == Seq(4L, 1L))

    val back = OmeZarrIO.readMultiscales(spark, dir, validate = true)
    assert(back.levels.length == 2)
    val l0 = back.levels.head
    val l1 = back.levels(1)
    assert(l0.meta.shape == Seq(64L, 64L) && l0.meta.dtype == "uint8")
    assert(l1.meta.shape == Seq(32L, 32L))
    // A14 invariants through write/read
    assert(l1.meta.scale == Map("y" -> 2.0, "x" -> 2.0))
    assert(l1.meta.translation == Map("y" -> 0.5, "x" -> 0.5))
    assert(back.method == Method.ItkwasmBinShrink)
    // pixel parity both levels
    assert(ChunkOps.toArray(l0.chunks, l0.meta).toSeq == vals.toSeq)
    assert(ChunkOps.toArray(l1.chunks, l1.meta).toSeq ==
      ChunkOps.toArray(ms.levels(1).chunks, ms.levels(1).meta).toSeq)
  }

  test("writeMultiscales puts every level's objects in one Spark job, plain and sharded") {
    val m = ImageMeta(Seq("y", "x"), Seq(64, 64), Seq(16, 16), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(7)
    val vals = Array.fill(64 * 64)(r.nextInt(65536).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2), Map("y" -> 4, "x" -> 4))),
      Method.ItkwasmBinShrink, cache = false)
    // persisted levels: the write's own jobs are the only ones left
    ms.levels.foreach(_.chunks.persist().count())
    val want = ms.levels.map(l => ChunkOps.toArray(l.chunks, l.meta).toSeq)
    try {
      for ((version, cps) <- Seq("0.4" -> None, "0.5" -> Some(Seq(2, 2)))) {
        val dir = tempDir("onejob").toString + "/img.zarr"
        val (counts, jobs, _) = jobsAndStagesIn(OmeZarrIO.writeMultiscales(spark, dir, ms,
          version = version, chunksPerShard = cps))
        assert(counts == Seq(16L, 4L, 1L))
        assert(jobs == 1, s"v$version: $jobs jobs put the pyramid's objects")
        val back = OmeZarrIO.readMultiscales(spark, dir, validate = true)
        assert(back.levels.map(_.meta.shape) == Seq(Seq(64L, 64L), Seq(32L, 32L), Seq(16L, 16L)))
        assert(back.levels.map(l => ChunkOps.toArray(l.chunks, l.meta).toSeq) == want)
      }
    } finally ms.levels.foreach(_.chunks.unpersist())
  }

  test("v0.5 (zarr v3) write/read round-trip with c/ chunk keys") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmGaussian, cache = false)
    val dir = tempDir("omezarr3").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5", compressor = Some("gzip"))
    assert(new java.io.File(s"$dir/scale0/image/c/0/0").exists())
    assert(new java.io.File(s"$dir/zarr.json").exists())
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.map(_.meta.shape) == Seq(Seq(64L, 64L), Seq(32L, 32L)))
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq == vals.toSeq)
  }

  test("blosc compressor: v0.4 and v0.5 write/read round-trip") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    for ((version, comp) <- Seq("0.4" -> "blosc", "0.5" -> "blosc:zstd:3",
        "0.4" -> "blosc:blosclz", "0.5" -> "blosc:blosclz:5:bit",
        "0.4" -> "blosc:lz4:5:bit")) {
      val dir = tempDir("omezarr").toString + "/img.zarr"
      OmeZarrIO.writeMultiscales(spark, dir, ms, version = version,
        compressor = Some(comp))
      // the store advertises blosc in its metadata, with zarr-python's shape
      val metaDoc = if (version == "0.4")
        new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "scale0/image/.zarray")))
      else
        new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "scale0/image/zarr.json")))
      assert(metaDoc.contains("blosc") && metaDoc.contains("cname"))
      val back = OmeZarrIO.readMultiscales(spark, dir)
      assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
        == vals.toSeq, s"version $version")
    }
  }

  test("full pyramid write/read through a foreign-scheme FileSystem (S3 contract)") {
    // executors resolve mockfs:// through the serialized hadoop conf,
    // exactly the route s3a:// credentials take on a real cluster
    spark.sparkContext.hadoopConfiguration.set("fs.mockfs.impl",
      classOf[graft.zarr.MockRemoteFileSystem].getName)
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val local = tempDir("omezarr-remote").toString
    val dir = s"mockfs://bucket$local/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4",
      compressor = Some("blosc"))
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.map(_.meta.shape) == Seq(Seq(64L, 64L), Seq(32L, 32L)))
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
  }

  test("permuteFlat: 3D transpose round-trips through its inverse") {
    val shape = Array(2, 3, 4)
    val vals = Array.tabulate(24)(_.toDouble)
    for (perm <- Seq(Array(2, 0, 1), Array(1, 2, 0), Array(0, 2, 1))) {
      val fwd = NdKernels.permuteFlat(vals, shape, perm)
      val back = NdKernels.permuteFlat(fwd, perm.map(shape), NdKernels.inversePerm(perm))
      assert(back.toSeq == vals.toSeq, perm.toSeq)
    }
    // spot value: out[idx] = in[k], k(perm(d)) = idx(d) for perm (2,0,1)
    val f = NdKernels.permuteFlat(vals, shape, Array(2, 0, 1))
    // out shape (4,2,3); out(1,1,2) should read in(1,2,1) = 1*12+2*4+1 = 21
    assert(f(1 * 6 + 1 * 3 + 2) == 21.0)
  }

  test("foreign v3 store with transpose codec + big-endian bytes decodes correctly") {
    import graft.zarr.{Codecs, ZarrStore}
    // a float32 image so endianness actually bites (uint8 wouldn't)
    // non-square chunks AND a non-dividing shape: the transposed
    // stored shape differs from the declared chunk shape, and edge
    // chunks exercise the transpose → clip interaction
    val m = ImageMeta(Seq("y", "x"), Seq(30, 20), Seq(16, 8), "float32",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(7)
    val vals = Array.fill(30 * 20)((r.nextInt(1000) - 500).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-transpose").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5", compressor = Some("gzip"))

    // rewrite scale0 the way a foreign writer with
    // codecs = [transpose(order=[1,0]), bytes(big endian), gzip] would
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val doc = new String(Files.readAllBytes(arr.resolve("zarr.json")))
    val mapper = graft.meta.ZarrJson.mapper
    val n = mapper.readTree(doc).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val codecs = n.putArray("codecs")
    val tr = codecs.addObject()
    tr.put("name", "transpose")
    val ord = tr.putObject("configuration").putArray("order")
    ord.add(1); ord.add(0)
    val by = codecs.addObject()
    by.put("name", "bytes")
    by.putObject("configuration").put("endian", "big")
    val gz = codecs.addObject()
    gz.put("name", "gzip")
    gz.putObject("configuration").put("level", 5)
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))

    for (cy <- 0 until 2; cx <- 0 until 3) {
      val key = arr.resolve("c").resolve(cy.toString).resolve(cx.toString)
      val plain = Codecs.decompress(Some("gzip"), Files.readAllBytes(key), 16 * 8 * 4)
      val chunk = ZarrStore.decodeToDoubles(plain, "float32")
      // forward-apply the transpose codec, then big-endian encode
      val permuted = NdKernels.permuteFlat(chunk, Array(16, 8), Array(1, 0))
      val bb = java.nio.ByteBuffer.allocate(permuted.length * 4)
        .order(java.nio.ByteOrder.BIG_ENDIAN)
      permuted.foreach(v => bb.putFloat(v.toFloat))
      Files.write(key, Codecs.compress(Some("gzip"), bb.array()))
    }

    // operator read path: elementwise parity
    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)

    // DSv2 read path shares the chain handling — ELEMENTWISE per
    // chunk (a sum compare would pass under any in-chunk permutation)
    val rows = spark.read.format("omezarr").load(dir)
      .select("origin", "shape", "data", "dtype").collect()
    assert(rows.length == 6)
    rows.foreach { row =>
      val origin = row.getSeq[Long](0)
      val shp = row.getSeq[Int](1)
      val got = ZarrStore.decodeToDoubles(
        row.getAs[Array[Byte]]("data"), row.getAs[String]("dtype"))
      assert(got.length == shp.product)
      for (ry <- 0 until shp(0); rx <- 0 until shp(1)) {
        val expect = vals(((origin(0) + ry) * 20 + origin(1) + rx).toInt)
        assert(got(ry * shp(1) + rx) == expect,
          s"mismatch at origin $origin local ($ry,$rx)")
      }
    }

    // an unknown codec in the chain refuses the store loudly
    val bad = codecs.addObject()
    bad.put("name", "vlen-utf8")
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))
    val e = intercept[Exception] { OmeZarrIO.readMultiscales(spark, dir) }
    assert(e.getMessage.contains("vlen-utf8"))
  }

  test("sparse store: absent chunk objects read as fill_value on both paths") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-sparse").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5", compressor = Some("gzip"))

    // drop chunk (1,1) and declare fill_value 7 — the sparse-store form
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    Files.delete(arr.resolve("c").resolve("1").resolve("1"))
    val mapper = graft.meta.ZarrJson.mapper
    val n = mapper.readTree(new String(Files.readAllBytes(arr.resolve("zarr.json"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("fill_value", 7)
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))

    val expected = vals.clone()
    for (y <- 32 until 64; x <- 32 until 64) expected(y * 64 + x) = 7.0

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == expected.toSeq)

    // DSv2: the absent chunk still yields a row, payload = fill
    val rows = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0).collect()
    assert(rows.length == 4)
    val sums = rows.map { r =>
      r.getSeq[Int](1).mkString(",") -> graft.zarr.ZarrStore.decodeToDoubles(
        r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum
    }.toMap
    assert(sums("1,1") == 7.0 * 32 * 32)
  }

  test("sharded store with an INNER transpose codec decodes correctly") {
    import graft.zarr.{Codecs, Sharding, ZarrStore}
    // non-square inner chunks; 2×2 inner chunks per shard
    val m = ImageMeta(Seq("y", "x"), Seq(32, 16), Seq(16, 8), "float32",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(21)
    val vals = Array.fill(32 * 16)((r.nextInt(900) - 450).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-shard-tr").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("gzip"), chunksPerShard = Some(Seq(2, 2)))

    // rebuild the single shard with inner chunks transposed, and add
    // transpose to the INNER codec chain in the sharding configuration
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val key = arr.resolve("c").resolve("0").resolve("0")
    val inner = Sharding.parseShard(Files.readAllBytes(key), 4)
    val rebuilt = inner.map { case (flat, enc) =>
      val plain = Codecs.decompress(Some("gzip"), enc, 16 * 8 * 4)
      val chunk = ZarrStore.decodeToDoubles(plain, "float32")
      val permuted = NdKernels.permuteFlat(chunk, Array(16, 8), Array(1, 0))
      flat -> Codecs.compress(Some("gzip"),
        ZarrStore.encodeFromDoubles(permuted, "float32"))
    }
    Files.write(key, Sharding.buildShard(4, rebuilt))
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve("zarr.json"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val shardCfg = doc.withArray("codecs").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .`with`("configuration")
    val innerCodecs = shardCfg.withArray("codecs")
    val rebuiltCodecs = mapper.createArrayNode()
    val tr = rebuiltCodecs.addObject(); tr.put("name", "transpose")
    val o = tr.putObject("configuration").putArray("order"); o.add(1); o.add(0)
    innerCodecs.elements().forEachRemaining(c => rebuiltCodecs.add(c))
    shardCfg.set("codecs", rebuiltCodecs)
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(doc))

    // both read paths apply the inner chain's transpose per inner chunk
    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val rows = spark.read.format("omezarr").load(dir)
      .select("origin", "shape", "data", "dtype").collect()
    assert(rows.length == 4)
    rows.foreach { row =>
      val origin = row.getSeq[Long](0)
      val shp = row.getSeq[Int](1)
      val got = ZarrStore.decodeToDoubles(
        row.getAs[Array[Byte]]("data"), row.getAs[String]("dtype"))
      for (ry <- 0 until shp(0); rx <- 0 until shp(1))
        assert(got(ry * shp(1) + rx) ==
          vals(((origin(0) + ry) * 16 + origin(1) + rx).toInt))
    }
  }

  test("sparse SHARDED store: absent shards and index holes read as fill_value") {
    val (m, vals) = mkImage() // 64² uint8, 32² chunks
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-sparse-shard").toString + "/img.zarr"
    // 2×2 inner chunks per shard → one shard object for the level
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("gzip"), chunksPerShard = Some(Seq(2, 2)))

    // delete the only shard and declare fill_value 9: the whole level
    // must read as uniform fill on both paths (absent-shard case)
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    Files.delete(arr.resolve("c").resolve("0").resolve("0"))
    val mapper = graft.meta.ZarrJson.mapper
    val n = mapper.readTree(new String(Files.readAllBytes(arr.resolve("zarr.json"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    n.put("fill_value", 9)
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    val got = ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta)
    assert(got.toSeq == Seq.fill(64 * 64)(9.0))

    val rows = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0).collect()
    assert(rows.length == 4) // full inner grid, absent shard included
    rows.foreach { r =>
      val data = graft.zarr.ZarrStore.decodeToDoubles(
        r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype"))
      assert(data.forall(_ == 9.0))
    }
    // metadata-only scans enumerate the same full grid
    assert(spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("chunk_idx").count() == 4)
  }

  test("foreign v2 store with F-order chunks decodes correctly on both paths") {
    import graft.zarr.{Codecs, ZarrStore}
    // non-square chunks so the layout transpose actually moves bytes
    val m = ImageMeta(Seq("y", "x"), Seq(32, 16), Seq(16, 8), "float32",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(13)
    val vals = Array.fill(32 * 16)((r.nextInt(1000) - 500).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-forder").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4", compressor = Some("gzip"))

    // rewrite chunks in Fortran order and declare order: "F"
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve(".zarray"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    doc.put("order", "F")
    Files.write(arr.resolve(".zarray"), mapper.writeValueAsBytes(doc))
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val key = arr.resolve(cy.toString).resolve(cx.toString) // writer uses '/' keys
      val plain = Codecs.decompress(Some("gzip"), Files.readAllBytes(key), 16 * 8 * 4)
      val chunk = ZarrStore.decodeToDoubles(plain, "float32")
      // F-order flat bytes = C-order of the reversed-dims transpose
      val f = NdKernels.permuteFlat(chunk, Array(16, 8), Array(1, 0))
      val bb = java.nio.ByteBuffer.allocate(f.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      f.foreach(v => bb.putFloat(v.toFloat))
      Files.write(key, Codecs.compress(Some("gzip"), bb.array()))
    }

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val rows = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("origin", "shape", "data", "dtype").collect()
    rows.foreach { row =>
      val origin = row.getSeq[Long](0)
      val shp = row.getSeq[Int](1)
      val got = ZarrStore.decodeToDoubles(
        row.getAs[Array[Byte]]("data"), row.getAs[String]("dtype"))
      for (ry <- 0 until shp(0); rx <- 0 until shp(1))
        assert(got(ry * shp(1) + rx) ==
          vals(((origin(0) + ry) * 16 + origin(1) + rx).toInt))
    }
  }

  test("foreign v2 store with delta+shuffle filter chain decodes on both paths") {
    import graft.zarr.{Codecs, ZarrStore}
    val m = ImageMeta(Seq("y", "x"), Seq(24, 20), Seq(10, 8), "int32",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(29)
    // slowly-varying values: what delta filters exist for
    var acc = 1000.0
    val vals = Array.fill(24 * 20) { acc += (r.nextInt(11) - 5); acc }
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-filters").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4", compressor = Some("gzip"))

    // re-encode every chunk the way numcodecs does: delta in <i4, then
    // byte-shuffle (elementsize 4), then the compressor
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve(".zarray"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val fl = doc.putArray("filters")
    val de = fl.addObject(); de.put("id", "delta"); de.put("dtype", "<i4"); de.put("astype", "<i4")
    val sh = fl.addObject(); sh.put("id", "shuffle"); sh.put("elementsize", 4)
    Files.write(arr.resolve(".zarray"), mapper.writeValueAsBytes(doc))
    for (cy <- 0 until 3; cx <- 0 until 3) {
      val key = arr.resolve(cy.toString).resolve(cx.toString)
      val plain = Codecs.decompress(Some("gzip"), Files.readAllBytes(key), 10 * 8 * 4)
      val chunk = ZarrStore.decodeToDoubles(plain, "int32")
      val diffs = new Array[Double](chunk.length)
      diffs(0) = chunk(0)
      for (i <- 1 until chunk.length) diffs(i) = chunk(i) - chunk(i - 1)
      val enc = ZarrStore.encodeFromDoubles(diffs, "int32")
      val n = enc.length / 4
      val shuffled = new Array[Byte](enc.length)
      for (i <- 0 until n; j <- 0 until 4) shuffled(j * n + i) = enc(i * 4 + j)
      Files.write(key, Codecs.compress(Some("gzip"), shuffled))
    }

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val viaDsv2 = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("origin", "shape", "data").collect()
    viaDsv2.foreach { row =>
      val origin = row.getSeq[Long](0)
      val shp = row.getSeq[Int](1)
      val got = ZarrStore.decodeToDoubles(row.getAs[Array[Byte]]("data"), "int32")
      for (ry <- 0 until shp(0); rx <- 0 until shp(1))
        assert(got(ry * shp(1) + rx) ==
          vals(((origin(0) + ry) * 20 + origin(1) + rx).toInt))
    }
  }

  test("foreign v2 store with fixedscaleoffset filter decodes on both paths") {
    import graft.zarr.{Codecs, ZarrStore}
    val m = ImageMeta(Seq("y", "x"), Seq(16, 16), Seq(8, 8), "float64",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(31)
    // values on the exact 1/scale grid so decode is bit-identical
    val vals = Array.fill(16 * 16)(1000.0 + r.nextInt(2000) / 100.0)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-fso").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4", compressor = Some("zstd"))

    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve(".zarray"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val fl = doc.putArray("filters")
    val fso = fl.addObject()
    fso.put("id", "fixedscaleoffset"); fso.put("scale", 100.0)
    fso.put("offset", 1000.0); fso.put("dtype", "<f8"); fso.put("astype", "<i2")
    Files.write(arr.resolve(".zarray"), mapper.writeValueAsBytes(doc))
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val key = arr.resolve(cy.toString).resolve(cx.toString)
      val plain = Codecs.decompress(Some("zstd"), Files.readAllBytes(key), 8 * 8 * 8)
      val chunk = ZarrStore.decodeToDoubles(plain, "float64")
      val enc = chunk.map(x => math.round((x - 1000.0) * 100.0).toDouble)
      Files.write(key, Codecs.compress(Some("zstd"),
        ZarrStore.encodeFromDoubles(enc, "int16")))
    }

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val total = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("data", "shape").collect().map { row =>
        ZarrStore.decodeToDoubles(row.getAs[Array[Byte]]("data"), "float64").sum
      }.sum
    assert(math.abs(total - vals.sum) < 1e-6)
  }

  test("foreign v3 store with crc32c checksum codec decodes on both paths") {
    import graft.zarr.{Codecs, ZarrStore}
    val m = ImageMeta(Seq("y", "x"), Seq(16, 16), Seq(8, 8), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val r = new scala.util.Random(37)
    val vals = Array.fill(16 * 16)(r.nextInt(60000).toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-crc").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5", compressor = Some("gzip"))

    // foreign writer layout: append crc32c after gzip in the chain and
    // re-encode every chunk with the 4-byte LE trailer
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve("zarr.json"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val codecs = doc.withArray("codecs")
    codecs.addObject().put("name", "crc32c")
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(doc))
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val key = arr.resolve("c").resolve(cy.toString).resolve(cx.toString)
      val plain = Codecs.decompress(Some("gzip"), Files.readAllBytes(key), 8 * 8 * 2)
      Files.write(key, Codecs.compress(Some("crc32c:gzip"), plain))
    }

    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val total = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("data").collect()
      .map(row => ZarrStore.decodeToDoubles(row.getAs[Array[Byte]]("data"), "uint16").sum)
      .sum
    assert(total == vals.sum)
    // corrupt one chunk's trailer: the read refuses with the crc error
    val victim = arr.resolve("c").resolve("0").resolve("0")
    val bytes = Files.readAllBytes(victim)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 1).toByte
    Files.write(victim, bytes)
    val e = intercept[Exception] {
      val again = OmeZarrIO.readMultiscales(spark, dir)
      ChunkOps.toArray(again.levels.head.chunks, again.levels.head.meta)
    }
    assert(e.getMessage.contains("crc32c") ||
      Option(e.getCause).exists(_.getMessage.contains("crc32c")))
  }

  test("foreign v3 store with v2-style chunk_key_encoding ('.' separator) opens") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-keyenc").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5", compressor = Some("gzip"))

    // rewrite scale0 the way a v2-converted store keys its chunks:
    // chunk_key_encoding v2 with '.' → bare "0.0" keys, no c/ prefix
    val arr = java.nio.file.Paths.get(dir, "scale0", "image")
    val mapper = graft.meta.ZarrJson.mapper
    val n = mapper.readTree(new String(Files.readAllBytes(arr.resolve("zarr.json"))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val cke = n.putObject("chunk_key_encoding")
    cke.put("name", "v2")
    cke.putObject("configuration").put("separator", ".")
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))
    for (cy <- 0 until 2; cx <- 0 until 2) {
      val src = arr.resolve("c").resolve(cy.toString).resolve(cx.toString)
      Files.move(src, arr.resolve(s"$cy.$cx"))
    }

    // operator + DSv2 read paths both honor the encoding
    graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    val got = spark.read.format("omezarr").load(dir)
      .filter(org.apache.spark.sql.functions.col("scale") === 0)
      .select("data", "dtype").collect()
      .map(r => graft.zarr.ZarrStore.decodeToDoubles(
        r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum).sum
    assert(got == vals.sum)

    // unknown encodings refuse loudly
    cke.put("name", "hex")
    Files.write(arr.resolve("zarr.json"), mapper.writeValueAsBytes(n))
    val e = intercept[IllegalArgumentException] { OmeZarrIO.readMultiscales(spark, dir) }
    assert(e.getMessage.contains("hex"))
  }

  test("fuzz: foreign-store mutations round-trip (F-order, transpose, v2 keys, sparse, filters)") {
    import graft.zarr.{Codecs, ZarrStore}
    val rnd = new scala.util.Random(404)
    val mapper = graft.meta.ZarrJson.mapper
    for (round <- 0 until 10) {
      val h = 20 + rnd.nextInt(30)
      val w = 20 + rnd.nextInt(30)
      val ch = 7 + rnd.nextInt(10)
      val cw = 7 + rnd.nextInt(10)
      val dtype = Seq("uint8", "int16", "float32")(rnd.nextInt(3))
      val mutation = round % 5 // cycle all five foreign-store hazards
      val version = if (mutation == 0 || mutation == 4) "0.4" else "0.5"
      val m = ImageMeta(Seq("y", "x"), Seq(h, w), Seq(ch, cw), dtype,
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val vals = Array.fill(h * w)(rnd.nextInt(120).toDouble)
      val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
      val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
        Method.ItkwasmBinShrink, cache = false)
      val dir = tempDir(s"omezarr-fuzz$round").toString + "/img.zarr"
      OmeZarrIO.writeMultiscales(spark, dir, ms, version = version,
        compressor = Some("gzip"))

      val arr = java.nio.file.Paths.get(dir, "scale0", "image")
      val metaFile = if (version == "0.4") ".zarray" else "zarr.json"
      val doc = mapper.readTree(new String(Files.readAllBytes(arr.resolve(metaFile))))
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val gy = (h + ch - 1) / ch
      val gx = (w + cw - 1) / cw
      val itemSize = graft.meta.Dtypes.itemSize(dtype)
      def chunkFile(cy: Int, cx: Int) =
        if (version == "0.4") arr.resolve(cy.toString).resolve(cx.toString)
        else arr.resolve("c").resolve(cy.toString).resolve(cx.toString)
      // rewrite every (full, padded) chunk through `f` over its values
      // (and optionally `postBytes` over the re-encoded bytes)
      def rewriteChunks(bigEndianOut: Boolean,
          postBytes: Array[Byte] => Array[Byte] = identity)(
          f: Array[Double] => Array[Double]): Unit =
        for (cy <- 0 until gy; cx <- 0 until gx) {
          val key = chunkFile(cy, cx)
          val plain = Codecs.decompress(Some("gzip"),
            Files.readAllBytes(key), ch * cw * itemSize)
          val out = f(ZarrStore.decodeToDoubles(plain, dtype))
          val bytes =
            if (!bigEndianOut) ZarrStore.encodeFromDoubles(out, dtype)
            else {
              val le = java.nio.ByteBuffer.wrap(ZarrStore.encodeFromDoubles(out, dtype))
                .order(java.nio.ByteOrder.LITTLE_ENDIAN)
              val be = java.nio.ByteBuffer.allocate(out.length * itemSize)
                .order(java.nio.ByteOrder.BIG_ENDIAN)
              dtype match {
                case "uint8" => be.put(le)
                case "int16" => while (le.hasRemaining) be.putShort(le.getShort)
                case "float32" => while (le.hasRemaining) be.putFloat(le.getFloat)
              }
              be.array()
            }
          Files.write(key, Codecs.compress(Some("gzip"), postBytes(bytes)))
        }

      val expected = vals.clone()
      mutation match {
        case 0 => // v2 F-order
          doc.put("order", "F")
          rewriteChunks(bigEndianOut = false)(c =>
            NdKernels.permuteFlat(c, Array(ch, cw), Array(1, 0)))
        case 1 => // v3 transpose codec + big-endian bytes
          val codecs = doc.putArray("codecs")
          val tr = codecs.addObject(); tr.put("name", "transpose")
          val o = tr.putObject("configuration").putArray("order"); o.add(1); o.add(0)
          val by = codecs.addObject(); by.put("name", "bytes")
          by.putObject("configuration").put("endian",
            if (dtype == "uint8") "little" else "big")
          val gz = codecs.addObject(); gz.put("name", "gzip")
          gz.putObject("configuration").put("level", 5)
          rewriteChunks(bigEndianOut = dtype != "uint8")(c =>
            NdKernels.permuteFlat(c, Array(ch, cw), Array(1, 0)))
        case 2 => // v3 v2-style chunk keys
          val cke = doc.putObject("chunk_key_encoding")
          cke.put("name", "v2")
          cke.putObject("configuration").put("separator", ".")
          for (cy <- 0 until gy; cx <- 0 until gx)
            Files.move(chunkFile(cy, cx), arr.resolve(s"$cy.$cx"))
        case 3 => // sparse: drop a random chunk, declare fill
          val (dy, dx) = (rnd.nextInt(gy), rnd.nextInt(gx))
          Files.delete(chunkFile(dy, dx))
          doc.put("fill_value", 5)
          for (y <- dy * ch until math.min(h, (dy + 1) * ch);
               x <- dx * cw until math.min(w, (dx + 1) * cw))
            expected(y * w + x) = 5.0
        case 4 => // v2 numcodecs filters: delta then byte-shuffle
          val v2dt = graft.meta.Dtypes.zarrV2TypeStr(dtype)
          val fl = doc.putArray("filters")
          val de = fl.addObject()
          de.put("id", "delta"); de.put("dtype", v2dt); de.put("astype", v2dt)
          val sh = fl.addObject()
          sh.put("id", "shuffle"); sh.put("elementsize", itemSize)
          def shuffleBytes(in: Array[Byte]): Array[Byte] = {
            if (itemSize <= 1) return in
            val n = in.length / itemSize
            val out = new Array[Byte](in.length)
            for (i <- 0 until n; j <- 0 until itemSize)
              out(j * n + i) = in(i * itemSize + j)
            out
          }
          rewriteChunks(bigEndianOut = false, postBytes = shuffleBytes) { c =>
            val d = new Array[Double](c.length)
            d(0) = c(0)
            for (i <- 1 until c.length) d(i) = c(i) - c(i - 1)
            d
          }
      }
      Files.write(arr.resolve(metaFile), mapper.writeValueAsBytes(doc))

      graft.zarr.TestStores.deconsolidate(dir) // mutated docs: stale consolidated copy must go
      val back = OmeZarrIO.readMultiscales(spark, dir)
      val got = ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta)
      assert(got.toSeq == expected.toSeq,
        s"round $round mutation $mutation $dtype ${h}x$w/${ch}x$cw")
    }
  }

  test("fuzz: random shapes/chunks/dtypes/codecs round-trip both zarr versions") {
    val rnd = new scala.util.Random(42L)
    val dtypes = Seq("uint8", "int16", "uint16", "int32", "float32", "float64")
    val comps = Seq(None, Some("gzip"), Some("zstd"), Some("blosc"),
      Some("blosc:blosclz"), Some("blosc:zstd:3:bit"), Some("blosc:lz4:5:none"))
    for (trial <- 0 until 10) {
      val h = 3 + rnd.nextInt(48)
      val w = 3 + rnd.nextInt(48)
      val ch = 1 + rnd.nextInt(h)
      val cw = 1 + rnd.nextInt(w)
      val dtype = dtypes(rnd.nextInt(dtypes.length))
      val comp = comps(rnd.nextInt(comps.length))
      val version = if (rnd.nextBoolean()) "0.4" else "0.5"
      val m = ImageMeta(Seq("y", "x"), Seq(h, w), Seq(ch, cw), dtype,
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val vals = Array.fill(h * w)(dtype match {
        case "uint8" => rnd.nextInt(256).toDouble
        case "uint16" => rnd.nextInt(65536).toDouble
        case "int16" => (rnd.nextInt(65536) - 32768).toDouble
        case "int32" => rnd.nextInt().toDouble
        case "float32" => rnd.nextFloat().toDouble
        case _ => rnd.nextDouble()
      })
      val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
      val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
        Method.ItkwasmBinShrink, cache = false)
      // v0.5: sometimes shard — random chunks/shard over a random
      // (usually non-divisible) shape keeps the clipped edge-shard
      // path under continuous fuzz
      val cps =
        if (version == "0.5" && rnd.nextBoolean())
          Some(Seq(1 + rnd.nextInt(3), 1 + rnd.nextInt(3)))
        else None
      val dir = tempDir("omezarr-fuzz").toString + "/img.zarr"
      OmeZarrIO.writeMultiscales(spark, dir, ms, version = version,
        compressor = comp, chunksPerShard = cps)
      val back = OmeZarrIO.readMultiscales(spark, dir)
      assert(back.levels.head.meta.shape == Seq(h.toLong, w.toLong),
        s"trial $trial $dtype $comp $version ${h}x$w/${ch}x$cw cps=$cps")
      assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
        == vals.toSeq, s"trial $trial $dtype $comp $version ${h}x$w/${ch}x$cw cps=$cps")
      // the DSv2 path must agree on row count: exactly the in-grid
      // chunks, no phantom edge-shard rows
      val expectRows = graft.zarr.ZarrStore.chunkGrid(Seq(h.toLong, w.toLong), Seq(ch, cw)).product
      assert(spark.read.format("omezarr").load(dir)
        .filter(org.apache.spark.sql.functions.col("scale") === 0).count() == expectRows,
        s"trial $trial DSv2 row count, cps=$cps")
    }
  }

  test("v3 consolidated metadata: one root GET serves every level doc (S8)") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq(Map("y" -> 2, "x" -> 2))),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-consv3").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5")
    val rootDoc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "zarr.json")))
    assert(rootDoc.contains("consolidated_metadata"))
    assert(rootDoc.contains("must_understand"))
    // proof the fast path really serves level docs: DELETE them and
    // both read paths still open the pyramid from the root GET alone
    for (i <- 0 until 2) {
      Files.delete(java.nio.file.Paths.get(dir, s"scale$i", "image", "zarr.json"))
      Files.delete(java.nio.file.Paths.get(dir, s"scale$i", "zarr.json"))
    }
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(back.levels.length == 2)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    assert(spark.read.format("omezarr").load(dir).count() > 0)
  }

  test("stale consolidated metadata: default read follows precedence, validated read refuses") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-stale").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5")
    // a fresh consolidated store cross-checks clean under validate
    assert(OmeZarrIO.readMultiscales(spark, dir, validate = true).levels.nonEmpty)
    // foreign writer mutates the live level doc WITHOUT re-consolidating
    val docPath = java.nio.file.Paths.get(dir, "scale0", "image", "zarr.json")
    val mapper = graft.meta.ZarrJson.mapper
    val doc = mapper.readTree(new String(Files.readAllBytes(docPath)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    doc.put("fill_value", 7)
    Files.write(docPath, mapper.writeValueAsBytes(doc))
    // default read: consolidated copy wins (zarr-python precedence) —
    // the stale fill_value 0 is served, data still round-trips
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    // validated read: the divergence refuses loudly
    val e = intercept[IllegalArgumentException](
      OmeZarrIO.readMultiscales(spark, dir, validate = true))
    assert(e.getMessage.contains("diverges"))
  }

  test("v2 .zmetadata serves level docs on read (S8)") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarr-consv2").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    Files.delete(java.nio.file.Paths.get(dir, "scale0", "image", ".zarray"))
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq
      == vals.toSeq)
    assert(spark.read.format("omezarr").load(dir).count() > 0)
  }

  test("consolidated metadata written for v0.4 (S8)") {
    val (m, vals) = mkImage()
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base, Some(Seq.empty),
      Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("omezarrc").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    val zm = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/.zmetadata")))
    assert(zm.contains("zarr_consolidated_format"))
    assert(zm.contains("scale0/image/.zarray"))
  }

  test("rechunk preserves content (P4)") {
    val (m, vals) = mkImage()
    val ds = ChunkOps.fromArray(spark, vals, m)
    val (m2, ds2) = ChunkOps.rechunk(spark, ds, m, Seq(48, 16))
    assert(ChunkOps.toArray(ds2, m2).toSeq == vals.toSeq)
    assert(ds2.collect().map(_.shape).toSet == Set(Seq(48, 16), Seq(16, 16)))
  }

  test("RFC 4 writer parity: orientations stripped by default, preserved under enabledRfcs=4") {
    val m = ImageMeta(Seq("y", "x"), Seq(8, 8), Seq(8, 8), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0),
      axesOrientations = Map(
        "y" -> AnatomicalOrientation("anatomical", "posterior-to-anterior"),
        "x" -> AnatomicalOrientation("anatomical", "left-to-right")))
    val vals = Array.tabulate(64)(_.toDouble)
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))
    val ms = MultiscaleBuilder.Multiscale(Seq(base), Method.ItkwasmBinShrink, None)
    // default (reference `to_ngff_zarr.py:48-63`): orientation popped
    val plain = tempDir("rfc4off").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, plain, ms, version = "0.4")
    assert(!new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$plain/.zattrs"))).contains("orientation"))
    assert(OmeZarrIO.readMultiscales(spark, plain)
      .levels.head.meta.axesOrientations.isEmpty)
    // RFC 4 enabled: orientation preserved and round-trips
    val rfc4 = tempDir("rfc4on").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, rfc4, ms, version = "0.4",
      enabledRfcs = Seq(4))
    assert(OmeZarrIO.readMultiscales(spark, rfc4, validate = true)
      .levels.head.meta.axesOrientations == m.axesOrientations)
  }
}
