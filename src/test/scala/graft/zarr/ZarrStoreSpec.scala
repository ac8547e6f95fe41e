package graft.zarr

import org.scalatest.funsuite.AnyFunSuite

class ZarrStoreSpec extends AnyFunSuite with graft.TempDirs {

  test("codecs round-trip gzip/zlib/zstd/blosc/raw") {
    val data = Array.tabulate[Byte](10000)(i => (i * 31 % 251).toByte)
    for (codec <- Seq(None, Some("gzip"), Some("zlib"), Some("zstd"),
        Some("blosc"), Some("blosc:zstd:3"), Some("blosc:zlib"), Some("blosc:snappy"))) {
      val enc = Codecs.compress(codec, data, typesize = 8)
      assert(Codecs.decompress(codec, enc, data.length).toSeq == data.toSeq, s"codec $codec")
      if (codec.isDefined) assert(enc.length < data.length)
    }
    assertThrows[UnsupportedOperationException](Codecs.compress(Some("lzma"), data))
  }

  test("crc32c checksum codec: round-trip, composition, corruption refusal") {
    val data = Array.tabulate[Byte](5000)(i => (i * 17 % 127).toByte)
    for (codec <- Seq(Some("crc32c"), Some("crc32c:gzip"), Some("crc32c:zstd"),
        Some("crc32c:blosc:zstd:3"))) {
      val enc = Codecs.compress(codec, data, typesize = 4)
      assert(Codecs.decompress(codec, enc, data.length).toSeq == data.toSeq, s"codec $codec")
    }
    // bare crc32c is payload + 4-byte LE trailer
    val bare = Codecs.compress(Some("crc32c"), data)
    assert(bare.length == data.length + 4)
    // flipping any payload or trailer byte refuses loudly
    val bad = bare.clone(); bad(100) = (bad(100) ^ 1).toByte
    val e = intercept[IllegalArgumentException](
      Codecs.decompress(Some("crc32c"), bad, data.length))
    assert(e.getMessage.contains("crc32c"))
    val badTail = bare.clone(); badTail(badTail.length - 1) = (badTail(badTail.length - 1) ^ 1).toByte
    assertThrows[IllegalArgumentException](
      Codecs.decompress(Some("crc32c"), badTail, data.length))
  }

  test("store contract holds on a foreign-scheme Hadoop FileSystem (S3) ") {
    // mockfs://bucket/... resolves through fs.<scheme>.impl exactly
    // like s3a/gs/abfs would — this pins the claim that ZarrStore is
    // remote-ready: every operation below goes through the FileSystem
    // API of a non-default scheme carried in a SERIALIZED conf (the
    // same route executor-side stores take)
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.mockfs.impl", classOf[MockRemoteFileSystem].getName)
    val hconf = new SerializableHadoopConf(conf)
    // round-trip the conf through Java serialization first, as a task
    // closure would
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(hconf); oos.close()
    val wire = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SerializableHadoopConf]
    val local = tempDir("mockfs").toString
    val st = new ZarrStore(s"mockfs://bucket$local/store.zarr", Some(wire))
    st.writeString(".zgroup", """{"zarr_format": 2}""")
    st.writeBytes("a/0/0", Array.tabulate[Byte](100)(_.toByte))
    assert(st.exists(".zgroup") && st.exists("a/0/0") && !st.exists("a/0/1"))
    assert(st.size("a/0/0") == 100)
    assert(st.readBytes("a/0/0").toSeq == (0 until 100).map(_.toByte))
    assert(st.readRange("a/0/0", 10, 5).toSeq == (10 until 15).map(_.toByte))
    assert(st.readString(".zgroup").contains("zarr_format"))
    assert(st.list("").toSet == Set(".zgroup", "a/0/0"))
    st.delete("a")
    assert(!st.exists("a/0/0") && st.list("").toSet == Set(".zgroup"))
    // the payload really landed under the local root the mock maps to
    assert(new java.io.File(s"$local/store.zarr/.zgroup").exists())
  }

  test("store contract holds against a REAL remote endpoint (env-gated smoke)") {
    // Set SPARK_GRAFT_REMOTE_URL to an s3a://bucket/prefix (or gs://,
    // abfs://) with connector + credentials on the classpath/conf and
    // this smoke validates the remote-store claim over an actual
    // network round-trip; offline (the normal state of this sandbox)
    // it cancels cleanly. Documented in FIXTURES.md.
    val url = sys.env.get("SPARK_GRAFT_REMOTE_URL")
    assume(url.isDefined, "SPARK_GRAFT_REMOTE_URL not set — offline sandbox")
    val base = url.get.stripSuffix("/")
    val st = new ZarrStore(s"$base/graft-smoke-${System.currentTimeMillis()}.zarr")
    try {
      st.writeString(".zgroup", """{"zarr_format": 2}""")
      st.writeBytes("a/0/0", Array.tabulate[Byte](100)(_.toByte))
      assert(st.exists(".zgroup") && st.exists("a/0/0") && !st.exists("a/0/1"))
      assert(st.size("a/0/0") == 100)
      assert(st.readBytes("a/0/0").toSeq == (0 until 100).map(_.toByte))
      assert(st.readRange("a/0/0", 10, 5).toSeq == (10 until 15).map(_.toByte))
      assert(st.list("").toSet == Set(".zgroup", "a/0/0"))
    } finally st.delete("")
  }

  test("chunk keys: v2 separators and v3 c-prefix") {
    assert(ZarrStore.chunkKey(2, "scale0/image", Seq(0, 1), "/") == "scale0/image/0/1")
    assert(ZarrStore.chunkKey(2, "scale0/image", Seq(0, 1), ".") == "scale0/image/0.1")
    assert(ZarrStore.chunkKey(3, "scale0/image", Seq(2, 0)) == "scale0/image/c/2/0")
  }

  test("chunk grid math: counts, shapes at edges, origins") {
    assert(ZarrStore.chunkGrid(Seq(100L, 65L), Seq(64, 64)) == Seq(2, 2))
    assert(ZarrStore.gridPositions(Seq(2, 2)).toSeq ==
      Seq(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1)))
    assert(ZarrStore.chunkShapeAt(Seq(100L, 65L), Seq(64, 64), Seq(1, 1)) == Seq(36, 1))
    assert(ZarrStore.chunkOriginAt(Seq(64, 64), Seq(1, 0)) == Seq(64L, 0L))
  }

  test("element codec: dtype round-trips incl unsigned and float16") {
    val vals = Array(0.0, 1.0, 127.0, 128.0, 255.0)
    for (dt <- Seq("uint8", "int16", "uint16", "int32", "uint32", "float32", "float64")) {
      val enc = ZarrStore.encodeFromDoubles(vals, dt)
      assert(ZarrStore.decodeToDoubles(enc, dt).toSeq == vals.toSeq, s"dtype $dt")
    }
    // negative wraps correctly through unsigned decode
    val u8 = ZarrStore.encodeFromDoubles(Array(255.0), "uint8")
    assert(u8.head == -1.toByte && ZarrStore.decodeToDoubles(u8, "uint8").head == 255.0)
    // float16 quantizes but preserves representable values
    val f16 = ZarrStore.encodeFromDoubles(Array(0.5, 1.0, -2.0), "float16")
    assert(ZarrStore.decodeToDoubles(f16, "float16").toSeq == Seq(0.5, 1.0, -2.0))
    // big-endian normalization (P5)
    val be = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.BIG_ENDIAN)
      .putShort(258.toShort).putShort(1.toShort).array()
    assert(ZarrStore.decodeToDoubles(be, "int16", bigEndian = true).toSeq == Seq(258.0, 1.0))
  }

  test("store read/write/list round-trip on local fs") {
    val dir = tempDir("graft-zarr").toString
    val store = new ZarrStore(dir)
    store.writeString("a/.zarray", "{}")
    store.writeBytes("a/0/0", Array[Byte](1, 2, 3))
    assert(store.exists("a/0/0"))
    assert(store.readBytes("a/0/0").toSeq == Seq[Byte](1, 2, 3))
    assert(store.readString("a/.zarray") == "{}")
    assert(store.list("a").toSet == Set("a/.zarray", "a/0/0"))
    store.delete("a")
    assert(!store.exists("a/0/0"))
  }

  test("NoChmod local FS: default permissions skip the chmod, explicit ones apply") {
    import org.apache.hadoop.fs.Path
    import org.apache.hadoop.fs.permission.FsPermission
    val conf = new org.apache.hadoop.conf.Configuration()
    val fs = new NoChmodRawLocalFileSystem()
    fs.initialize(new java.net.URI("file:///"), conf)
    val dir = tempDir("nochmod").toString
    // default-permission create: the skip path — on-disk mode must be
    // the umask-applied default, exactly what stock Hadoop would chmod
    // to (the umask delta was the ADVICE r12 gap this pins closed)
    val f1 = new Path(s"$dir/default.bin")
    val out = fs.create(f1, true)
    out.write(1); out.close()
    val umask = FsPermission.getUMask(conf)
    assert(fs.getFileStatus(f1).getPermission ==
      FsPermission.getFileDefault.applyUMask(umask))
    // explicit non-default permission: must DELEGATE (the r12 version
    // dropped it) — a private 0600 really lands on disk
    val f2 = new Path(s"$dir/private.bin")
    val out2 = fs.create(f2, true)
    out2.write(1); out2.close()
    fs.setPermission(f2, new FsPermission("600"))
    assert(fs.getFileStatus(f2).getPermission == new FsPermission("600"))
    // explicit non-default dir permission on mkdirs delegates too
    val d1 = new Path(s"$dir/privdir")
    fs.mkdirs(d1, new FsPermission("700"))
    assert(fs.getFileStatus(d1).getPermission == new FsPermission("700"))
    // the skip compares against the default for the path's TYPE: a
    // file set to the directory default (755 under umask 022) and a
    // directory set to the file default are real changes and land
    val fileDefault = FsPermission.getFileDefault.applyUMask(umask)
    val dirDefault = FsPermission.getDirDefault.applyUMask(umask)
    val f3 = new Path(s"$dir/dirmode.bin")
    val out3 = fs.create(f3, true)
    out3.write(1); out3.close()
    fs.setPermission(f3, dirDefault)
    assert(fs.getFileStatus(f3).getPermission == dirDefault)
    val d2 = new Path(s"$dir/filemodedir")
    fs.mkdirs(d2)
    fs.setPermission(d2, fileDefault)
    assert(fs.getFileStatus(d2).getPermission == fileDefault)
  }

  test("complex dtype decode/encode round-trips interleaved (re, im)") {
    val vals = Array(1.5, -2.0, 3.25, 4.0) // (1.5-2i), (3.25+4i)
    for (dt <- Seq("complex64", "complex128")) {
      val enc = ZarrStore.encodeComplex(vals, dt)
      assert(enc.length == vals.length * (graft.meta.Dtypes.itemSize(dt) / 2))
      assert(ZarrStore.decodeComplex(enc, dt).toSeq == vals.toSeq, dt)
    }
    // big-endian complex64 normalizes on read
    val be = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
      .putFloat(1.0f).putFloat(-1.0f).array()
    assert(ZarrStore.decodeComplex(be, "complex64", bigEndian = true).toSeq == Seq(1.0, -1.0))
  }
}
