package graft.operators

import graft.SparkSpec

/** Hdf5/Hdf5IO against committed fixtures from
  * `tools/make_hdf5_fixture.py` — an independent pure-Python writer
  * following the published HDF5 File Format Specification, same
  * shared synthetic volume as the other converter fixtures so voxel
  * values must agree bit-for-bit across container families.
  */
class Hdf5Spec extends SparkSpec {

  private val fx = "src/test/resources/fixtures/h5"
  private val NX = 6; private val NY = 5; private val NZ = 4

  /** C-order expectation over dims (x,y,z): v = (7x + 11y + 13z) % 200. */
  private def expected: Seq[Double] =
    for (x <- 0 until NX; y <- 0 until NY; z <- 0 until NZ)
      yield ((x * 7 + y * 11 + z * 13) % 200).toDouble

  private def values(img: VolumeFormats.VolumeImage): Seq[Double] =
    ChunkOps.toArray(img.chunks, img.meta).toSeq

  test("metadata parse: groups, datasets, attributes") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/vol.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("meta"))
    assert(tree.datasets.keySet == Set("volume"))
    val ds = tree.dataset("volume")
    assert(ds.dims == Seq(NZ.toLong, NY, NX)) // file (C) order
    assert(ds.dtype == "int16" && !ds.bigEndian)
    assert(ds.attrs("scale") == Hdf5.ANums(Seq(1.5, 2.5, 3.5)))
    assert(ds.attrs("note") == Hdf5.ANums(Seq(42.0)))
    assert(tree.groups("meta").datasets.isEmpty)
  }

  test("contiguous int16 dataset reads distributed with reversed dims") {
    val img = Hdf5IO.read(spark, s"$fx/vol.hdf5")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ))
    assert(img.meta.dtype == "int16")
    assert(values(img) == expected)
  }

  test("chunked float32 with shuffle+deflate and edge chunks") {
    val img = Hdf5IO.read(spark, s"$fx/volc.hdf5")
    assert(img.meta.dtype == "float32")
    assert(img.meta.shape == Seq(NX.toLong, NY, NZ))
    // engine chunk grid mirrors the HDF5 chunk grid, reversed
    assert(img.meta.chunks == Seq(4, 2, 3))
    assert(values(img) == expected)
  }

  test("MINC2 layout: dimorder-driven spacing, |step| normalization") {
    val img = Hdf5IO.read(spark, s"$fx/vol.mnc2")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "uint8")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5)) // z step was -3.5
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    assert(values(img) == expected)
  }

  test("a .mnc file with the HDF5 signature routes through the MINC2 reader") {
    val tmp = tempDir("h5").resolve("vol.mnc")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$fx/vol.mnc2"), tmp)
    val img = MincIO.read(spark, tmp.toString)
    assert(img.meta.scale("z") == 3.5)
    assert(values(img) == expected)
  }

  test("level-1 chunk B-tree: internal nodes recurse to both leaves") {
    val img = Hdf5IO.read(spark, s"$fx/vold.hdf5")
    assert(img.meta.dtype == "int16")
    assert(img.meta.chunks == Seq(6, 5, 1)) // one z-slab per chunk, reversed
    assert(values(img) == expected)
  }

  test("libver=latest profile: superblock v2, OHDR v2, compact link groups") {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$fx/vol_v2.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("grp"))
    val ds = tree.dataset("grp/volume")
    assert(ds.dtype == "int32")
    assert(ds.attrs("scale") == Hdf5.ANums(Seq(0.5, 0.6, 0.7)))
    val img = Hdf5IO.read(spark, s"$fx/vol_v2.hdf5")
    assert(img.meta.dtype == "int32")
    assert(values(img) == expected)
  }

  test("ITK HDF5ImageIO layout: VoxelData + fastest-first Spacing/Origin") {
    val img = Hdf5IO.read(spark, s"$fx/vol_itk.hdf5")
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.dtype == "uint16")
    assert(img.meta.scale == Map("x" -> 1.5, "y" -> 2.5, "z" -> 3.5))
    assert(img.meta.translation == Map("x" -> 10.0, "y" -> 20.0, "z" -> 30.0))
    assert(values(img) == expected)
  }

  test("encodeMinc2Uint8 round-trips through the full HDF5 read path") {
    val (nz, ny, nx) = (3, 4, 5)
    val vals = Array.tabulate(nz * ny * nx) { f => // C order over (z,y,x)
      val x = f % nx; val y = (f / nx) % ny; val z = f / (nx * ny)
      (x * 5 + y * 9 + z * 31) % 256
    }
    val bytes = Hdf5.encodeMinc2Uint8(Seq(nz, ny, nx),
      steps = Seq(-2.0, 1.25, 0.75), starts = Seq(7.0, -2.0, 3.0), vals)
    val p = tempDir("h5").resolve("rt.mnc2")
    java.nio.file.Files.write(p, bytes)
    val img = Hdf5IO.readMinc2(spark, p.toString)
    assert(img.meta.dims == Seq("x", "y", "z"))
    assert(img.meta.shape == Seq(nx.toLong, ny, nz))
    assert(img.meta.scale == Map("x" -> 0.75, "y" -> 1.25, "z" -> 2.0)) // |−2.0|
    assert(img.meta.translation == Map("x" -> 3.0, "y" -> -2.0, "z" -> 7.0))
    val got = ChunkOps.toArray(img.chunks, img.meta)
    // C-order over (x,y,z) from the file's C-order over (z,y,x)
    val want = for (x <- 0 until nx; y <- 0 until ny; z <- 0 until nz)
      yield ((x * 5 + y * 9 + z * 31) % 256).toDouble
    assert(got.toSeq == want)
  }

  test("dense (fractal-heap) link storage: 12 links enumerate via FRHP + v2 B-tree") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("many"))
    val many = tree.groups("many")
    assert(many.datasets.keySet == (0 until 12).map(i => f"d$i%02d").toSet)
    // every link resolved through a managed heap ID to the right
    // object header: values pin the full hash→heap→link→dataset path
    (0 until 12).foreach { i =>
      val ds = many.datasets(f"d$i%02d")
      assert(ds.dims == Seq(1L) && ds.dtype == "int16")
      val addr = ds.layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"d$i%02d")
    }
  }

  test("FILTERED fractal heap: deflated root direct block defilters before ID resolution") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense_filtered.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("packed"))
    val g = tree.groups("packed")
    assert(g.datasets.keySet == (0 until 12).map(i => f"c$i%02d").toSet)
    (0 until 12).foreach { i =>
      val ds = g.datasets(f"c$i%02d")
      val addr = ds.layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"c$i%02d")
    }
  }

  test("depth-2 fractal heap: child indirect block + filtered indirect entries") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense_deep.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("deep"))
    val g = tree.groups("deep")
    // 80 links spill past the root's direct rows (1024 bytes of heap
    // space) into a direct block reached ONLY through the child FHIB
    assert(g.datasets.keySet == (0 until 80).map(i => f"e$i%02d").toSet)
    (0 until 80).foreach { i =>
      val ds = g.datasets(f"e$i%02d")
      val addr = ds.layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"e$i%02d")
    }
  }

  test("depth-2 v2 B-tree: root BTIN over internal children over leaves") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense_btdeep.hdf5"))
    val tree = Hdf5.parse(bytes)
    assert(tree.groups.keySet == Set("btdeep"))
    val g = tree.groups("btdeep")
    // 53 links over a 128-byte node size: root (2 records, 10-byte
    // child pointers with the total-subtree field) -> 3 internal
    // nodes (2 records, 9-byte pointers) -> 9 leaves of 5
    assert(g.datasets.keySet == (0 until 53).map(i => f"n$i%02d").toSet)
    (0 until 53).foreach { i =>
      val ds = g.datasets(f"n$i%02d")
      val addr = ds.layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"n$i%02d")
    }
  }

  test("huge heap ID resolves through the huge-object v2 B-tree") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense_huge.hdf5"))
    val tree = Hdf5.parse(bytes)
    val g = tree.groups("hugeg")
    // the 199-char link name's body (210 bytes) exceeds the heap's max
    // managed object size: type-1 heap ID -> huge B-tree record 1
    val longName = "hugelink_" + "x" * 190
    assert(g.datasets.keySet == (0 until 10).map(i => f"h$i%02d").toSet + longName)
    val hd = g.datasets(longName)
    val haddr = hd.layout.asInstanceOf[Hdf5.Contiguous].addr
    val hv = ((bytes(haddr.toInt + 1) & 0xff) << 8) | (bytes(haddr.toInt) & 0xff)
    assert(hv == 999)
    (0 until 10).foreach { i =>
      val addr = g.datasets(f"h$i%02d").layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"h$i%02d")
    }
  }

  test("extended-tiny heap IDs (heap ID length > 18) carry the link body inline") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fx/dense_tinyext.hdf5"))
    val tree = Hdf5.parse(bytes)
    val g = tree.groups("tinyext")
    // the heap has NO direct blocks at all: every link body lives in
    // its 20-byte ID with the two-byte extended length form
    assert(g.datasets.keySet == (0 until 9).map(i => f"t$i%02d").toSet)
    (0 until 9).foreach { i =>
      val addr = g.datasets(f"t$i%02d").layout.asInstanceOf[Hdf5.Contiguous].addr
      val v = ((bytes(addr.toInt + 1) & 0xff) << 8) | (bytes(addr.toInt) & 0xff)
      assert(v == 7 * i + 3, f"t$i%02d")
    }
  }

  test("refuse-loudly: bad signature, unsupported structures") {
    val e1 = intercept[IllegalArgumentException](Hdf5.parse("not hdf5 at all".getBytes))
    assert(e1.getMessage.contains("signature"))
    // generic read of a MINC2 file by dataset path works too
    val img = Hdf5IO.read(spark, s"$fx/vol.mnc2")
    assert(img.meta.shape.product == NX * NY * NZ)
  }
}
