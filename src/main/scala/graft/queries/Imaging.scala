package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meta.Model._
import graft.operators.{ChunkOps, Downsample, MultiscaleBuilder, TiffIO}

/** Imaging kernels surfaced in the correctness gate: each query runs
  * the REAL chunk-table operator (fromArray → Downsample.step →
  * voxelView) on a deterministic synthetic image v(y,x) = (31y+17x)
  * mod 256, and the DuckDB oracle reproduces the exact semantics
  * relationally over range() — the "voxel view as relational query"
  * contract of SURVEY §2.7.
  *
  * Gaussian has no SQL oracle (libm exp ulps differ across engines);
  * its parity is covered by the ScalaTest invariants instead.
  */
object Imaging extends QModule {

  private val H = 64
  private val W = 64

  private def baseImage(spark: SparkSession): (ImageMeta, org.apache.spark.sql.Dataset[ChunkOps.ChunkRow]) = {
    // 2×2 chunk grid: enough to exercise distribution + halo exchange
    // without paying 16-task stage latency per fixed-size gate query
    val meta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(32, 32), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(H * W)(i => ((i / W * 31 + i % W * 17) % 256).toDouble)
    (meta, ChunkOps.fromArray(spark, vals, meta))
  }

  private def run(spark: SparkSession, method: Method): DataFrame = {
    val (meta, ds) = baseImage(spark)
    val (om, ods) = Downsample.step(spark, ds, meta, Map("y" -> 2, "x" -> 2), method)
    ChunkOps.voxelView(spark, ods, om)
      .select(col("y"), col("x"), col("value"))
      .orderBy(col("y"), col("x"))
  }

  /** 3×3 grid of 12×12 square rings (10×10 interior holes), rings at
    * (8+16i, 8+16j) so the middle ring straddles both 32-chunk
    * boundaries — the hole-filling fixture. Binary 0/255.
    */
  private def ringOn(y: Int, x: Int): Boolean =
    y >= 8 && y < 52 && x >= 8 && x < 52 &&
      (y - 8) % 16 < 12 && (x - 8) % 16 < 12 &&
      ((y - 8) % 16 == 0 || (y - 8) % 16 == 11 ||
       (x - 8) % 16 == 0 || (x - 8) % 16 == 11)

  private def ringImage(spark: SparkSession): (ImageMeta, org.apache.spark.sql.Dataset[ChunkOps.ChunkRow]) = {
    val meta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(32, 32), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(H * W)(i =>
      if (ringOn(i / W, i % W)) 255.0 else 0.0)
    (meta, ChunkOps.fromArray(spark, vals, meta))
  }

  /** The same ring predicate as closed-form SQL over `i` of range(). */
  private val ringVSql =
    s"""CASE WHEN i // $W >= 8 AND i // $W < 52 AND i % $W >= 8 AND i % $W < 52
       |  AND ((i // $W - 8) % 16) < 12 AND ((i % $W - 8) % 16) < 12
       |  AND (((i // $W - 8) % 16) IN (0, 11) OR ((i % $W - 8) % 16) IN (0, 11))
       |THEN 255.0 ELSE 0.0 END""".stripMargin

  private val gridSql =
    s"""grid AS (SELECT i // $W AS y, i % $W AS x,
       |  CAST(((i // $W) * 31 + (i % $W) * 17) % 256 AS DOUBLE) AS v
       |  FROM range(${H * W}) r(i))""".stripMargin

  override def queries: Seq[Q] = Seq(i60BinShrink, i61Nearest, i62Mode, i63Gaussian, i64Pyramid,
    h65HcsWellLookup, i66OmeTiffAxes, i67NrrdVolume, i68DicomSeries, i69IwiCbor,
    i70Minc2Volume, i71ScannerVolume, i72PatchStats, i73PatchAugment,
    i74LabelComponents, i75LabelView, i76LabelComponents3d,
    i77PercentileNorm, i78OtsuThreshold, i79Morphology, i80Morphology3d,
    i81Pyramid3dMetadata, i82UpsampleNearest, i83ImageSeries,
    i84DistanceTransform, i85RegionMoments, i86SobelGradient,
    i87ComponentPerimeter, i88HistEqualize, i89BboxIou, i90MedianFilter,
    i91FillHoles, i92AreaOpen, i93AdaptiveThreshold, i94HistMatch,
    i95FillHoles3d, i96RegionAdjacency, i97RegionIntensity,
    i98MedianFilter3d, i99RegionAdjacency3d)

  /** Training-patch extraction ([[graft.operators.Patches]]): the
    * 64×64 / 32×32-chunk volume re-tiled onto a 24×24 patch grid —
    * patches straddle chunk boundaries AND the bottom/right edge is
    * ragged (24, 24, 16), so the gate exercises the re-block shuffle
    * and short-patch handling. The oracle replays every patch's exact
    * integer stats plus the position-weighted checksum from the
    * closed-form grid; a transposed or misplaced block anywhere in
    * the re-assembly hash-mismatches.
    */
  val i72PatchStats = Q(
    "i72_patch_stats",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.Patches.patchStats2d(s, ds, meta, p = 24)
        .orderBy(col("py"), col("px"))
    },
    Some(s"""WITH $gridSql
            SELECT CAST(y // 24 AS BIGINT) AS py, CAST(x // 24 AS BIGINT) AS px,
                   CAST(least(24, $H - (y // 24) * 24) AS INT) AS h,
                   CAST(least(24, $W - (x // 24) * 24) AS INT) AS w,
                   CAST(count(*) AS INT) AS n,
                   CAST(sum(v) AS BIGINT) AS sum,
                   CAST(min(v) AS BIGINT) AS vmin,
                   CAST(max(v) AS BIGINT) AS vmax,
                   CAST(sum(v * ((y % 24) * least(24, $W - (x // 24) * 24)
                     + (x % 24) + 1)) AS BIGINT) AS checksum
            FROM grid GROUP BY y // 24, x // 24
            ORDER BY py, px"""))

  /** Deterministic patch augmentation ([[graft.operators.Patches
    * .augmentStats2d]]): md5-selected flip family per patch, the
    * augmented array materialized and fingerprinted. The oracle
    * replays the md5 choice and the index remap of all four flips —
    * a mirrored axis or an off-by-one in the remap hash-mismatches.
    */
  val i73PatchAugment = Q(
    "i73_patch_augment",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.Patches.augmentStats2d(s, ds, meta, p = 24)
        .orderBy(col("py"), col("px"))
    },
    Some(s"""WITH $gridSql,
            pp AS (SELECT y // 24 AS py, x // 24 AS px,
                     y % 24 AS yy, x % 24 AS xx, v,
                     least(24, $H - (y // 24) * 24) AS ph,
                     least(24, $W - (x // 24) * 24) AS pw
                   FROM grid),
            a AS (SELECT pp.*,
                    CAST('0x' || substr(md5(CAST(py AS VARCHAR) || ':'
                      || CAST(px AS VARCHAR)), 1, 2) AS BIGINT) % 4 AS aug
                  FROM pp)
            SELECT CAST(py AS BIGINT) AS py, CAST(px AS BIGINT) AS px,
                   CAST(aug AS INT) AS aug,
                   CAST(max(ph) AS INT) AS h, CAST(max(pw) AS INT) AS w,
                   CAST(sum(v * (CASE aug
                     WHEN 0 THEN yy * pw + xx
                     WHEN 1 THEN yy * pw + (pw - 1 - xx)
                     WHEN 2 THEN (ph - 1 - yy) * pw + xx
                     ELSE (ph - 1 - yy) * pw + (pw - 1 - xx) END + 1))
                     AS BIGINT) AS checksum
            FROM a GROUP BY py, px, aug
            ORDER BY py, px"""))

  /** S10 — vendor scanner tier, oracle-gated: the SAME synthetic
    * volume is encoded at runtime as a Scanco ISQ (int16, block data
    * offset, µm dims) and a BioRad PIC (uint8, AXIS calibration
    * notes), both read back through [[graft.operators.ScannerFormats]],
    * and their per-z slab sums joined — so a stride slip in either
    * reader, a block-offset miscount, a note-walk failure, or a
    * spacing mix-up all hash-mismatch against the closed-form oracle.
    */
  val i71ScannerVolume = Q(
    "i71_scanner_volume",
    (s, _) => {
      import graft.operators.ScannerFormats
      val (nx, ny, nz) = (7, 6, 5)
      val fvals = Array.tabulate(nx * ny * nz) { f => // Fortran order: x fastest
        val x = f % nx; val y = (f / nx) % ny; val z = f / (nx * ny)
        (x * 17 + y * 5 + z * 23) % 180
      }
      val dir = QTables.scratchDir("i71")
      val isqPath = dir.resolve("vol.isq")
      java.nio.file.Files.write(isqPath, ScannerFormats.encodeIsqInt16(
        Seq(nx, ny, nz), Seq(10500, 15000, 17500), fvals)) // -> 1.5/2.5/3.5 mm
      val picPath = dir.resolve("vol.pic")
      java.nio.file.Files.write(picPath, ScannerFormats.encodePicUint8(
        nx, ny, nz, Seq(0.5, 0.6, 0.7), Seq(1.0, 2.0, 3.0), fvals))
      val isq = ScannerFormats.readIsq(s, isqPath.toString)
      val pic = ScannerFormats.readPic(s, picPath.toString)
      def slab(img: graft.operators.VolumeFormats.VolumeImage, pfx: String) =
        ChunkOps.voxelView(s, img.chunks, img.meta)
          .groupBy(col("z"))
          .agg(sum(col("value")).cast("bigint").as(s"${pfx}_sum"),
            sum(col("value") * (col("y") * 31 + col("x") * 13))
              .cast("bigint").as(s"${pfx}_wsum"))
      slab(isq, "isq").join(slab(pic, "pic"), "z")
        .withColumn("isq_scale_x", lit(isq.meta.scale("x")))
        .withColumn("isq_scale_z", lit(isq.meta.scale("z")))
        .withColumn("pic_scale_y", lit(pic.meta.scale("y")))
        .withColumn("pic_tx", lit(pic.meta.translation("x")))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 7 AS x, (i // 7) % 6 AS y, i // 42 AS z,
                     CAST(((i % 7) * 17 + ((i // 7) % 6) * 5 + (i // 42) * 23) % 180
                       AS DOUBLE) AS v
              FROM range(210) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS isq_sum,
                   CAST(sum(v * (y * 31 + x * 13)) AS BIGINT) AS isq_wsum,
                   CAST(sum(v) AS BIGINT) AS pic_sum,
                   CAST(sum(v * (y * 31 + x * 13)) AS BIGINT) AS pic_wsum,
                   CAST(1.5 AS DOUBLE) AS isq_scale_x,
                   CAST(3.5 AS DOUBLE) AS isq_scale_z,
                   CAST(0.6 AS DOUBLE) AS pic_scale_y,
                   CAST(1.0 AS DOUBLE) AS pic_tx
            FROM vox GROUP BY z ORDER BY z"""))

  /** S10 — MINC2 (HDF5) ingestion, oracle-gated: a runtime-encoded
    * MINC2 file (superblock v0, v1 symbol-table groups, contiguous
    * uint8 image, per-dimension step/start attrs — the
    * [[graft.operators.Hdf5]] subset) reads back through the full
    * HDF5 route and reduces to per-z slab sums plus a
    * position-weighted sum; |step| spacing and start translation
    * land as columns. The oracle replays the closed-form voxel
    * formula — a group-traversal slip, a C-order/F-order confusion,
    * or a step-sign mishandling all hash-mismatch.
    */
  val i70Minc2Volume = Q(
    "i70_minc2_volume",
    (s, _) => {
      import graft.operators.{Hdf5, Hdf5IO}
      val (nx, ny, nz) = (8, 6, 5)
      val vals = Array.tabulate(nz * ny * nx) { f => // file C order (z,y,x)
        val x = f % nx; val y = (f / nx) % ny; val z = f / (nx * ny)
        (x * 11 + y * 3 + z * 37) % 256
      }
      val path = QTables.scratchDir("i70").resolve("vol.mnc2")
      java.nio.file.Files.write(path, Hdf5.encodeMinc2Uint8(
        Seq(nz, ny, nx), steps = Seq(-2.25, 1.75, 0.5), starts = Seq(9.0, -4.0, 1.5), vals))
      val img = Hdf5IO.readMinc2(s, path.toString)
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("slab_sum"),
          sum(col("value") * (col("y") * 29 + col("x") * 7)).cast("bigint").as("slab_wsum"))
        .withColumn("scale_x", lit(img.meta.scale("x")))
        .withColumn("scale_y", lit(img.meta.scale("y")))
        .withColumn("scale_z", lit(img.meta.scale("z")))
        .withColumn("tx", lit(img.meta.translation("x")))
        .withColumn("ty", lit(img.meta.translation("y")))
        .withColumn("tz", lit(img.meta.translation("z")))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 8 AS x, (i // 8) % 6 AS y, i // 48 AS z,
                     CAST(((i % 8) * 11 + ((i // 8) % 6) * 3 + (i // 48) * 37) % 256
                       AS DOUBLE) AS v
              FROM range(240) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS slab_sum,
                   CAST(sum(v * (y * 29 + x * 7)) AS BIGINT) AS slab_wsum,
                   CAST(0.5 AS DOUBLE) AS scale_x,
                   CAST(1.75 AS DOUBLE) AS scale_y,
                   CAST(2.25 AS DOUBLE) AS scale_z,
                   CAST(1.5 AS DOUBLE) AS tx,
                   CAST(-4.0 AS DOUBLE) AS ty,
                   CAST(9.0 AS DOUBLE) AS tz
            FROM vox GROUP BY z ORDER BY z"""))

  /** S10 — itk-wasm `.iwi.cbor` container ingestion, oracle-gated: a
    * zstd-framed CBOR image (uint16 payload as an RFC 8746 typed
    * array) is encoded at runtime, read back through
    * [[graft.operators.IwiIO]], and reduced to per-z slab sums plus a
    * position-weighted sum; spacing/origin land as columns. The
    * DuckDB oracle replays the closed-form voxel formula over
    * range() — a typed-array misdecode, an interleave/stride slip, or
    * a spacing/origin mix-up all hash-mismatch.
    */
  val i69IwiCbor = Q(
    "i69_iwi_cbor",
    (s, _) => {
      import graft.operators.IwiIO
      val (nx, ny, nz) = (9, 7, 5)
      val fvals = Array.tabulate(nx * ny * nz) { f => // Fortran order: x fastest
        val x = f % nx; val y = (f / nx) % ny; val z = f / (nx * ny)
        ((x * 13 + y * 7 + z * 41) % 1000).toDouble
      }
      val path = QTables.scratchDir("i69").resolve("vol.iwi.cbor.zst")
      java.nio.file.Files.write(path, IwiIO.encodeIwiCborZst(
        Seq(nx, ny, nz), Seq(0.8, 1.6, 2.4), Seq(-4.0, 2.0, 7.5), "uint16", fvals))
      val img = IwiIO.read(s, path.toString)
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("slab_sum"),
          sum(col("value") * (col("y") * 53 + col("x") * 19)).cast("bigint").as("slab_wsum"))
        .withColumn("scale_x", lit(img.meta.scale("x")))
        .withColumn("scale_y", lit(img.meta.scale("y")))
        .withColumn("scale_z", lit(img.meta.scale("z")))
        .withColumn("tx", lit(img.meta.translation("x")))
        .withColumn("ty", lit(img.meta.translation("y")))
        .withColumn("tz", lit(img.meta.translation("z")))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 9 AS x, (i // 9) % 7 AS y, i // 63 AS z,
                     CAST(((i % 9) * 13 + ((i // 9) % 7) * 7 + (i // 63) * 41) % 1000
                       AS DOUBLE) AS v
              FROM range(315) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS slab_sum,
                   CAST(sum(v * (y * 53 + x * 19)) AS BIGINT) AS slab_wsum,
                   CAST(0.8 AS DOUBLE) AS scale_x,
                   CAST(1.6 AS DOUBLE) AS scale_y,
                   CAST(2.4 AS DOUBLE) AS scale_z,
                   CAST(-4.0 AS DOUBLE) AS tx,
                   CAST(2.0 AS DOUBLE) AS ty,
                   CAST(7.5 AS DOUBLE) AS tz
            FROM vox GROUP BY z ORDER BY z"""))

  /** S10 — DICOM series ingestion, oracle-gated: four explicit-VR-LE
    * int16 slices are encoded at runtime with SHUFFLED InstanceNumbers
    * (3,1,4,2), read back through [[graft.operators.DicomIO]]'s
    * two-pass distributed series path, and reduced to per-z slab sums
    * plus a position-weighted sum; PixelSpacing (row\col → y,x) and
    * SliceThickness land as columns. The oracle replays the closed
    * form over range() with z = the SORTED instance order — an
    * unsorted series, a row/col spacing swap, or an endian misread
    * all hash-mismatch.
    */
  val i68DicomSeries = Q(
    "i68_dicom_series",
    (s, _) => {
      import graft.operators.DicomIO
      val (cols, rows) = (10, 8)
      val dir = QTables.scratchDir("i68")
      // one slice per TRANSFER SYNTAX — explicit-LE / RLE-Lossless /
      // JPEG-LS / JPEG-Lossless(SV1) / JPEG 2000 (signed reversible
      // 5/3, MQ-coded) / Deflated-LE: every syntax is lossless, so
      // the oracle's closed form holds for each — a compressed-decode
      // drift in ANY codec hash-mismatches the whole series
      val encoders = Seq[(Int, Int, Array[Short]) => Array[Byte]](
        (inst, z, px) => DicomIO.encodeSliceInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px),
        (inst, z, px) => DicomIO.encodeSliceRleInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px),
        (inst, z, px) => DicomIO.encodeSliceJpegLsInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px),
        (inst, z, px) => DicomIO.encodeSliceJpegLosslessInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px),
        (inst, z, px) => DicomIO.encodeSliceJpeg2kInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px),
        (inst, z, px) => DicomIO.encodeSliceDeflatedInt16(rows, cols, inst, z * 4.0,
          (2.5, 1.5), 4.0, px))
      Seq(3, 1, 6, 4, 2, 5).zipWithIndex.foreach { case (inst, i) =>
        val z = inst - 1
        val px = Array.tabulate[Short](rows * cols) { p =>
          ((p % cols) * 3 + (p / cols) * 5 + z * 29).toShort
        }
        java.nio.file.Files.write(dir.resolve(s"f$i.dcm"),
          encoders(i)(inst, z, px))
      }
      val img = DicomIO.readSeriesDir(s, dir.toString)
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("slab_sum"),
          sum(col("value") * (col("y") * 37 + col("x") * 11)).cast("bigint").as("slab_wsum"))
        .withColumn("scale_x", lit(img.meta.scale("x")))
        .withColumn("scale_y", lit(img.meta.scale("y")))
        .withColumn("scale_z", lit(img.meta.scale("z")))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 10 AS x, (i // 10) % 8 AS y, i // 80 AS z,
                     CAST((i % 10) * 3 + ((i // 10) % 8) * 5 + (i // 80) * 29
                       AS DOUBLE) AS v
              FROM range(480) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS slab_sum,
                   CAST(sum(v * (y * 37 + x * 11)) AS BIGINT) AS slab_wsum,
                   CAST(1.5 AS DOUBLE) AS scale_x,
                   CAST(2.5 AS DOUBLE) AS scale_y,
                   CAST(4.0 AS DOUBLE) AS scale_z
            FROM vox GROUP BY z ORDER BY z"""))

  /** S10 — NRRD ingestion, oracle-gated: a 10×8×6 int16 big-endian
    * attached-raw NRRD (anisotropic space directions + origin) is
    * encoded at runtime, read back through [[graft.operators
    * .VolumeFormats]] — including the distributed positioned-read
    * path — and reduced to per-z slab sums plus a position-weighted
    * sum; spacing/origin land as columns. The oracle replays the
    * closed-form voxel formula over range(); a mis-strided read, a
    * little-endian misparse, or a dropped spacing all hash-mismatch.
    */
  val i67NrrdVolume = Q(
    "i67_nrrd_volume",
    (s, _) => {
      import graft.operators.VolumeFormats
      val (nx, ny, nz) = (10, 8, 6)
      val vals = Array.tabulate(nx * ny * nz) { f => // Fortran order: x fastest
        val x = f % nx; val y = (f / nx) % ny; val z = f / (nx * ny)
        (x * 3 + y * 5 + z * 29) % 256
      }
      val path = QTables.scratchDir("i67").resolve("vol.nrrd")
      java.nio.file.Files.write(path, VolumeFormats.encodeNrrdInt16(
        Seq(nx, ny, nz), Seq(1.5, 2.5, 3.5), Seq(5.0, -3.0, 0.5), vals))
      val img = VolumeFormats.read(s, path.toString)
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("slab_sum"),
          sum(col("value") * (col("y") * 37 + col("x") * 11)).cast("bigint").as("slab_wsum"))
        .withColumn("scale_x", lit(img.meta.scale("x")))
        .withColumn("scale_y", lit(img.meta.scale("y")))
        .withColumn("scale_z", lit(img.meta.scale("z")))
        .withColumn("tx", lit(img.meta.translation("x")))
        .withColumn("ty", lit(img.meta.translation("y")))
        .withColumn("tz", lit(img.meta.translation("z")))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 10 AS x, (i // 10) % 8 AS y, i // 80 AS z,
                     CAST(((i % 10) * 3 + ((i // 10) % 8) * 5 + (i // 80) * 29) % 256
                       AS DOUBLE) AS v
              FROM range(480) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS slab_sum,
                   CAST(sum(v * (y * 37 + x * 11)) AS BIGINT) AS slab_wsum,
                   CAST(1.5 AS DOUBLE) AS scale_x,
                   CAST(2.5 AS DOUBLE) AS scale_y,
                   CAST(3.5 AS DOUBLE) AS scale_z,
                   CAST(5.0 AS DOUBLE) AS tx,
                   CAST(-3.0 AS DOUBLE) AS ty,
                   CAST(0.5 AS DOUBLE) AS tz
            FROM vox GROUP BY z ORDER BY z"""))

  /** S10 — OME-TIFF axes metadata, oracle-gated. A 12-page OME-TIFF
    * (DimensionOrder XYCZT: C fastest, SizeZ=3 SizeC=2 SizeT=2,
    * PhysicalSizeZ declared in nm) is encoded at runtime, read back
    * through the full TiffIO path, and reduced to per-(t,z,c) plane
    * sums plus a position-weighted sum; the physical scale lands as
    * columns. The DuckDB oracle replays the closed-form voxel formula
    * over range() — a pages→z misread (round 5's gap), a swapped
    * interleaving, or an unconverted unit all hash-mismatch.
    */
  val i66OmeTiffAxes = Q(
    "i66_ometiff_axes",
    (s, _) => {
      val w = 10; val h = 8
      val omeXml =
        """<?xml version="1.0" encoding="UTF-8"?>""" +
          """<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06">""" +
          """<Image ID="Image:0"><Pixels ID="Pixels:0" DimensionOrder="XYCZT"""" +
          s""" Type="uint8" SizeX="$w" SizeY="$h" SizeZ="3" SizeC="2" SizeT="2"""" +
          """ PhysicalSizeX="0.5" PhysicalSizeY="0.6"""" +
          """ PhysicalSizeZ="2000" PhysicalSizeZUnit="nm">""" +
          """<TiffData/></Pixels></Image></OME>"""
      val planes = (0 until 12).map { p =>
        val c = p % 2; val z = (p / 2) % 3; val t = p / 6
        Array.tabulate(w * h) { i =>
          ((t * 83 + c * 47 + z * 29 + (i / w) * 5 + (i % w) * 3) % 256).toByte
        }
      }
      val path = QTables.scratchDir("i66")
        .resolve("axes.ome.tif")
      java.nio.file.Files.write(path, TiffIO.encodeGray8(w, h, planes, Some(omeXml)))
      val img = TiffIO.read(s, path.toString)
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("t"), col("z"), col("c"))
        .agg(sum(col("value")).cast("bigint").as("plane_sum"),
          sum(col("value") * (col("y") * 37 + col("x") * 11)).cast("bigint").as("plane_wsum"))
        .withColumn("scale_x", lit(img.meta.scale("x")))
        .withColumn("scale_y", lit(img.meta.scale("y")))
        .withColumn("scale_z", lit(img.meta.scale("z")))
        .select(col("t"), col("z"), col("c"), col("plane_sum"), col("plane_wsum"),
          col("scale_x"), col("scale_y"), col("scale_z"))
        .orderBy(col("t"), col("z"), col("c"))
    },
    Some("""WITH vox AS (
              SELECT (i // 480) % 2 AS t, (i // 160) % 3 AS z, (i // 80) % 2 AS c,
                     (i // 10) % 8 AS y, i % 10 AS x,
                     CAST((((i // 480) % 2) * 83 + ((i // 80) % 2) * 47
                           + ((i // 160) % 3) * 29 + ((i // 10) % 8) * 5
                           + (i % 10) * 3) % 256 AS DOUBLE) AS v
              FROM range(960) r(i))
            SELECT t, z, c,
                   CAST(sum(v) AS BIGINT) AS plane_sum,
                   CAST(sum(v * (y * 37 + x * 11)) AS BIGINT) AS plane_wsum,
                   CAST(0.5 AS DOUBLE) AS scale_x,
                   CAST(0.6 AS DOUBLE) AS scale_y,
                   CAST(2.0 AS DOUBLE) AS scale_z
            FROM vox GROUP BY t, z, c
            ORDER BY t, z, c"""))

  /** S12/S13 — HCS plate relational surface, oracle-gated. A real
    * plate store (plate `.zattrs` + per-well docs, the layout of
    * `py/ngff_zarr/hcs.py:140-176`'s keyed lookups) is built
    * deterministically FROM the nation/region tables — rows = region
    * names (sorted), columns = per-region nation rank, two
    * acquisitions with field images alternating by nation key — then
    * re-read via `fromHcsZarr`, and the gate result is the wells ×
    * acquisitions join to the image catalog with a keyed acquisition
    * filter. The DuckDB oracle replays the derivation relationally
    * from the same parquet tables, so the store round-trip (attrs
    * write → parse → DataFrames) is what's actually under test.
    */
  val h65HcsWellLookup = Q(
    "h65_hcs_well_lookup",
    (s, dir) => {
      import graft.hcs.Hcs
      import graft.meta.ZarrJson
      val regions = graft.Tables.load(s, dir, "region")
        .select("r_regionkey", "r_name").collect()
        .map(r => (r.getAs[Number]("r_regionkey").longValue, r.getString(1)))
      val nations = graft.Tables.load(s, dir, "nation")
        .select("n_nationkey", "n_regionkey").collect()
        .map(r => (r.getAs[Number]("n_nationkey").longValue,
          r.getAs[Number]("n_regionkey").longValue))
      val rowNames = regions.map(_._2).sorted
      val rowIdx = regions.map { case (k, n) => k -> rowNames.indexOf(n) }.toMap
      // per-region nation rank (1-based) = plate column
      val wells = nations.groupBy(_._2).toSeq.flatMap { case (rkey, ns) =>
        ns.map(_._1).sorted.zipWithIndex.map { case (nkey, i) =>
          (nkey, rowIdx(rkey), i, s"${rowNames(rowIdx(rkey))}/${i + 1}")
        }
      }.sortBy { case (_, ri, ci, _) => (ri, ci) }
      val nCols = wells.map(_._3).max + 1
      val plate = Plate(
        rows = rowNames.map(PlateRow).toSeq,
        columns = (1 to nCols).map(c => PlateColumn(c.toString)),
        wells = wells.map { case (_, ri, ci, p) => PlateWellIndex(p, ri, ci) },
        acquisitions = Seq(
          PlateAcquisition(0, Some("acq0"), Some(2)),
          PlateAcquisition(1, Some("acq1"), Some(2))))
      val storeDir = QTables.scratchDir("hcs-gate")
        .toString + "/plate.zarr"
      Hcs.toHcsZarr(storeDir, plate)
      val store = Hcs.openStore(storeDir)
      wells.foreach { case (nkey, _, _, p) =>
        store.writeString(s"${p.split("/").head}/.zgroup", ZarrJson.pretty(ZarrJson.groupDoc(2)))
        store.writeString(s"$p/.zgroup", ZarrJson.pretty(ZarrJson.groupDoc(2)))
        store.writeString(s"$p/.zattrs", Hcs.wellAttrs(Well(Seq(
          WellImage("f0", Some((nkey % 2).toInt)),
          WellImage("f1", Some(((nkey + 1) % 2).toInt))))))
      }
      val hp = Hcs.fromHcsZarr(storeDir)
      val w = hp.wellsDf(s).select(col("path"), col("row_name"), col("column_name"))
      val imgs = hp.imagesDf(s)
      val acq = hp.acquisitionsDf(s)
      imgs.join(w, imgs("well_path") === w("path"))
        .join(acq, col("acquisition") === col("acq_id"))
        .filter(col("acq_id") === 1)
        .select(col("well_path"), col("row_name"), col("column_name"),
          col("image_path"), col("acq_name"), col("max_field_count"))
        .orderBy(col("well_path"), col("image_path"))
    },
    Some("""WITH rws AS (SELECT r_name, r_regionkey,
                    row_number() OVER (ORDER BY r_name) - 1 AS row_idx
                  FROM region),
            n AS (SELECT n_nationkey, n_regionkey,
                    row_number() OVER (PARTITION BY n_regionkey
                      ORDER BY n_nationkey) AS colnum
                  FROM nation),
            wells AS (SELECT rws.r_name AS row_name,
                       CAST(colnum AS VARCHAR) AS column_name,
                       rws.r_name || '/' || CAST(colnum AS VARCHAR) AS well_path,
                       n.n_nationkey
                     FROM n JOIN rws ON n.n_regionkey = rws.r_regionkey),
            imgs AS (SELECT well_path, row_name, column_name,
                       'f' || CAST(f AS VARCHAR) AS image_path,
                       (n_nationkey + f) % 2 AS acq
                     FROM wells, range(2) t(f))
            SELECT well_path, row_name, column_name, image_path,
                   'acq1' AS acq_name, CAST(2 AS BIGINT) AS max_field_count
            FROM imgs WHERE acq = 1
            ORDER BY well_path, image_path"""))

  /** A10/A13 — bin-shrink = mean over aligned 2×2 blocks, integer
    * round-half-up, via the distributed per-chunk kernel.
    */
  val i60BinShrink = Q(
    "i60_binshrink",
    (s, _) => run(s, Method.ItkwasmBinShrink),
    Some(s"""WITH $gridSql
            SELECT y // 2 AS y, x // 2 AS x,
                   floor(sum(v) / 4.0 + 0.5) AS value
            FROM grid GROUP BY y // 2, x // 2
            ORDER BY y, x"""))

  /** A6 — nearest picks v(2y, 2x). */
  val i61Nearest = Q(
    "i61_nearest",
    (s, _) => run(s, Method.DaskImageNearest),
    Some(s"""WITH $gridSql
            SELECT y // 2 AS y, x // 2 AS x, v AS value
            FROM grid WHERE y % 2 = 0 AND x % 2 = 0
            ORDER BY y, x"""))

  /** A7 — mode over the size-2 window CENTERED at (2y,2x) with
    * nearest-boundary clamping (so border windows double-count the
    * edge voxel), ties → smallest value.
    */
  val i62Mode = Q(
    "i62_mode",
    (s, _) => run(s, Method.DaskImageMode),
    Some(s"""WITH $gridSql,
            votes AS (
              SELECT o.i // ${W / 2} AS oy, o.i % ${W / 2} AS ox, g.v
              FROM range(${H * W / 4}) o(i)
              CROSS JOIN (VALUES (-1), (0)) dy(dy)
              CROSS JOIN (VALUES (-1), (0)) dx(dx)
              JOIN grid g
                ON g.y = least(greatest((o.i // ${W / 2}) * 2 + dy.dy, 0), ${H - 1})
               AND g.x = least(greatest((o.i % ${W / 2}) * 2 + dx.dx, 0), ${W - 1})),
            counted AS (
              SELECT oy, ox, v, count(*) AS n FROM votes GROUP BY oy, ox, v),
            ranked AS (
              SELECT oy, ox, v,
                row_number() OVER (PARTITION BY oy, ox ORDER BY n DESC, v ASC) AS rk
              FROM counted)
            SELECT oy AS y, ox AS x, v AS value
            FROM ranked WHERE rk = 1
            ORDER BY y, x"""))

  /** A5/A9/A12 — gaussian downsample via halo exchange. The oracle
    * can't recompute exp() (libm ulps differ across engines), so the
    * JVM's own normalized kernel weights are interpolated into the SQL
    * as round-trip decimal literals, and the separable clamped
    * convolution is replayed tap-by-tap in the same left-to-right
    * accumulation order over ordered per-line lists — bit-identical
    * doubles end to end.
    */
  val i63Gaussian = Q(
    "i63_gaussian",
    (s, _) => run(s, Method.ItkwasmGaussian),
    Some(gaussianOracleSql))

  /** Replays gaussianDownsample(factor 2) for the gate image in SQL:
    * y-blur then x-blur with the same 7-tap kernel, nearest-boundary
    * clamp, sample at (2j, 2i), round half up (uint8).
    */
  private def gaussianOracleSql: String = {
    val sigma = graft.meta.ScalePlanner.computeSigma(Seq(2)).head
    val w = graft.operators.NdKernels.gaussianKernel(sigma, 3)
    // Double.toString round-trips: DuckDB's strtod parses the literal
    // back to the exact same double the JVM kernel multiplies with
    def taps(listCol: String, idx: String, n: Int): String =
      w.indices.map { j =>
        val t = j - 3
        val p = s"least(greatest($idx + ${t}, 0), ${n - 1}) + 1"
        s"${w(j)} * $listCol[$p]"
      }.mkString(" + ")
    s"""WITH $gridSql,
       |coly AS (SELECT x, list(v ORDER BY y) AS vy FROM grid GROUP BY x),
       |by_ AS (SELECT x, ry.y AS y, ${taps("vy", "ry.y", H)} AS b
       |        FROM coly CROSS JOIN range($H) ry(y)),
       |rowx AS (SELECT y, list(b ORDER BY x) AS bx FROM by_ GROUP BY y)
       |SELECT t.j AS y, s.i AS x,
       |       floor(${taps("bx", "2 * s.i", W)} + 0.5) AS value
       |FROM rowx r JOIN range(${H / 2}) t(j) ON r.y = 2 * t.j
       |CROSS JOIN range(${W / 2}) s(i)
       |ORDER BY y, x""".stripMargin
  }

  /** A1+A14 — full pyramid cascade with planner-chosen factors:
    * emits per-level metadata (shape + scale + translation). The
    * oracle replays the planner arithmetic for a 64×64 image with
    * 16-chunks: levels 32×32 (k=2) — then the 2×chunk stop rule ends
    * the cascade.
    */
  val i64Pyramid = Q(
    "i64_pyramid_metadata",
    (s, _) => {
      import s.implicits._
      // 16-chunks here: the A1 planner's stop rule (≤ 2×chunk) is part
      // of what the oracle checks, so this query keeps the grid that
      // yields exactly one extra level for a 64² image
      val meta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(16, 16), "uint8",
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(H * W)(i => ((i / W * 31 + i % W * 17) % 256).toDouble)
      val ds = ChunkOps.fromArray(s, vals, meta)
      val ms = MultiscaleBuilder.toMultiscales(s, MultiscaleBuilder.Level(meta, ds),
        method = Method.ItkwasmBinShrink, cache = false)
      ms.levels.zipWithIndex.map { case (lvl, i) =>
        (i, lvl.meta.shape.head, lvl.meta.shape(1),
          lvl.meta.scale("y"), lvl.meta.scale("x"),
          lvl.meta.translation("y"), lvl.meta.translation("x"))
      }.toDF("level", "shape_y", "shape_x", "scale_y", "scale_x", "tr_y", "tr_x")
        .orderBy(col("level"))
    },
    Some("""SELECT * FROM (VALUES
            (0, CAST(64 AS BIGINT), CAST(64 AS BIGINT), 1.0, 1.0, 0.0, 0.0),
            (1, CAST(32 AS BIGINT), CAST(32 AS BIGINT), 2.0, 2.0, 0.5, 0.5))
            t(level, shape_y, shape_x, scale_y, scale_x, tr_y, tr_x)
            ORDER BY level"""))

  /** Shared oracle CTE prefix for the CCL gates: foreground (v ≥ 128)
    * of the deterministic grid, 4-adjacency edges via two equi-joins,
    * and the component assignment as a recursive transitive-closure
    * min — the relational definition of connectivity the distributed
    * operator must reproduce. Closure size is Σ size² ≈ 440k pairs at
    * this grid; fine for an oracle, and exactly the blow-up the
    * distributed fragment-graph design avoids.
    */
  private val cclSql =
    s"""$gridSql,
       |fg AS (SELECT y, x, y * $W + x AS id, CAST(v AS BIGINT) AS v
       |       FROM grid WHERE v >= 128),
       |adj AS (SELECT a.id AS u, b.id AS w FROM fg a JOIN fg b
       |          ON b.y = a.y AND b.x = a.x + 1
       |        UNION ALL
       |        SELECT a.id, b.id FROM fg a JOIN fg b
       |          ON b.y = a.y + 1 AND b.x = a.x),
       |e AS (SELECT u, w FROM adj UNION ALL SELECT w, u FROM adj),
       |reach(id, lbl) AS (SELECT id, id FROM fg
       |                   UNION
       |                   SELECT e.u, r.lbl FROM e JOIN reach r ON r.id = e.w),
       |comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)""".stripMargin

  /** Distributed connected-component labeling
    * ([[graft.operators.LabelComponents.componentStats2d]]): per-chunk
    * dense-array union-find → boundary-cell equi-joins → fragment
    * graph through the dedup clustering machinery. The mask's 12
    * diagonal-band components all span chunk boundaries on the 2×2
    * grid, so every output row exercises the cross-chunk merge; the
    * oracle derives the same components as a recursive SQL transitive
    * closure. Downstream of the reference's label-image pyramids
    * (`py/ngff_zarr/methods/_support.py` — nearest/mode routing exists
    * to preserve exactly these objects).
    */
  val i74LabelComponents = Q(
    "i74_label_components",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.LabelComponents.componentStats2d(s, ds, meta, threshold = 128.0)
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE $cclSql
            SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS size,
                   CAST(min(f.y) AS BIGINT) AS ymin, CAST(max(f.y) AS BIGINT) AS ymax,
                   CAST(min(f.x) AS BIGINT) AS xmin, CAST(max(f.x) AS BIGINT) AS xmax,
                   CAST(sum(f.v) AS BIGINT) AS vsum
            FROM comp c JOIN fg f ON f.id = c.id
            GROUP BY c.comp ORDER BY comp"""))

  /** Per-voxel component view ([[graft.operators.LabelComponents
    * .componentLabels2d]]) on the rows straddling the y=32 chunk
    * boundary: pins the per-voxel assignment (not just aggregate
    * stats) exactly where local fragments hand over to merged global
    * labels.
    */
  val i75LabelView = Q(
    "i75_label_view",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.LabelComponents.componentLabels2d(s, ds, meta, threshold = 128.0)
        .filter(col("y") >= 30 && col("y") <= 33)
        .orderBy(col("y"), col("x"))
    },
    Some(s"""WITH RECURSIVE $cclSql
            SELECT f.y AS y, f.x AS x, c.comp AS comp
            FROM comp c JOIN fg f ON f.id = c.id
            WHERE f.y BETWEEN 30 AND 33
            ORDER BY y, x"""))

  /** 3D connected components ([[graft.operators.LabelComponents
    * .componentStats3d]]), 6-connectivity over a 16³ volume on a 2×2×2
    * chunk grid — every face-pair of chunks hands fragments over. The
    * deterministic mask (29z+31y+17x mod 256 ≥ 128) yields 5
    * components including a 790-voxel band threading all 8 chunks and
    * a single-voxel corner; the oracle is the same recursive
    * transitive-closure min in three dimensions.
    */
  val i76LabelComponents3d = Q(
    "i76_label_components_3d",
    (s, _) => {
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(16, 16, 16), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(16 * 16 * 16) { i =>
        ((i / 256 * 29 + (i / 16 % 16) * 31 + (i % 16) * 17) % 256).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      graft.operators.LabelComponents.componentStats3d(s, ds, meta, threshold = 128.0)
        .orderBy(col("comp"))
    },
    Some("""WITH RECURSIVE
            grid3 AS (SELECT i // 256 AS z, (i // 16) % 16 AS y, i % 16 AS x,
              CAST(((i // 256) * 29 + ((i // 16) % 16) * 31 + (i % 16) * 17) % 256
                AS DOUBLE) AS v
              FROM range(4096) r(i)),
            fg AS (SELECT z, y, x, z * 256 + y * 16 + x AS id,
                     CAST(v AS BIGINT) AS v
                   FROM grid3 WHERE v >= 128),
            adj AS (SELECT a.id AS u, b.id AS w FROM fg a JOIN fg b
                      ON b.z = a.z AND b.y = a.y AND b.x = a.x + 1
                    UNION ALL
                    SELECT a.id, b.id FROM fg a JOIN fg b
                      ON b.z = a.z AND b.y = a.y + 1 AND b.x = a.x
                    UNION ALL
                    SELECT a.id, b.id FROM fg a JOIN fg b
                      ON b.z = a.z + 1 AND b.y = a.y AND b.x = a.x),
            e AS (SELECT u, w FROM adj UNION ALL SELECT w, u FROM adj),
            reach(id, lbl) AS (SELECT id, id FROM fg
                               UNION
                               SELECT e.u, r.lbl FROM e JOIN reach r ON r.id = e.w),
            comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
            SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS size,
                   CAST(min(f.z) AS BIGINT) AS zmin, CAST(max(f.z) AS BIGINT) AS zmax,
                   CAST(min(f.y) AS BIGINT) AS ymin, CAST(max(f.y) AS BIGINT) AS ymax,
                   CAST(min(f.x) AS BIGINT) AS xmin, CAST(max(f.x) AS BIGINT) AS xmax,
                   CAST(sum(f.v) AS BIGINT) AS vsum
            FROM comp c JOIN fg f ON f.id = c.id
            GROUP BY c.comp ORDER BY comp"""))

  /** Percentile intensity normalization ([[graft.operators
    * .IntensityNorm.normalizeMilli]]): exact p10/p990-milli clip +
    * integer milli rescale via the value-domain histogram (never a
    * volume sort). Gate output is the 11-bucket histogram of the
    * normalized volume plus exact milli sums; the oracle replays the
    * cumulative-histogram rank walk and the floor-division rescale,
    * so an off-by-one in either percentile shifts bucket populations
    * and hash-mismatches.
    */
  val i77PercentileNorm = Q(
    "i77_percentile_norm",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (_, _, normed, outMeta) =
        graft.operators.IntensityNorm.normalizeMilli(s, ds, meta, 10L, 990L)
      ChunkOps.voxelView(s, normed, outMeta)
        .select(expr("CAST(value AS BIGINT) AS m"))
        .groupBy(expr("m div 100").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("m")).as("sum_milli"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH $gridSql,
            g AS (SELECT CAST(v AS BIGINT) AS v FROM grid),
            hist AS (SELECT v, count(*) AS n FROM g GROUP BY v),
            cum AS (SELECT v, sum(n) OVER (ORDER BY v) AS c FROM hist),
            params AS (SELECT
              (SELECT min(v) FROM cum WHERE c >= (${H * W} * 10 + 999) // 1000) AS lo,
              (SELECT min(v) FROM cum WHERE c >= (${H * W} * 990 + 999) // 1000) AS hi),
            norm AS (SELECT CASE WHEN hi = lo THEN 0
                            ELSE (least(greatest(v, lo), hi) - lo) * 1000 // (hi - lo)
                            END AS m
                     FROM g CROSS JOIN params)
            SELECT m // 100 AS bucket, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(m) AS BIGINT) AS sum_milli
            FROM norm GROUP BY 1 ORDER BY 1"""))

  /** Otsu threshold selection ([[graft.operators.IntensityNorm
    * .otsuTable]]): the auto-binarization step ahead of the CCL
    * surface (i74–i76). Between-class variance scored in EXACT
    * integer milli — the classical diff²·1000 div (n0·n1·N²) form
    * with BigInt/HUGEINT intermediates (the N² normalizer keeps the
    * score Long-safe at any volume size), ties to the smallest
    * threshold — so the argmax is
    * bit-identical on both engines, never a float variance race. The
    * gate emits the top-5 scored thresholds; the oracle replays the
    * cumulative-histogram candidate walk.
    */
  val i78OtsuThreshold = Q(
    "i78_otsu_threshold",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.IntensityNorm.otsuTable(s, ds, meta)
        .orderBy(col("score_milli").desc, col("t").asc).limit(5)
    },
    Some(s"""WITH $gridSql,
            g AS (SELECT CAST(v AS BIGINT) AS v FROM grid),
            tot AS (SELECT count(*) AS n, sum(v) AS s FROM g),
            hist AS (SELECT v, count(*) AS n, sum(v) AS s FROM g GROUP BY v),
            cum AS (SELECT v, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS n0,
                           CAST(sum(s) OVER (ORDER BY v) AS BIGINT) AS s0
                    FROM hist),
            cand AS (SELECT v + 1 AS t, n0,
                            CAST((SELECT n FROM tot) - n0 AS BIGINT) AS n1, s0,
                            CAST((SELECT s FROM tot) - s0 AS BIGINT) AS s1
                     FROM cum)
            SELECT t, n0, n1, s0, s1,
                   CAST(CAST(s0 * n1 - s1 * n0 AS HUGEINT)
                        * (s0 * n1 - s1 * n0) * 1000
                        // (CAST(n0 AS HUGEINT) * n1
                            * (SELECT n FROM tot) * (SELECT n FROM tot))
                     AS BIGINT) AS score_milli
            FROM cand WHERE n1 > 0
            ORDER BY score_milli DESC, t LIMIT 5"""))

  /** Morphological erosion + dilation ([[graft.operators.Downsample
    * .morphology]]), 3×3 box: the min/max stencils run through the
    * SAME pinned halo-exchange as the gaussian cascade (one volume
    * shuffle, halo strips only), with the neighborhood∩image border
    * rule. Both transforms over the 2×2-chunk base image, pinned per
    * row by value sum AND a position-weighted checksum; the oracle
    * computes each neighborhood min/max relationally.
    */
  val i79Morphology = Q(
    "i79_morphology",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (em, ero) = graft.operators.Downsample.morphology(s, ds, meta,
        Array(1, 1), dilate = false)
      val (dm, dil) = graft.operators.Downsample.morphology(s, ds, meta,
        Array(1, 1), dilate = true)
      val eAgg = ChunkOps.voxelView(s, ero, em)
        .groupBy(col("y")).agg(
          expr("CAST(sum(value) AS BIGINT)").as("ero_sum"),
          expr("CAST(sum(value * (x + 1)) AS BIGINT)").as("ero_check"))
      val dAgg = ChunkOps.voxelView(s, dil, dm)
        .groupBy(col("y")).agg(
          expr("CAST(sum(value) AS BIGINT)").as("dil_sum"),
          expr("CAST(sum(value * (x + 1)) AS BIGINT)").as("dil_check"))
      eAgg.join(dAgg, "y").orderBy(col("y"))
    },
    Some(s"""WITH $gridSql,
            ero AS (SELECT g.y, g.x, min(n.v) AS v
                    FROM grid g JOIN grid n
                      ON n.y BETWEEN g.y - 1 AND g.y + 1
                     AND n.x BETWEEN g.x - 1 AND g.x + 1
                    GROUP BY g.y, g.x),
            dil AS (SELECT g.y, g.x, max(n.v) AS v
                    FROM grid g JOIN grid n
                      ON n.y BETWEEN g.y - 1 AND g.y + 1
                     AND n.x BETWEEN g.x - 1 AND g.x + 1
                    GROUP BY g.y, g.x),
            ea AS (SELECT y, CAST(sum(v) AS BIGINT) AS ero_sum,
                          CAST(sum(v * (x + 1)) AS BIGINT) AS ero_check
                   FROM ero GROUP BY y),
            da AS (SELECT y, CAST(sum(v) AS BIGINT) AS dil_sum,
                          CAST(sum(v * (x + 1)) AS BIGINT) AS dil_check
                   FROM dil GROUP BY y)
            SELECT ea.y AS y, ero_sum, ero_check, dil_sum, dil_check
            FROM ea JOIN da ON ea.y = da.y
            ORDER BY y"""))

  /** 3D erosion (3×3×3 box) over the same 16³ / 2×2×2-chunk volume as
    * the CCL gate — the n-dimensional stencil path with halo strips
    * crossing all three axis faces (plus edges/corners) at once.
    * Per-slab aggregates pin every voxel positionally.
    */
  val i80Morphology3d = Q(
    "i80_morphology_3d",
    (s, _) => {
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(16, 16, 16), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(16 * 16 * 16) { i =>
        ((i / 256 * 29 + (i / 16 % 16) * 31 + (i % 16) * 17) % 256).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      val (em, ero) = graft.operators.Downsample.morphology(s, ds, meta,
        Array(1, 1, 1), dilate = false)
      ChunkOps.voxelView(s, ero, em)
        .groupBy(col("z")).agg(
          expr("CAST(sum(value) AS BIGINT)").as("ero_sum"),
          expr("CAST(sum(value * (y * 16 + x + 1)) AS BIGINT)").as("ero_check"))
        .orderBy(col("z"))
    },
    Some("""WITH grid3 AS (SELECT i // 256 AS z, (i // 16) % 16 AS y, i % 16 AS x,
              CAST(((i // 256) * 29 + ((i // 16) % 16) * 31 + (i % 16) * 17) % 256
                AS DOUBLE) AS v
              FROM range(4096) r(i)),
            ero AS (SELECT g.z, g.y, g.x, min(n.v) AS v
                    FROM grid3 g JOIN grid3 n
                      ON n.z BETWEEN g.z - 1 AND g.z + 1
                     AND n.y BETWEEN g.y - 1 AND g.y + 1
                     AND n.x BETWEEN g.x - 1 AND g.x + 1
                    GROUP BY g.z, g.y, g.x)
            SELECT z, CAST(sum(v) AS BIGINT) AS ero_sum,
                   CAST(sum(v * (y * 16 + x + 1)) AS BIGINT) AS ero_check
            FROM ero GROUP BY z ORDER BY z"""))

  /** A1+A14 in THREE dimensions — the planner cascade over a 32³ /
    * 8³-chunk volume: one bin-shrink level to 16³ (scale 2.0,
    * translation 0.5 per axis), then the ≤ 2×chunk stop rule ends
    * the cascade. Pins that the scale/translation arithmetic and the
    * stop rule are per-dimension, not 2D-specialized.
    */
  val i81Pyramid3dMetadata = Q(
    "i81_pyramid3d_metadata",
    (s, _) => {
      import s.implicits._
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(32, 32, 32), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(32 * 32 * 32)(i => ((i * 31) % 256).toDouble)
      val ds = ChunkOps.fromArray(s, vals, meta)
      val ms = MultiscaleBuilder.toMultiscales(s, MultiscaleBuilder.Level(meta, ds),
        method = Method.ItkwasmBinShrink, cache = false)
      ms.levels.zipWithIndex.map { case (lvl, i) =>
        (i, lvl.meta.shape.head, lvl.meta.shape(1), lvl.meta.shape(2),
          lvl.meta.scale("z"), lvl.meta.scale("y"), lvl.meta.scale("x"),
          lvl.meta.translation("z"), lvl.meta.translation("x"))
      }.toDF("level", "shape_z", "shape_y", "shape_x",
          "scale_z", "scale_y", "scale_x", "tr_z", "tr_x")
        .orderBy(col("level"))
    },
    Some("""SELECT * FROM (VALUES
            (0, CAST(32 AS BIGINT), CAST(32 AS BIGINT), CAST(32 AS BIGINT),
             1.0, 1.0, 1.0, 0.0, 0.0),
            (1, CAST(16 AS BIGINT), CAST(16 AS BIGINT), CAST(16 AS BIGINT),
             2.0, 2.0, 2.0, 0.5, 0.5))
            t(level, shape_z, shape_y, shape_x, scale_z, scale_y, scale_x, tr_z, tr_x)
            ORDER BY level"""))

  /** Nearest-neighbor upsample ([[graft.operators.Downsample
    * .upsampleNearest]]) ×2 — the low-res-mask-to-full-resolution
    * projection, perfectly chunk-local (ZERO shuffles at any volume;
    * the gate's only exchange is its ORDER BY). Per-row aggregates
    * over the 128×128 result pin every voxel positionally against the
    * closed form v(y÷2, x÷2).
    */
  val i82UpsampleNearest = Q(
    "i82_upsample_nearest",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (om, up) = graft.operators.Downsample.upsampleNearest(s, ds, meta,
        Map("y" -> 2, "x" -> 2))
      ChunkOps.voxelView(s, up, om)
        .groupBy(col("y")).agg(
          expr("CAST(sum(value) AS BIGINT)").as("up_sum"),
          expr("CAST(sum(value * (x + 1)) AS BIGINT)").as("up_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH ups AS (SELECT i // ${2 * W} AS y, i % ${2 * W} AS x,
              CAST((((i // ${2 * W}) // 2) * 31 + ((i % ${2 * W}) // 2) * 17) % 256
                AS DOUBLE) AS v
              FROM range(${4 * H * W}) r(i))
            SELECT y, CAST(sum(v) AS BIGINT) AS up_sum,
                   CAST(sum(v * (x + 1)) AS BIGINT) AS up_check
            FROM ups GROUP BY y ORDER BY y"""))

  /** S10 — 2-D image-series glob ingestion ([[graft.operators
    * .Image2dIO.readSeries]]): six PNG slices written at runtime,
    * stacked to a (z, y, x) volume through the glob → sorted →
    * distributed file-per-slice decode path — the reference's
    * lung_series PNG-glob shape (`cli_input_to_ngff_image.py:50-57`,
    * default dims `to_ngff_image.py:61-68`). Per-slice sums plus a
    * position-weighted checksum, with the stack geometry as columns;
    * a mis-sorted glob, a dropped slice, or a transposed axis
    * hash-mismatches against the closed-form oracle.
    */
  val i83ImageSeries = Q(
    "i83_image_series",
    (s, _) => {
      val (w, h, nz) = (12, 10, 6)
      // applicationId-keyed path: bench re-runs overwrite in place
      val dir = java.nio.file.Paths.get(QTables.appTmp(s, "i83"))
      java.nio.file.Files.createDirectories(dir)
      (0 until nz).foreach { z =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, (x * 3 + y * 7 + z * 31) % 256)
            x += 1
          }
          y += 1
        }
        val os = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", os)
        java.nio.file.Files.write(dir.resolve(f"slice_$z%02d.png"), os.toByteArray)
      }
      val img = graft.operators.Image2dIO.readSeries(s, Seq(s"$dir/*.png"))
      ChunkOps.voxelView(s, img.chunks, img.meta)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("slab_sum"),
          sum(col("value") * (col("y") * 37 + col("x") * 11))
            .cast("bigint").as("slab_wsum"))
        .withColumn("n_z", lit(img.meta.shape(0)))
        .withColumn("n_y", lit(img.meta.shape(1)))
        .withColumn("n_x", lit(img.meta.shape(2)))
        .orderBy(col("z"))
    },
    Some("""WITH vox AS (
              SELECT i % 12 AS x, (i // 12) % 10 AS y, i // 120 AS z,
                     CAST(((i % 12) * 3 + ((i // 12) % 10) * 7
                           + (i // 120) * 31) % 256 AS DOUBLE) AS v
              FROM range(720) r(i))
            SELECT z, CAST(sum(v) AS BIGINT) AS slab_sum,
                   CAST(sum(v * (y * 37 + x * 11)) AS BIGINT) AS slab_wsum,
                   CAST(6 AS BIGINT) AS n_z, CAST(10 AS BIGINT) AS n_y,
                   CAST(12 AS BIGINT) AS n_x
            FROM vox GROUP BY z ORDER BY z"""))

  /** Exact squared Euclidean distance transform
    * ([[graft.operators.DistanceTransform.squaredEdt]]) of the
    * v > 250 mask — the separable Felzenszwalb two-phase transform:
    * TWO exchanges (rows, then columns) and exact Long arithmetic at
    * any image size, where an iterative chamfer/jump-flood stencil
    * would need diameter-many halo rounds. The oracle is the
    * brute-force min over all foreground pixels — bit-identical by
    * construction, so a single wrong envelope breakpoint anywhere
    * hash-mismatches through the positional checksum.
    */
  val i84DistanceTransform = Q(
    "i84_distance_transform",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.DistanceTransform.squaredEdt(s, ds, meta, threshold = 250.0)
        .groupBy(col("y"))
        .agg(sum(col("fg")).cast("bigint").as("n_fg"),
          sum(col("dist_sq")).cast("bigint").as("sum_dsq"),
          max(col("dist_sq")).cast("bigint").as("max_dsq"),
          sum(col("dist_sq") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH $gridSql,
            fg AS (SELECT y, x FROM grid WHERE v > 250),
            d AS (SELECT g.y, g.x, CAST(g.v > 250 AS INT) AS isfg,
                    min((g.y - f.y) * (g.y - f.y)
                        + (g.x - f.x) * (g.x - f.x)) AS dsq
                  FROM grid g CROSS JOIN fg f GROUP BY g.y, g.x, g.v)
            SELECT y, CAST(sum(isfg) AS BIGINT) AS n_fg,
                   CAST(sum(dsq) AS BIGINT) AS sum_dsq,
                   CAST(max(dsq) AS BIGINT) AS max_dsq,
                   CAST(sum(dsq * (x + 1)) AS BIGINT) AS pos_check
            FROM d GROUP BY y ORDER BY y"""))

  /** Per-component geometric moments ([[graft.operators
    * .LabelComponents.componentMoments2d]]) — the regionprops tier
    * over the same cross-chunk components as i74: size, first/second
    * RAW moments (exact BIGINTs — consumers derive central moments
    * and orientation without re-touching voxels) and micro-unit
    * centroids by floor division. The oracle reuses the recursive-CTE
    * component closure and replays every moment sum.
    */
  val i85RegionMoments = Q(
    "i85_region_moments",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.LabelComponents.componentMoments2d(s, ds, meta, threshold = 128.0)
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE $cclSql
            SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS size,
                   CAST(sum(f.y) AS BIGINT) AS sum_y,
                   CAST(sum(f.x) AS BIGINT) AS sum_x,
                   CAST(sum(f.y * f.y) AS BIGINT) AS sum_yy,
                   CAST(sum(f.x * f.x) AS BIGINT) AS sum_xx,
                   CAST(sum(f.y * f.x) AS BIGINT) AS sum_yx,
                   CAST(sum(f.y) * 1000000 // count(*) AS BIGINT) AS cy_micro,
                   CAST(sum(f.x) * 1000000 // count(*) AS BIGINT) AS cx_micro
            FROM comp c JOIN fg f ON f.id = c.id
            GROUP BY c.comp ORDER BY comp"""))

  /** Grid-bucketed bounding-box IoU join
    * ([[graft.operators.BboxJoin.iouPairs]]): components labeled at
    * two thresholds (128 vs 200 — the strict mask nests inside the
    * loose one) matched by box overlap with exact micro IoU. The
    * equi-join on coarse grid cells replaces the nested-loop
    * inequality join; the reference-point rule dedupes pairs without
    * a distinct. The oracle runs BOTH recursive-CTE closures and
    * replays the overlap join and IoU arithmetic directly.
    */
  val i89BboxIou = Q(
    "i89_bbox_iou",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      def box(thr: Double) =
        graft.operators.LabelComponents.componentStats2d(s, ds, meta, thr)
          .select(col("comp"), col("ymin"), col("ymax"), col("xmin"), col("xmax"))
      graft.operators.BboxJoin.iouPairs(box(128.0), box(200.0), cell = 16L)
        .orderBy(col("comp_a"), col("comp_b"))
    },
    Some {
      def ccl(p: String, thr: Int) =
        s"""${p}fg AS (SELECT y, x, y * $W + x AS id FROM grid WHERE v >= $thr),
           |${p}adj AS (SELECT a.id AS u, b.id AS w FROM ${p}fg a JOIN ${p}fg b
           |              ON b.y = a.y AND b.x = a.x + 1
           |            UNION ALL
           |            SELECT a.id, b.id FROM ${p}fg a JOIN ${p}fg b
           |              ON b.y = a.y + 1 AND b.x = a.x),
           |${p}e AS (SELECT u, w FROM ${p}adj UNION ALL SELECT w, u FROM ${p}adj),
           |${p}reach(id, lbl) AS (SELECT id, id FROM ${p}fg
           |                       UNION
           |                       SELECT e.u, r.lbl FROM ${p}e e JOIN ${p}reach r ON r.id = e.w),
           |${p}comp AS (SELECT id, min(lbl) AS comp FROM ${p}reach GROUP BY id),
           |${p}box AS (SELECT c.comp, min(f.y) AS ymin, max(f.y) AS ymax,
           |              min(f.x) AS xmin, max(f.x) AS xmax
           |            FROM ${p}comp c JOIN ${p}fg f ON f.id = c.id GROUP BY c.comp)"""
          .stripMargin
      s"""WITH RECURSIVE $gridSql,
         |${ccl("a", 128)},
         |${ccl("b", 200)},
         |pairs AS (SELECT a.comp AS comp_a, b.comp AS comp_b,
         |            (least(a.ymax, b.ymax) - greatest(a.ymin, b.ymin) + 1)
         |              * (least(a.xmax, b.xmax) - greatest(a.xmin, b.xmin) + 1) AS inter_area,
         |            (a.ymax - a.ymin + 1) * (a.xmax - a.xmin + 1) AS area_a,
         |            (b.ymax - b.ymin + 1) * (b.xmax - b.xmin + 1) AS area_b
         |          FROM abox a JOIN bbox b
         |            ON a.ymin <= b.ymax AND b.ymin <= a.ymax
         |           AND a.xmin <= b.xmax AND b.xmin <= a.xmax)
         |SELECT comp_a, comp_b, CAST(inter_area AS BIGINT) AS inter_area,
         |       CAST(inter_area * 1000000 // (area_a + area_b - inter_area)
         |         AS BIGINT) AS iou_micro
         |FROM pairs ORDER BY comp_a, comp_b""".stripMargin
    })

  /** Per-component 4-connectivity perimeter
    * ([[graft.operators.LabelComponents.componentPerimeter2d]]) —
    * regionprops' boundary measure via the exact identity
    * perimeter = 4·size − 2·adjacencies, so the pair count rides the
    * same fragment→component resolution as size and voxels never
    * shuffle. The oracle replays the identity over the recursive-CTE
    * closure's own adjacency list.
    */
  val i87ComponentPerimeter = Q(
    "i87_component_perimeter",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.LabelComponents.componentPerimeter2d(s, ds, meta, threshold = 128.0)
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE $cclSql,
            sz AS (SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS size
                   FROM comp c GROUP BY c.comp),
            ac AS (SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS na
                   FROM adj a JOIN comp c ON c.id = a.u GROUP BY c.comp)
            SELECT s.comp, s.size,
                   CAST(4 * s.size - 2 * coalesce(ac.na, 0) AS BIGINT) AS perimeter
            FROM sz s LEFT JOIN ac ON ac.comp = s.comp ORDER BY s.comp"""))

  /** Global histogram equalization
    * ([[graft.operators.IntensityNorm.histEqualize]]) on a SKEWED
    * image (v = ((31y+17x) mod 256)² / 256 — the base grid's uniform
    * histogram would make equalization the identity): one bounded
    * histogram aggregation builds the CDF remap driver-side, the
    * remap pass is chunk-local broadcast. The oracle replays the
    * histogram, running CDF and floor remap relationally.
    */
  val i88HistEqualize = Q(
    "i88_hist_equalize",
    (s, _) => {
      val meta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(32, 32), "uint8",
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(H * W) { i =>
        val v = (i / W * 31 + i % W * 17) % 256
        (v * v / 256).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      val (eq, om) = graft.operators.IntensityNorm.histEqualize(s, ds, meta)
      ChunkOps.voxelView(s, eq, om)
        .groupBy(col("y"))
        .agg(sum(col("value")).cast("bigint").as("sum_eq"),
          max(col("value")).cast("bigint").as("max_eq"),
          sum(col("value") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH p AS (SELECT i // $W AS y, i % $W AS x,
                   (((31*(i//$W)+17*(i%$W))%256) * ((31*(i//$W)+17*(i%$W))%256)) // 256 AS v
                 FROM range(${H * W}) r(i)),
            h AS (SELECT v, count(*) AS n FROM p GROUP BY v),
            c AS (SELECT v, sum(n) OVER (ORDER BY v) AS cdf FROM h),
            m AS (SELECT v, (cdf - (SELECT min(cdf) FROM c)) * 255
                     // (${H * W} - (SELECT min(cdf) FROM c)) AS eq
                  FROM c)
            SELECT y, CAST(sum(eq) AS BIGINT) AS sum_eq,
                   CAST(max(eq) AS BIGINT) AS max_eq,
                   CAST(sum(eq * (x + 1)) AS BIGINT) AS pos_check
            FROM p JOIN m USING (v) GROUP BY y ORDER BY y"""))

  /** 3×3 median denoise ([[graft.operators.Downsample.medianFilter]])
    * through the REAL halo-exchanged chunk path — the mod-256 wrap
    * lines in the base grid make every neighborhood near them
    * non-monotone, so the median is a genuine order statistic there,
    * not the center. True borders pass through unchanged. The oracle
    * computes each pixel's 9-neighborhood median relationally (9
    * values → DuckDB median is the exact middle element); a
    * misplaced halo strip or a border-policy drift hash-mismatches.
    */
  val i90MedianFilter = Q(
    "i90_median_filter",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (om, ods) = graft.operators.Downsample.medianFilter(s, ds, meta)
      ChunkOps.voxelView(s, ods, om)
        .groupBy(col("y"))
        .agg(sum(col("value")).cast("bigint").as("sum_med"),
          max(col("value")).cast("bigint").as("max_med"),
          sum(col("value") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH $gridSql,
            n AS (SELECT g.y AS y, g.x AS x, median(ng.v) AS mv
                  FROM grid g JOIN grid ng
                    ON ng.y BETWEEN g.y - 1 AND g.y + 1
                   AND ng.x BETWEEN g.x - 1 AND g.x + 1
                  WHERE g.y > 0 AND g.y < ${H - 1} AND g.x > 0 AND g.x < ${W - 1}
                  GROUP BY g.y, g.x),
            o AS (SELECT g.y, g.x, coalesce(n.mv, g.v) AS m
                  FROM grid g LEFT JOIN n ON n.y = g.y AND n.x = g.x)
            SELECT y, CAST(sum(m) AS BIGINT) AS sum_med,
                   CAST(max(m) AS BIGINT) AS max_med,
                   CAST(sum(m * (x + 1)) AS BIGINT) AS pos_check
            FROM o GROUP BY y ORDER BY y"""))

  /** Binary hole filling ([[graft.operators.LabelComponents
    * .fillHoles2d]]) on a 3×3 grid of square rings whose middle
    * row/column straddles the chunk boundaries — each ring's 10×10
    * hole is a background component the complement-CCL must keep
    * separate from the border-connected outside across chunk faces.
    * The oracle is the independent definition: a recursive flood
    * fill seeded at the border background cells; fill = foreground ∪
    * (background ∖ reached). A leaked hole, a filled outside, or a
    * missed cross-chunk merge all change the per-row counts.
    */
  val i91FillHoles = Q(
    "i91_fill_holes",
    (s, _) => {
      val (meta, ds) = ringImage(s)
      graft.operators.LabelComponents.fillHoles2d(s, ds, meta, threshold = 128.0)
        .groupBy(col("y"))
        .agg(count(lit(1)).cast("bigint").as("n_fill"),
          sum(col("x") + 1).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH RECURSIVE
            g AS (SELECT i // $W AS y, i % $W AS x, $ringVSql AS v
                  FROM range(${H * W}) r(i)),
            bg AS (SELECT y, x, y * $W + x AS id FROM g WHERE v < 128),
            adj AS (SELECT a.id AS u, b.id AS w FROM bg a JOIN bg b
                      ON b.y = a.y AND b.x = a.x + 1
                    UNION ALL
                    SELECT a.id, b.id FROM bg a JOIN bg b
                      ON b.y = a.y + 1 AND b.x = a.x),
            e AS (SELECT u, w FROM adj UNION ALL SELECT w, u FROM adj),
            reach(id) AS (SELECT id FROM bg
                          WHERE y = 0 OR y = ${H - 1} OR x = 0 OR x = ${W - 1}
                          UNION
                          SELECT e.w FROM e JOIN reach r ON r.id = e.u),
            filled AS (SELECT y, x FROM g WHERE v >= 128
                       UNION ALL
                       SELECT b.y, b.x FROM bg b
                       WHERE b.id NOT IN (SELECT id FROM reach))
            SELECT y, CAST(count(*) AS BIGINT) AS n_fill,
                   CAST(sum(x + 1) AS BIGINT) AS pos_check
            FROM filled GROUP BY y ORDER BY y"""))

  /** Area opening ([[graft.operators.LabelComponents.areaOpen2d]],
    * `remove_small_objects` semantics): the base mask's 12 diagonal
    * bands range 10–264 voxels, so minSize = 150 drops exactly the
    * five small ones — the survivors' sizes AND per-voxel positional
    * checksums must match the closure-derived components, proving
    * the size filter keyed the RESOLVED labels (a fragment-level
    * size would drop every band, since all 12 straddle chunks).
    */
  val i92AreaOpen = Q(
    "i92_area_open",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      graft.operators.LabelComponents.areaOpen2d(s, ds, meta,
          threshold = 128.0, minSize = 150L)
        .groupBy(col("comp"))
        .agg(count(lit(1)).cast("bigint").as("size"),
          sum(col("y") * W + col("x")).cast("bigint").as("pos_check"))
        .orderBy(col("comp"))
    },
    Some(s"""WITH RECURSIVE $cclSql
            SELECT c.comp AS comp, CAST(count(*) AS BIGINT) AS size,
                   CAST(sum(f.y * $W + f.x) AS BIGINT) AS pos_check
            FROM comp c JOIN fg f ON f.id = c.id
            GROUP BY c.comp HAVING count(*) >= 150 ORDER BY comp"""))

  /** Adaptive local-mean threshold ([[graft.operators.Downsample
    * .adaptiveThreshold]], 5×5 window) through the REAL 2-halo
    * exchange — the wrap lines make foreground/background flip mid-
    * image, so the mask is structured, and the r=2 halo exercises a
    * wider strip than the 1-halo kernels. The oracle recomputes every
    * pixel's clipped-window count and sum relationally and replays
    * the exact (v+c)·n > s integer compare — a float mean, a wrong
    * clip, or a misplaced halo strip all shift per-row counts.
    */
  val i93AdaptiveThreshold = Q(
    "i93_adaptive_threshold",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (om, ods) = graft.operators.Downsample.adaptiveThreshold(s, ds, meta, radius = 2)
      ChunkOps.voxelView(s, ods, om)
        .groupBy(col("y"))
        .agg(sum(col("value")).cast("bigint").as("n_fg"),
          sum(col("value") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH $gridSql,
            w AS (SELECT g.y AS y, g.x AS x, g.v AS v,
                    count(*) AS n, CAST(sum(ng.v) AS BIGINT) AS s
                  FROM grid g JOIN grid ng
                    ON ng.y BETWEEN g.y - 2 AND g.y + 2
                   AND ng.x BETWEEN g.x - 2 AND g.x + 2
                  GROUP BY g.y, g.x, g.v),
            m AS (SELECT y, x,
                    CASE WHEN CAST(v AS BIGINT) * n > s THEN 1 ELSE 0 END AS fg
                  FROM w)
            SELECT y, CAST(sum(fg) AS BIGINT) AS n_fg,
                   CAST(sum(fg * (x + 1)) AS BIGINT) AS pos_check
            FROM m GROUP BY y ORDER BY y"""))

  /** Histogram matching ([[graft.operators.IntensityNorm
    * .matchHistogram]]): the base grid's intensities harmonized to a
    * 48×48 reference volume with a genuinely skewed distribution
    * (y²-driven), so the quantile mapping is far from identity. The
    * oracle rebuilds both CDFs relationally and replays the exact
    * cross-multiplied integer inequality (min r with
    * cum_ref(r)·N_src ≥ cum_src(v)·N_ref) — a float quantile, an
    * off-by-one in either CDF, or a ≥/> drift all move the mapped
    * values.
    */
  val i94HistMatch = Q(
    "i94_hist_match",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val refMeta = ImageMeta(Seq("y", "x"), Seq(48, 48), Seq(24, 24), "uint8",
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val refVals = Array.tabulate(48 * 48)(i =>
        (((i / 48) * (i / 48) * 5 + (i % 48) * 11) % 256).toDouble)
      val refDs = ChunkOps.fromArray(s, refVals, refMeta)
      val (ods, om) = graft.operators.IntensityNorm.matchHistogram(
        s, ds, meta, refDs, refMeta)
      ChunkOps.voxelView(s, ods, om)
        .groupBy(col("y"))
        .agg(sum(col("value")).cast("bigint").as("sum_m"),
          max(col("value")).cast("bigint").as("max_m"),
          sum(col("value") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH $gridSql,
            rg AS (SELECT CAST(((i // 48) * (i // 48) * 5 + (i % 48) * 11) % 256
                     AS BIGINT) AS v
                   FROM range(2304) r(i)),
            hs AS (SELECT CAST(v AS BIGINT) AS v, count(*) AS n FROM grid GROUP BY 1),
            hr AS (SELECT v, count(*) AS n FROM rg GROUP BY 1),
            cs AS (SELECT v, sum(n) OVER (ORDER BY v) AS cum FROM hs),
            cr AS (SELECT v, sum(n) OVER (ORDER BY v) AS cum FROM hr),
            tot AS (SELECT (SELECT sum(cast(n AS BIGINT)) FROM hs) AS ns,
                           (SELECT sum(cast(n AS BIGINT)) FROM hr) AS nr),
            map AS (SELECT s.v AS sv, min(r.v) AS mv
                    FROM cs s CROSS JOIN tot t JOIN cr r
                      ON r.cum * t.ns >= s.cum * t.nr
                    GROUP BY s.v),
            o AS (SELECT g.y, g.x, m.mv FROM grid g
                  JOIN map m ON m.sv = CAST(g.v AS BIGINT))
            SELECT y, CAST(sum(mv) AS BIGINT) AS sum_m,
                   CAST(max(mv) AS BIGINT) AS max_m,
                   CAST(sum(mv * (x + 1)) AS BIGINT) AS pos_check
            FROM o GROUP BY y ORDER BY y"""))

  /** 3D hole filling ([[graft.operators.LabelComponents.fillHoles3d]],
    * 6-connectivity) on a 24³ volume holding TWO cube shells that
    * straddle the 8³ chunk grid: a closed one whose 6³ cavity must
    * fill, and one with a single wall voxel punched out — its cavity
    * leaks to the border through that voxel and must NOT fill (the
    * case a 2D-slice-wise fill gets wrong when the leak is along z).
    * The oracle is the independent 3D border flood fill as a seeded
    * recursive CTE.
    */
  val i95FillHoles3d = Q(
    "i95_fill_holes_3d",
    (s, _) => {
      val n = 24
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(n, n, n), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      def shell(z: Int, y: Int, x: Int, lo: Int, hi: Int): Boolean =
        z >= lo && z <= hi && y >= lo && y <= hi && x >= lo && x <= hi &&
          (z == lo || z == hi || y == lo || y == hi || x == lo || x == hi)
      val vals = Array.tabulate(n * n * n) { i =>
        val z = i / (n * n); val y = (i / n) % n; val x = i % n
        val a = shell(z, y, x, 2, 9)
        val b = shell(z, y, x, 12, 19) && !(z == 12 && y == 15 && x == 15)
        if (a || b) 255.0 else 0.0
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      graft.operators.LabelComponents.fillHoles3d(s, ds, meta, threshold = 128.0)
        .groupBy(col("z"))
        .agg(count(lit(1)).cast("bigint").as("n_fill"),
          sum(col("y") * n + col("x")).cast("bigint").as("pos_check"))
        .orderBy(col("z"))
    },
    Some("""WITH RECURSIVE
            g AS (SELECT i // 576 AS z, (i // 24) % 24 AS y, i % 24 AS x,
                    CASE WHEN ((i // 576 BETWEEN 2 AND 9)
                           AND ((i // 24) % 24 BETWEEN 2 AND 9)
                           AND (i % 24 BETWEEN 2 AND 9)
                           AND (i // 576 IN (2, 9) OR (i // 24) % 24 IN (2, 9)
                                OR i % 24 IN (2, 9)))
                          OR ((i // 576 BETWEEN 12 AND 19)
                           AND ((i // 24) % 24 BETWEEN 12 AND 19)
                           AND (i % 24 BETWEEN 12 AND 19)
                           AND (i // 576 IN (12, 19) OR (i // 24) % 24 IN (12, 19)
                                OR i % 24 IN (12, 19))
                           AND NOT (i // 576 = 12 AND (i // 24) % 24 = 15
                                AND i % 24 = 15))
                         THEN 255.0 ELSE 0.0 END AS v
                  FROM range(13824) r(i)),
            bg AS (SELECT z, y, x, z * 576 + y * 24 + x AS id FROM g WHERE v < 128),
            adj AS (SELECT a.id AS u, b.id AS w FROM bg a JOIN bg b
                      ON b.z = a.z AND b.y = a.y AND b.x = a.x + 1
                    UNION ALL SELECT a.id, b.id FROM bg a JOIN bg b
                      ON b.z = a.z AND b.y = a.y + 1 AND b.x = a.x
                    UNION ALL SELECT a.id, b.id FROM bg a JOIN bg b
                      ON b.z = a.z + 1 AND b.y = a.y AND b.x = a.x),
            e AS (SELECT u, w FROM adj UNION ALL SELECT w, u FROM adj),
            reach(id) AS (SELECT id FROM bg
                          WHERE z IN (0, 23) OR y IN (0, 23) OR x IN (0, 23)
                          UNION
                          SELECT e.w FROM e JOIN reach r ON r.id = e.u),
            filled AS (SELECT z, y, x FROM g WHERE v >= 128
                       UNION ALL
                       SELECT b.z, b.y, b.x FROM bg b
                       WHERE b.id NOT IN (SELECT id FROM reach))
            SELECT z, CAST(count(*) AS BIGINT) AS n_fill,
                   CAST(sum(y * 24 + x) AS BIGINT) AS pos_check
            FROM filled GROUP BY z ORDER BY z"""))

  /** Region adjacency graph ([[graft.operators.RegionGraph
    * .adjacency2d]]) over a labeled 8×8-tile mosaic whose label
    * pattern repeats mod 7 (so some neighboring tiles share a label
    * — no edge) and drops every fifth tile to background (so the
    * bg-exclusion rule is hot); tile borders at y,x = 32 cross the
    * chunk grid, exercising the one-join-per-axis face handover. The
    * oracle recounts every adjacent pixel pair relationally — a
    * double-counted chunk-face pair or a missed crossing shifts
    * n_faces.
    */
  val i96RegionAdjacency = Q(
    "i96_region_adjacency",
    (s, _) => {
      val meta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(32, 32), "uint8",
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(H * W) { i =>
        val ty = i / W / 8; val tx = i % W / 8
        if ((ty + tx) % 5 == 0) 0.0 else ((ty * 3 + tx * 5) % 7 + 1).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      graft.operators.RegionGraph.adjacency2d(s, ds, meta)
        .orderBy(col("va"), col("vb"))
    },
    Some(s"""WITH g AS (SELECT i // $W AS y, i % $W AS x,
                  CASE WHEN ((i // $W // 8) + (i % $W // 8)) % 5 = 0 THEN 0
                       ELSE ((i // $W // 8) * 3 + (i % $W // 8) * 5) % 7 + 1
                  END AS v
                FROM range(${H * W}) r(i)),
            adj AS (SELECT least(a.v, b.v) AS va, greatest(a.v, b.v) AS vb
                    FROM g a JOIN g b ON b.y = a.y AND b.x = a.x + 1
                    WHERE a.v > 0 AND b.v > 0 AND a.v <> b.v
                    UNION ALL
                    SELECT least(a.v, b.v), greatest(a.v, b.v)
                    FROM g a JOIN g b ON b.y = a.y + 1 AND b.x = a.x
                    WHERE a.v > 0 AND b.v > 0 AND a.v <> b.v)
            SELECT CAST(va AS BIGINT) AS va, CAST(vb AS BIGINT) AS vb,
                   CAST(count(*) AS BIGINT) AS n_faces
            FROM adj GROUP BY va, vb ORDER BY va, vb"""))

  /** Per-region intensity statistics ([[graft.operators.RegionGraph
    * .regionIntensityStats]]): the i96 label mosaic as regions, the
    * base deterministic grid as the measurement channel — the
    * regionprops `intensity_image` tier through the REAL two-volume
    * chunk-aligned join (voxels never move to meet their partner).
    * The oracle joins the two closed-form grids relationally; a
    * misaligned chunk pairing corrupts every region's sum at once.
    */
  val i97RegionIntensity = Q(
    "i97_region_intensity",
    (s, _) => {
      val lMeta = ImageMeta(Seq("y", "x"), Seq(H, W), Seq(32, 32), "uint8",
        Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
      val lVals = Array.tabulate(H * W) { i =>
        val ty = i / W / 8; val tx = i % W / 8
        if ((ty + tx) % 5 == 0) 0.0 else ((ty * 3 + tx * 5) % 7 + 1).toDouble
      }
      val (iMeta, iDs) = baseImage(s)
      graft.operators.RegionGraph.regionIntensityStats(s,
          ChunkOps.fromArray(s, lVals, lMeta), lMeta, iDs, iMeta)
        .orderBy(col("label"))
    },
    Some(s"""WITH $gridSql,
            l AS (SELECT i // $W AS y, i % $W AS x,
                    CASE WHEN ((i // $W // 8) + (i % $W // 8)) % 5 = 0 THEN 0
                         ELSE ((i // $W // 8) * 3 + (i % $W // 8) * 5) % 7 + 1
                    END AS lab
                  FROM range(${H * W}) r(i))
            SELECT CAST(l.lab AS BIGINT) AS label,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(g.v) AS BIGINT) AS sum_v,
                   CAST(min(g.v) AS BIGINT) AS min_v,
                   CAST(max(g.v) AS BIGINT) AS max_v
            FROM l JOIN grid g ON g.y = l.y AND g.x = l.x
            WHERE l.lab > 0
            GROUP BY l.lab ORDER BY label"""))

  /** 3D median denoise ([[graft.operators.Downsample.medianFilter]],
    * 27-point window) over the 16³ deterministic volume on a 2×2×2
    * chunk grid — every interior window near a chunk face pulls true
    * neighbors through the 3-D halo exchange; faces of the VOLUME
    * pass through unchanged. The oracle computes each voxel's
    * 27-neighborhood median relationally (odd count → exact middle
    * element).
    */
  val i98MedianFilter3d = Q(
    "i98_median_filter_3d",
    (s, _) => {
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(16, 16, 16), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(16 * 16 * 16) { i =>
        ((i / 256 * 29 + (i / 16 % 16) * 31 + (i % 16) * 17) % 256).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      val (om, ods) = graft.operators.Downsample.medianFilter(s, ds, meta)
      ChunkOps.voxelView(s, ods, om)
        .groupBy(col("z"))
        .agg(sum(col("value")).cast("bigint").as("sum_med"),
          max(col("value")).cast("bigint").as("max_med"),
          sum(col("value") * (col("y") * 16 + col("x") + 1)).cast("bigint")
            .as("pos_check"))
        .orderBy(col("z"))
    },
    Some("""WITH g AS (SELECT i // 256 AS z, (i // 16) % 16 AS y, i % 16 AS x,
                  CAST(((i // 256) * 29 + ((i // 16) % 16) * 31 + (i % 16) * 17) % 256
                    AS DOUBLE) AS v
                FROM range(4096) r(i)),
            m AS (SELECT g.z AS z, g.y AS y, g.x AS x, median(ng.v) AS mv
                  FROM g JOIN g ng
                    ON ng.z BETWEEN g.z - 1 AND g.z + 1
                   AND ng.y BETWEEN g.y - 1 AND g.y + 1
                   AND ng.x BETWEEN g.x - 1 AND g.x + 1
                  WHERE g.z > 0 AND g.z < 15 AND g.y > 0 AND g.y < 15
                    AND g.x > 0 AND g.x < 15
                  GROUP BY g.z, g.y, g.x),
            o AS (SELECT g.z, g.y, g.x, coalesce(m.mv, g.v) AS mv
                  FROM g LEFT JOIN m ON m.z = g.z AND m.y = g.y AND m.x = g.x)
            SELECT z, CAST(sum(mv) AS BIGINT) AS sum_med,
                   CAST(max(mv) AS BIGINT) AS max_med,
                   CAST(sum(mv * (y * 16 + x + 1)) AS BIGINT) AS pos_check
            FROM o GROUP BY z ORDER BY z"""))

  /** 3D region adjacency ([[graft.operators.RegionGraph
    * .adjacency3d]], 6-connectivity) over a 16³ labeled brick mosaic
    * (4³ bricks, labels mod 6 with every 7th brick background) on a
    * 2×2×2 chunk grid — brick faces at z,y,x = 8 are exactly the
    * chunk faces, so all three per-axis handover joins carry label
    * pairs. The oracle recounts all three adjacency directions
    * relationally.
    */
  val i99RegionAdjacency3d = Q(
    "i99_region_adjacency_3d",
    (s, _) => {
      val n = 16
      val meta = ImageMeta(Seq("z", "y", "x"), Seq(n, n, n), Seq(8, 8, 8),
        "uint8", Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0),
        Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
      val vals = Array.tabulate(n * n * n) { i =>
        val bz = i / (n * n) / 4; val by = (i / n) % n / 4; val bx = i % n / 4
        if ((bz + by + bx) % 7 == 0) 0.0
        else ((bz * 2 + by * 3 + bx * 5) % 6 + 1).toDouble
      }
      val ds = ChunkOps.fromArray(s, vals, meta)
      graft.operators.RegionGraph.adjacency3d(s, ds, meta)
        .orderBy(col("va"), col("vb"))
    },
    Some("""WITH g AS (SELECT i // 256 AS z, (i // 16) % 16 AS y, i % 16 AS x,
                  CASE WHEN ((i // 256 // 4) + ((i // 16) % 16 // 4)
                             + (i % 16 // 4)) % 7 = 0 THEN 0
                       ELSE ((i // 256 // 4) * 2 + ((i // 16) % 16 // 4) * 3
                             + (i % 16 // 4) * 5) % 6 + 1
                  END AS v
                FROM range(4096) r(i)),
            adj AS (SELECT least(a.v, b.v) AS va, greatest(a.v, b.v) AS vb
                    FROM g a JOIN g b
                      ON b.z = a.z AND b.y = a.y AND b.x = a.x + 1
                    WHERE a.v > 0 AND b.v > 0 AND a.v <> b.v
                    UNION ALL
                    SELECT least(a.v, b.v), greatest(a.v, b.v)
                    FROM g a JOIN g b
                      ON b.z = a.z AND b.y = a.y + 1 AND b.x = a.x
                    WHERE a.v > 0 AND b.v > 0 AND a.v <> b.v
                    UNION ALL
                    SELECT least(a.v, b.v), greatest(a.v, b.v)
                    FROM g a JOIN g b
                      ON b.z = a.z + 1 AND b.y = a.y AND b.x = a.x
                    WHERE a.v > 0 AND b.v > 0 AND a.v <> b.v)
            SELECT CAST(va AS BIGINT) AS va, CAST(vb AS BIGINT) AS vb,
                   CAST(count(*) AS BIGINT) AS n_faces
            FROM adj GROUP BY va, vb ORDER BY va, vb"""))

  /** Squared Sobel gradient magnitude
    * ([[graft.operators.Downsample.sobelSq]]) — full-resolution edge
    * strength through the REAL halo-exchanged chunk path (1-pixel
    * strips are the only bytes that cross chunk faces; output dtype
    * widens to int32, exact integers end-to-end). True image borders
    * emit 0 by rule. The oracle computes every 3×3 neighbor straight
    * from the closed-form grid — a misplaced halo strip anywhere
    * hash-mismatches.
    */
  val i86SobelGradient = Q(
    "i86_sobel_gradient",
    (s, _) => {
      val (meta, ds) = baseImage(s)
      val (om, ods) = graft.operators.Downsample.sobelSq(s, ds, meta)
      ChunkOps.voxelView(s, ods, om)
        .groupBy(col("y"))
        .agg(sum(col("value")).cast("bigint").as("sum_gsq"),
          max(col("value")).cast("bigint").as("max_gsq"),
          sum(col("value") * (col("x") + 1)).cast("bigint").as("pos_check"))
        .orderBy(col("y"))
    },
    Some(s"""WITH p AS (SELECT i // $W AS y, i % $W AS x FROM range(${H * W}) r(i)),
            d AS (SELECT y, x,
              CASE WHEN y = 0 OR y = ${H - 1} OR x = 0 OR x = ${W - 1} THEN 0 ELSE
                ((31*(y-1)+17*(x+1))%256 + 2*((31*y+17*(x+1))%256) + ((31*(y+1)+17*(x+1))%256))
                - ((31*(y-1)+17*(x-1))%256 + 2*((31*y+17*(x-1))%256) + ((31*(y+1)+17*(x-1))%256)) END AS gx,
              CASE WHEN y = 0 OR y = ${H - 1} OR x = 0 OR x = ${W - 1} THEN 0 ELSE
                ((31*(y+1)+17*(x-1))%256 + 2*((31*(y+1)+17*x)%256) + ((31*(y+1)+17*(x+1))%256))
                - ((31*(y-1)+17*(x-1))%256 + 2*((31*(y-1)+17*x)%256) + ((31*(y-1)+17*(x+1))%256)) END AS gy
              FROM p)
            SELECT y, CAST(sum(gx*gx + gy*gy) AS BIGINT) AS sum_gsq,
                   CAST(max(gx*gx + gy*gy) AS BIGINT) AS max_gsq,
                   CAST(sum((gx*gx + gy*gy) * (x + 1)) AS BIGINT) AS pos_check
            FROM d GROUP BY y ORDER BY y"""))
}
