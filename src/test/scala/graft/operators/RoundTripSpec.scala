package graft.operators

import graft.SparkSpec
import graft.meta.Model._
import org.apache.spark.sql.functions._
import java.nio.file.Files

class RoundTripSpec extends SparkSpec {

  test("voxel view → fromVoxelView inverts exactly") {
    val m = ImageMeta(Seq("z", "y", "x"), Seq(6, 8, 8), Seq(3, 4, 4), "uint16",
      Map("z" -> 1.0, "y" -> 1.0, "x" -> 1.0), Map("z" -> 0.0, "y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(6 * 8 * 8)(i => (i % 4000).toDouble)
    val ds = ChunkOps.fromArray(spark, vals, m)
    val vv = ChunkOps.voxelView(spark, ds, m)
    val back = ChunkOps.fromVoxelView(spark, vv, m)
    assert(ChunkOps.toArray(back, m).toSeq == vals.toSeq)
  }

  test("relational downsample on the voxel view materializes as the next level") {
    // bin-shrink expressed as pure SQL over voxels, then back to chunks:
    // the §7.3 'minimum slice' as a round trip
    val m = ImageMeta(Seq("y", "x"), Seq(8, 8), Seq(4, 4), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(64)(_.toDouble % 256)
    val ds = ChunkOps.fromArray(spark, vals, m)
    val vv = ChunkOps.voxelView(spark, ds, m)
    val down = vv.groupBy((col("y") / 2).cast("long").as("y"), (col("x") / 2).cast("long").as("x"))
      .agg(floor(sum(col("value")) / 4.0 + 0.5).cast("double").as("value"))
      .withColumn("t", lit(0L)).withColumn("c", lit(0L)).withColumn("z", lit(0L))
    val m2 = m.copy(shape = Seq(4, 4), chunks = Seq(4, 4),
      scale = Map("y" -> 2.0, "x" -> 2.0), translation = Map("y" -> 0.5, "x" -> 0.5))
    val back = ChunkOps.fromVoxelView(spark, down, m2)
    // must equal the native bin-shrink kernel
    val (omK, dsK) = Downsample.step(spark, ds, m, Map("y" -> 2, "x" -> 2),
      Method.ItkwasmBinShrink)
    assert(ChunkOps.toArray(back, m2).toSeq == ChunkOps.toArray(dsK, omK).toSeq)
  }

  test("omero rendering metadata round-trips through the store") {
    val m = ImageMeta(Seq("y", "x"), Seq(16, 16), Seq(8, 8), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0),
      axesUnits = Map("y" -> "micrometer", "x" -> "micrometer"))
    val omero = Omero(Seq(OmeroChannel("FF0000", OmeroWindow(0, 255, 10, 240), Some("red"))))
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, new Array[Double](256), m))),
      Method.ItkwasmBinShrink, Some(omero))
    val dir = tempDir("omero").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms)
    val back = OmeZarrIO.readMultiscales(spark, dir, validate = true)
    assert(back.omero.contains(omero))
    assert(back.levels.head.meta.axesUnits == Map("y" -> "micrometer", "x" -> "micrometer"))
  }

  test("reference sharding layout: 256² image, 64-chunks, 2/shard → 128² shards") {
    // FIXTURES.md §1: sharding case expects scale0 shape 256², shard
    // 128², inner chunk 64²
    val m = ImageMeta(Seq("y", "x"), Seq(256, 256), Seq(64, 64), "uint8",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(256 * 256)(i => (i % 251).toDouble)
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))), Method.ItkwasmGaussian)
    val dir = tempDir("refshard").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      chunksPerShard = Some(Seq(2, 2)))
    val doc = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/scale0/image/zarr.json")))
    val (shape, shardShape, _, _, _) = graft.meta.ZarrJson.parseZarrayV3(doc)
    assert(shape == Seq(256L, 256L))
    assert(shardShape == Seq(128, 128)) // 64-chunk × 2 per shard
    assert(graft.meta.ZarrJson.parseShardingV3(doc).get._1 == Seq(64, 64))
    // 2×2 shard objects on disk
    val shardFiles = new java.io.File(s"$dir/scale0/image/c").listFiles().flatMap(_.listFiles())
    assert(shardFiles.length == 4)
    val back = OmeZarrIO.readMultiscales(spark, dir)
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq == vals.toSeq)
  }
}
