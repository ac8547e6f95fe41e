package graft.sources

import graft.SparkSpec
import graft.meta.Model._
import graft.operators.{ChunkOps, MultiscaleBuilder, OmeZarrIO}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class OmeZarrDsv2Spec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val storeVals = Array.tabulate(64 * 64)(i => (i % 1000).toDouble)

  private lazy val storePath: String = {
    val m = ImageMeta(Seq("y", "x"), Seq(64, 64), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val base = MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, storeVals, m))
    val ms = MultiscaleBuilder.toMultiscales(spark, base,
      Some(Seq(Map("y" -> 2, "x" -> 2))), Method.ItkwasmBinShrink, cache = false)
    val dir = tempDir("dsv2").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    dir
  }

  test("spark.read.format(omezarr) scans the chunk table") {
    val df = spark.read.format("omezarr").load(storePath)
    assert(df.schema.fieldNames.toSeq ==
      Seq("scale", "chunk_idx", "origin", "shape", "dtype", "data"))
    assert(df.count() == 5) // 4 chunks scale0 + 1 chunk scale1
    val r = df.filter(col("scale") === 1).head
    assert(r.getAs[scala.collection.Seq[Int]]("shape").toSeq == Seq(32, 32))
    assert(r.getAs[String]("dtype") == "uint16")
    assert(r.getAs[Array[Byte]]("data").length == 32 * 32 * 2)
  }

  /** The input partitions the physical scan of `df` plans. */
  private def plannedParts(df: DataFrame): Seq[OmeZarrInputPartition] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.head
      .scan.toBatch.planInputPartitions().toSeq.map(_.asInstanceOf[OmeZarrInputPartition])

  private def leafParallelism: Int =
    spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** A one-level v0.4 uint16 store `side`² with 32² chunks: (path, voxels). */
  private def singleLevelStore(side: Int): (String, Array[Double]) = {
    val m = ImageMeta(Seq("y", "x"), Seq(side, side), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(side * side)(i => (i % 4093).toDouble)
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))), Method.ItkwasmBinShrink)
    val dir = tempDir("dsv2pack").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.4")
    (dir, vals)
  }

  test("scale predicate prunes partitions (pushdown)") {
    val df = spark.read.format("omezarr").load(storePath).filter(col("scale") === 0)
    assert(df.count() == 4)
    // the physical scan itself plans only scale-0 objects, each once
    val parts = plannedParts(df)
    assert(parts.forall(_.scale == 0), parts)
    val objs = parts.flatMap(_.objs)
    assert(objs.size == 4 && objs.toSet == Set(Seq(0, 0), Seq(0, 1), Seq(1, 0), Seq(1, 1)), objs)
  }

  test("scan packs a 64-object level into at most leaf-parallelism partitions, row-major") {
    val (dir, vals) = singleLevelStore(256)
    val df = spark.read.format("omezarr").load(dir)
    val parts = plannedParts(df)
    assert(parts.size <= leafParallelism, s"${parts.size} partitions for $leafParallelism cores")
    // every object in exactly one partition, partitions in row-major order
    assert(parts.flatMap(_.objs) == graft.zarr.ZarrStore.gridPositions(Seq(8, 8)).toSeq)
    val rows = df.collect()
    assert(rows.length == 64)
    val sums = rows.map { r =>
      r.getAs[scala.collection.Seq[Int]]("chunk_idx").toSeq -> graft.zarr.ZarrStore
        .decodeToDoubles(r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum
    }.toMap
    val written = (for (cy <- 0 until 8; cx <- 0 until 8) yield Seq(cy, cx) ->
      (for (y <- 0 until 32; x <- 0 until 32)
        yield vals((cy * 32 + y) * 256 + cx * 32 + x)).sum).toMap
    assert(sums == written)
  }

  test("spark.sql.files.maxPartitionBytes below one object's size plans one object per partition") {
    val (dir, vals) = singleLevelStore(256)
    val key = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, (32 * 32 * 2 / 2).toString) // half a decoded 32² uint16 chunk
    try {
      val df = spark.read.format("omezarr").load(dir)
      val parts = plannedParts(df)
      assert(parts.size == 64 && parts.forall(_.objs.size == 1), parts.map(_.objs.size))
      assert(df.count() == 64)
      assert(df.collect().map(r => graft.zarr.ZarrStore.decodeToDoubles(
        r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum).sum == vals.sum)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("packed sharded scan with clipped edge shards: estimated rows equal count") {
    // 100×76, 16² chunks, 2×2 chunks/shard → 4×3 shards of 32², whose
    // edge shards hold slots past the array; 7×5 = 35 inner chunks
    val m = ImageMeta(Seq("y", "x"), Seq(100, 76), Seq(16, 16), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(100 * 76)(i => (i % 3001).toDouble)
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))), Method.ItkwasmBinShrink)
    val dir = tempDir("dsv2packshard").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2)))
    val df = spark.read.format("omezarr").load(dir)
    val parts = plannedParts(df)
    assert(parts.flatMap(_.objs).size == 12)
    if (leafParallelism < 12) assert(parts.exists(_.objs.size > 1), parts.map(_.objs.size))
    val b = new OmeZarrScanBuilder(dir)
    b.pruneColumns(OmeZarrTable.Schema)
    val est = b.build().asInstanceOf[OmeZarrScan].estimateStatistics().numRows().getAsLong
    assert(df.count() == 35 && est == 35)
    assert(df.collect().map(r => graft.zarr.ZarrStore.decodeToDoubles(
      r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum).sum == vals.sum)
  }

  test("column pruning skips payload fetch") {
    val df = spark.read.format("omezarr").load(storePath)
      .groupBy(col("scale")).agg(count(lit(1)).as("n_chunks"))
    val schema = df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.readSchema()
    }.get
    assert(!schema.fieldNames.contains("data"), s"payload not pruned: $schema")
    assert(df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap == Map(0 -> 4L, 1 -> 1L))
  }

  test("DSv2 reads sharded v0.5 stores: inner chunks, exact payloads") {
    val m = ImageMeta(Seq("y", "x"), Seq(128, 128), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(128 * 128)(i => (i % 5000).toDouble)
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))), Method.ItkwasmBinShrink)
    val dir = tempDir("dsv2shard").toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = "0.5",
      chunksPerShard = Some(Seq(2, 2)))
    val df = spark.read.format("omezarr").load(dir)
    // 4x4 inner chunk grid exposed, not the 2x2 shard grid
    assert(df.count() == 16)
    val r = df.orderBy(col("chunk_idx")).head
    assert(r.getAs[scala.collection.Seq[Int]]("shape").toSeq == Seq(32, 32))
    val sumDsv2 = df.collect().map(row => graft.zarr.ZarrStore
      .decodeToDoubles(row.getAs[Array[Byte]]("data"), row.getAs[String]("dtype")).sum).sum
    assert(sumDsv2 == vals.sum)
    // metadata-only scans skip the shard fetch but still enumerate rows
    assert(df.groupBy().count().head.getLong(0) == 16)
  }

  test("scan statistics: payload pruning shrinks sizeInBytes; metadata join broadcasts") {
    // metadata-only projection reports orders less than the payload scan
    def stats(required: Seq[String]): Long = {
      val b = new OmeZarrScanBuilder(storePath)
      b.pruneColumns(org.apache.spark.sql.types.StructType(
        OmeZarrTable.Schema.filter(f => required.contains(f.name))))
      b.build().asInstanceOf[OmeZarrScan].estimateStatistics().sizeInBytes().getAsLong
    }
    val metaOnly = stats(Seq("scale", "chunk_idx"))
    val withPayload = stats(Seq("scale", "chunk_idx", "data"))
    assert(metaOnly < withPayload / 10,
      s"metadata-only $metaOnly should be far under payload $withPayload")

    // Catalyst uses the estimate: a join against the (small) omezarr
    // scan picks a broadcast strategy instead of shuffling both sides
    val dim = spark.read.format("omezarr").load(storePath)
      .select(col("scale"), col("chunk_idx"))
    val fact = spark.range(10000).select(
      (col("id") % 2).cast("int").as("scale"), col("id"))
    val plan = fact.join(dim, Seq("scale")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("df.write.format(omezarr) round-trips a two-level pyramid") {
    val m0 = ImageMeta(Seq("y", "x"), Seq(64, 96), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val vals = Array.tabulate(64 * 96)(i => (i % 7919).toDouble)
    val ds0 = ChunkOps.fromArray(spark, vals, m0)
    val (m1, ds1) = graft.operators.Downsample.step(spark, ds0, m0,
      Map("y" -> 2, "x" -> 2), Method.ItkwasmBinShrink)
    import spark.implicits._
    val chunkDf = ds0.map(c => (0, c.chunkIdx, c.origin, c.shape, "uint16", c.data))
      .union(ds1.map(c => (1, c.chunkIdx, c.origin, c.shape, "uint16", c.data)))
      .toDF("scale", "chunk_idx", "origin", "shape", "dtype", "data")
    val dir = tempDir("dsv2w").toString + "/img.zarr"
    chunkDf.write.format("omezarr")
      .option("levels", OmeZarrWriteMeta.levelsJson(Seq(m0, m1)))
      .option("dims", "y,x").option("dtype", "uint16")
      .option("compressor", "gzip")
      .mode("overwrite").save(dir)
    // re-read through the function reader and compare both levels
    val back = graft.operators.OmeZarrIO.readMultiscales(spark, dir, validate = true)
    assert(back.levels.map(_.meta.shape) == Seq(Seq(64L, 96L), Seq(32L, 48L)))
    assert(back.levels(1).meta.scale == Map("y" -> 2.0, "x" -> 2.0))
    assert(ChunkOps.toArray(back.levels.head.chunks, back.levels.head.meta).toSeq == vals.toSeq)
    assert(ChunkOps.toArray(back.levels(1).chunks, back.levels(1).meta).toSeq ==
      ChunkOps.toArray(ds1, m1).toSeq)
  }

  test("voxel values through DSv2 match the written values") {
    val rows = spark.read.format("omezarr").load(storePath).filter(col("scale") === 0).collect()
    assert(rows.map(_.getAs[Array[Byte]]("data").length).sum == 4 * 32 * 32 * 2)
    // each 32² chunk's decoded sum equals the sum of the voxels written there
    val sums = rows.map { r =>
      val idx = r.getAs[scala.collection.Seq[Int]]("chunk_idx").toSeq
      idx -> graft.zarr.ZarrStore.decodeToDoubles(
        r.getAs[Array[Byte]]("data"), r.getAs[String]("dtype")).sum
    }.toMap
    val written = (for (cy <- 0 until 2; cx <- 0 until 2) yield Seq(cy, cx) ->
      (for (y <- 0 until 32; x <- 0 until 32)
        yield storeVals((cy * 32 + y) * 64 + cx * 32 + x)).sum).toMap
    assert(sums == written)
  }

  test("readMultiscales levels are the omezarr scan: one pushed-down BatchScan, no exchange") {
    val lvl = OmeZarrIO.readMultiscales(spark, storePath).levels(1)
    val plan = lvl.chunks.queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1, plan.toString)
    val scan = scans.head.scan.asInstanceOf[OmeZarrScan]
    assert(scan.pushedFilters.exists(_.references.contains("scale")), plan.toString)
    assert(collect(plan) { case e: Exchange => e }.isEmpty, plan.toString)
    assert(lvl.chunks.count() == 1)
  }

  test("a directory with no OME-Zarr metadata fails naming the path") {
    val empty = tempDir("dsv2empty").toString
    val e = intercept[IllegalArgumentException](
      spark.read.format("omezarr").load(empty).collect())
    assert(e.getMessage.contains(s"no OME-Zarr metadata at $empty"))
  }
}
