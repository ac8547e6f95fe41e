package graft.sources

import graft.SparkSpec
import graft.meta.Model._
import graft.operators.{ChunkOps, MultiscaleBuilder, OmeZarrIO}
import graft.zarr.ZarrStore
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

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

  /** A one-level store of `vals` (shape `shape`, chunks `chunks`):
    * v0.4 plain, or v0.5 plain or sharded.
    */
  private def levelStore(prefix: String, shape: Seq[Long], chunks: Seq[Int], vals: Array[Double],
      version: String, cps: Option[Seq[Int]]): String = {
    val m = ImageMeta(Seq("y", "x"), shape, chunks, "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val ms = MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, vals, m))), Method.ItkwasmBinShrink)
    val dir = tempDir(prefix).toString + "/img.zarr"
    OmeZarrIO.writeMultiscales(spark, dir, ms, version = version,
      compressor = Some("zstd"), chunksPerShard = cps)
    dir
  }

  /** Rows as comparable values, payload bytes included, in key order. */
  private def canon(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    }).sortBy(r => (r.head.asInstanceOf[Int], r(1).asInstanceOf[Seq[Int]].mkString(",")))

  /** The scan the optimizer built for `df`. */
  private def scanOf(df: DataFrame): OmeZarrScan =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r.scan.asInstanceOf[OmeZarrScan]
    }.get

  private val keyStoreNames =
    Seq("v0.4 plain", "v0.5 plain", "v0.5 sharded, clipped edges", "v0.5 sharded, sparse")

  private lazy val keyStores: Map[String, String] = {
    val plainVals = Array.tabulate(64 * 96)(i => (i % 4001).toDouble)
    // 100×76 in 16² chunks, 2×2 per shard: 7×5 chunks in 4×3 shards,
    // whose last row and column of shards hold slots past the array
    val shardVals = Array.tabulate(100 * 76)(i => (i % 3001).toDouble)
    val sparse = levelStore("dsv2keysparse", Seq(100, 76), Seq(16, 16), shardVals, "0.5",
      Some(Seq(2, 2)))
    // shard (1, 0) holds chunks (2..3, 0..1): absent, they read as fill
    assert(new java.io.File(s"$sparse/scale0/image/c/1/0").delete())
    keyStoreNames.zip(Seq(
      storePath, // two levels: 2×2 chunks of 32², then one
      levelStore("dsv2key05", Seq(64, 96), Seq(32, 32), plainVals, "0.5", None),
      levelStore("dsv2keyshard", Seq(100, 76), Seq(16, 16), shardVals, "0.5", Some(Seq(2, 2))),
      sparse)).toMap
  }

  private def key(k: Int*): Column = typedLit(k.toSeq)

  /** Key predicates by name; the last three name no chunk of any store. */
  private val keyPredicates: Seq[(String, Column)] = Seq(
    "EqualTo" -> (col("chunk_idx") === key(1, 0)),
    "EqualTo, scale" -> (col("scale") === 0 && col("chunk_idx") === key(1, 1)),
    "In" -> col("chunk_idx").isin(key(0, 0), key(2, 1), key(6, 4), key(3, 2)),
    "In, scale" -> (col("scale") === 0 &&
      col("chunk_idx").isin(key(0, 1), key(3, 0), key(2, 3), key(6, 4))),
    "two keys and a range" -> (col("scale") >= 0 && col("chunk_idx") === key(0, 1) &&
      col("chunk_idx").isin(key(0, 1), key(1, 1))),
    "out of the grid" -> (col("chunk_idx") === key(9, 9)),
    "wrong rank" -> (col("scale") === 0 && col("chunk_idx").isin(key(0), key(0, 0, 0))),
    "negative" -> (col("chunk_idx") === key(-1, 0)))

  for (store <- keyStoreNames; (pred, where) <- keyPredicates) {
    test(s"chunk_idx pushdown: $store, $pred, rows equal the unpushed filter's") {
      val dir = keyStores(store)
      val all = spark.read.format("omezarr").load(dir)
      // the same predicate over the full scan's rows, through a local
      // relation no filter pushes into
      val unpushed = spark.createDataFrame(all.collect().toSeq.asJava, all.schema).where(where)
      val pushed = all.where(where)
      val want = canon(unpushed.collect())
      assert(canon(pushed.collect()) == want)
      val scan = scanOf(pushed)
      assert(scan.pushedFilters.exists(_.references.contains("chunk_idx")), scan.pushedFilters)
      assert(scan.estimateStatistics().numRows().getAsLong == want.size)
      // data pruned: the same keys, no payload read
      val meta = pushed.select("scale", "chunk_idx", "origin", "shape", "dtype")
      assert(!scanOf(meta).readSchema().fieldNames.contains("data"))
      assert(canon(meta.collect()) == want.map(_.take(5)))
      assert(want.isEmpty == keyPredicates.takeRight(3).map(_._1).contains(pred), want)
    }
  }

  test("chunk_idx keys leave no filter above the scan and plan only the named objects") {
    val dir = keyStores("v0.5 sharded, clipped edges")
    val df = spark.read.format("omezarr").load(dir)
      .where(col("chunk_idx").isin(key(0, 0), key(1, 1), key(6, 4), key(9, 9)))
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty,
      plan.toString)
    // (0,0) and (1,1) share shard (0,0); (6,4) is shard (3,2); (9,9) is off the grid
    val parts = plannedParts(df)
    assert(parts.flatMap(_.objs) == Seq(Seq(0, 0), Seq(3, 2)), parts)
    assert(df.collect().map(_.getAs[scala.collection.Seq[Int]]("chunk_idx").toSeq).toSet ==
      Set(Seq(0, 0), Seq(1, 1), Seq(6, 4)))
    // a scan without keys plans every object, as before
    assert(plannedParts(spark.read.format("omezarr").load(dir)).flatMap(_.objs) ==
      ZarrStore.gridPositions(Seq(4, 3)).toSeq)
  }

  test("a keyed read of one small object is a LocalTableScan that runs no Spark job") {
    val dir = keyStores("v0.5 sharded, clipped edges")
    val df = spark.read.format("omezarr").load(dir)
      .where(col("scale") === 0 && col("chunk_idx") === key(6, 4))
    val (rows, jobs, stages) = jobsAndStagesIn {
      assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        df.queryExecution.executedPlan.toString)
      df.collect()
    }
    assert(jobs == 0 && stages == 0, s"$jobs jobs, $stages stages")
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[scala.collection.Seq[Int]]("shape").toSeq == Seq(4, 12))
    // the written chunk: rows 96..99, columns 64..75 of the volume
    val written = for (y <- 96 until 100; x <- 64 until 76) yield ((y * 76 + x) % 3001).toDouble
    assert(ZarrStore.decodeToDoubles(r.getAs[Array[Byte]]("data"), "uint16").toSeq == written)
  }

  test("a point read reads its object when planned: a re-collect returns the planned chunk") {
    val vals = Array.tabulate(64 * 64)(i => (i % 509).toDouble)
    val dir = levelStore("dsv2planned", Seq(64, 64), Seq(32, 32), vals, "0.4", None)
    def point = spark.read.format("omezarr").load(dir)
      .where(col("scale") === 0 && col("chunk_idx") === key(1, 1))
    def payload(rows: Array[Row]) = rows.map(_.getAs[Array[Byte]]("data").toSeq).toSeq
    val df = point
    val first = df.collect()
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    // overwrite the store in place with other voxels
    val m = ImageMeta(Seq("y", "x"), Seq(64, 64), Seq(32, 32), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
    val other = vals.map(_ + 1)
    OmeZarrIO.writeMultiscales(spark, dir, MultiscaleBuilder.Multiscale(Seq(
      MultiscaleBuilder.Level(m, ChunkOps.fromArray(spark, other, m))), Method.ItkwasmBinShrink),
      version = "0.4", compressor = Some("zstd"))
    assert(payload(df.collect()) == payload(first), "the planned Dataset re-read the store")
    val fresh = payload(point.collect())
    assert(fresh != payload(first))
    assert(ZarrStore.decodeToDoubles(fresh.head.toArray, "uint16").toSeq ==
      (for (y <- 32 until 64; x <- 32 until 64) yield other(y * 64 + x)))
  }

  test("a corrupt object fails a point read at planning, with the reader's typed error") {
    val dir = levelStore("dsv2corrupt", Seq(64, 64), Seq(16, 16),
      Array.tabulate(64 * 64)(i => (i % 97).toDouble), "0.5", Some(Seq(2, 2)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/scale0/image/c/1/1"), Array[Byte](1, 2, 3))
    val df = spark.read.format("omezarr").load(dir)
      .where(col("scale") === 0 && col("chunk_idx") === key(2, 3))
    val e = intercept[IllegalArgumentException](df.queryExecution.executedPlan)
    assert(e.getMessage.contains("shard too small"), e.getMessage)
  }
}
