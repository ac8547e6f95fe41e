package omezarrbench

import graft.meta.Model.Method
import graft.operators.{MultiscaleBuilder, OmeZarrIO}

/** `pyramid`: the paper's headline path. Set-up writes a base volume as
  * an OME-Zarr v0.4 store (blosc lz4, byte shuffle — zarr-python's
  * default compressor). Each step reads it, builds a 3-level
  * `itkwasm_gaussian` cascade and writes a v0.5 sharded zstd store.
  */
final class PyramidWorkload(ctx: Ctx) extends Workload {
  import ctx._
  private val edge = sizes.pyramidEdge
  private val meta = Gen.meta(edge, sizes.pyramidChunk)
  private val vox = Voxels(seed)
  private val input = path("pyramid-in.ome.zarr")
  private val output = path("pyramid-out.ome.zarr")
  private val factors = Seq(1, 2, 3).map(k => Map("z" -> (1 << k), "y" -> (1 << k), "x" -> (1 << k)))
  private lazy val expected = Stat.closedForm(vox, edge)
  private var builtVoxels = 0.0
  private var buildSeconds = 0.0

  val primary = "pyramid.build"
  override def minSamples: Int = sizes.minBuilds
  def warmup(): Unit = (0 until sizes.pyramidWarmupBuilds).foreach(_ => step(-1))

  def setup(): Unit = {
    val base = Gen.volume(spark, meta, vox, 4 * cores)
    OmeZarrIO.writeMultiscales(spark, input,
      MultiscaleBuilder.Multiscale(Seq(MultiscaleBuilder.Level(meta, base)), Method.ItkwasmGaussian),
      version = "0.4", compressor = Some("blosc"))
  }

  def step(k: Int): Unit = {
    val traced = k % 2 == 0
    val t0 = System.nanoTime()
    val ms = tracer.op(primary, traced) {
      val in = tracer.span("meta.open")(OmeZarrIO.readMultiscales(spark, input))
      val ms = tracer.span("operators.cascade") {
        val ms = MultiscaleBuilder.toMultiscales(spark, in.levels.head, Some(factors),
          Method.ItkwasmGaussian, cache = true)
        // traced: materialize each persisted level on its own, so the
        // write below times encode + shard + put only
        if (tracer.tracing) ms.levels.zipWithIndex.tail.foreach { case (l, i) =>
          tracer.span(s"operators.level$i")(l.chunks.count())
        }
        ms
      }
      tracer.span("zarr.write") {
        OmeZarrIO.writeMultiscales(spark, output, ms, version = "0.5",
          compressor = Some("zstd"), chunksPerShard = Some(Seq(2, 2, 2)))
      }
      ms
    }
    if (k >= 0) {
      buildSeconds += (System.nanoTime() - t0) / 1e9
      builtVoxels += meta.shape.product.toDouble
    }
    try verify(ms)
    finally ms.levels.tail.foreach(_.chunks.unpersist(blocking = true))
  }

  /** Untimed output checks: voxel count and position-weighted checksum
    * of scale 0 against the closed form, every level's grid, re-read
    * levels against the in-memory ones, and DC-mean preservation.
    */
  private def verify(ms: MultiscaleBuilder.Multiscale): Unit = {
    val back = OmeZarrIO.readMultiscales(spark, output)
    if (!check(back.levels.length == 4, s"re-read ${back.levels.length} levels, expected 4")) return
    back.levels.zipWithIndex.foreach { case (l, i) =>
      val n = (edge >> i).toLong
      check(l.meta.shape == Seq(n, n, n), s"scale$i shape ${l.meta.shape}")
      check(l.meta.chunks == Seq.fill(3)(math.min(sizes.pyramidChunk.toLong, n).toInt),
        s"scale$i chunks ${l.meta.chunks}")
    }
    val tables = back.levels.indices.map(i => (i, back.levels(i).chunks, back.levels(i).meta.dtype)) ++
      (1 until ms.levels.length).map(i => (10 + i, ms.levels(i).chunks, ms.levels(i).meta.dtype))
    val st = Stat.collect(spark, tables)
    check(st.get(0).contains(expected), s"scale0 checksum ${st.get(0)} != closed form $expected")
    (1 until 4).foreach { i =>
      check(st.get(i).isDefined && st.get(i) == st.get(10 + i).map(_.copy(tag = i)),
        s"scale$i re-read ${st.get(i)} != in-memory ${st.get(10 + i)}")
    }
    // a normalized smoothing kernel keeps the mean: 1% of the range
    st.get(1).foreach { s1 =>
      check(math.abs(s1.mean - expected.mean) < 41.0,
        f"scale1 mean ${s1.mean}%.2f drifted from base ${expected.mean}%.2f")
    }
  }

  def mvoxPerSecond: Double = if (buildSeconds > 0) builtVoxels / 1e6 / buildSeconds else 0.0

  def replayStore: String = output

  def writesPerOp: Option[WriteUnit] = Some(WriteUnit(output,
    (0 until 4).map(i => math.pow((edge >> i).toDouble, 3)).sum.toLong, 2, 0L))
}
