package omezarrbench

import scala.util.control.NonFatal
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * omezarrbench.Main --workload pyramid|tiles|plate --seed N --seconds S
  *   --trace 0|1 [--size normal|tiny] [--work DIR] [--results DIR]
  *   [--commit ID] [--source-hash H]
  * }}}
  *
  * `--trace 0` prints the end-to-end metrics; `--trace 1` the per-layer
  * ones. The last stdout line is the result object.
  */
object Main {

  /** End-to-end metrics: name → unit. Every workload reports each. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_rel_p50" -> "ratio",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics: name → unit. A layer a workload does not use
    * reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms",
    "spark.jobs_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_wait_ms" -> "ms",
    "spark.core_busy_ratio" -> "ratio",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count",
    "sources.scan_build_ms" -> "ms",
    "sources.partitions_per_tile" -> "count",
    "sources.useful_chunk_ratio" -> "ratio",
    "meta.open_ms" -> "ms",
    "meta.plate_open_ms" -> "ms",
    "meta.getwell_ms" -> "ms",
    "operators.cascade_ms" -> "ms",
    "operators.level1_ms" -> "ms",
    "operators.level2_ms" -> "ms",
    "operators.level3_ms" -> "ms",
    "operators.cascade_shuffle_mb" -> "MB",
    "zarr.write_ms" -> "ms",
    "zarr.objects_written" -> "count",
    "zarr.bytes_written" -> "B",
    "zarr.bytes_per_voxel_byte" -> "ratio") ++
    ZarrReplay.codecs.flatMap { case (n, _) =>
      Seq(s"zarr.encode_mb_s.$n" -> "MB/s", s"zarr.decode_mb_s.$n" -> "MB/s")
    } ++ Seq(
    "zarr.shard_build_ms" -> "ms",
    "zarr.shard_parse_ms" -> "ms",
    "zarr.put_ms_p50" -> "ms",
    "zarr.get_ms_p50" -> "ms",
    "zarr.objects_per_field" -> "count",
    "streaming.job_ms_per_batch" -> "ms",
    "streaming.driver_ms_per_batch" -> "ms",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.fields_per_s" -> "fields/s",
    "trace_overhead" -> "ratio",
    "trace_coverage" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val sizes = Sizes.named(opt.getOrElse("size", "normal"))
    val work = java.nio.file.Paths.get(opt.getOrElse("work", "omezarr-bench-work")).toAbsolutePath
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    require(Seq("pyramid", "tiles", "plate").contains(workload), s"unknown workload '$workload'")

    val tStart = System.nanoTime()
    Dirs.delete(work)
    java.nio.file.Files.createDirectories(work)
    val spark = session(cores, work)
    val tSession = System.nanoTime()
    val events = new SparkEvents
    val queries = new QueryEvents
    spark.sparkContext.addSparkListener(events)
    spark.listenerManager.register(queries)
    val tracer = new Tracer(trace)
    val ctx = new Ctx(spark, cores, seed, sizes, work, tracer)
    val wl: Workload = workload match {
      case "pyramid" => new PyramidWorkload(ctx)
      case "tiles" => new TilesWorkload(ctx)
      case "plate" => new PlateWorkload(ctx)
    }

    var stepErrors = 0
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def guarded(body: => Unit): Unit =
      try body
      catch {
        case NonFatal(e) =>
          stepErrors += 1
          if (errors.length < 20) errors += s"${e.getClass.getName}: ${e.getMessage}"
      }

    // set-up, several times; the median is `setup_s`
    val setups = (0 until sizes.setupRepeats).map { _ =>
      val t0 = System.nanoTime()
      guarded(wl.setup())
      (System.nanoTime() - t0) / 1e9
    }
    val tWarm = System.nanoTime()
    guarded(wl.warmup())
    val ref = new Reference(spark, cores, sizes.referenceRows, tracer)
    def reference(): Unit = ctx.check(ref.run(), "reference job result")
    (0 until 5).foreach(_ => guarded(reference()))
    tracer.ops.clear()
    tracer.spans.clear()

    val ticks0 = cpuTicks
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // a slow host gets fewer samples rather than a longer run, so a full
    // measurement keeps to its time limit
    val cap = t0 + (2.5 * seconds * 1e9).toLong
    def samples = tracer.ops.count(o => o.kind == wl.primary && o.ok)
    var k = 0
    // at least one sample, even when a step outlasts the cap (the plate's
    // first step is its ingest)
    while ((samples == 0 && stepErrors == 0) || System.nanoTime() < deadline ||
        (samples < wl.minSamples && System.nanoTime() < cap && stepErrors == 0)) {
      // the reference job after each step, for at least a fifth of the
      // step's time, so that long steps are matched by several runs of it
      val s0 = System.nanoTime()
      guarded(wl.step(k))
      val r0 = System.nanoTime()
      do guarded(reference()) while ((System.nanoTime() - r0) * 5 < r0 - s0 && stepErrors == 0)
      k += 1
    }
    val loopSeconds = (System.nanoTime() - t0) / 1e9
    val steal = stealShare(ticks0, cpuTicks)
    BenchBus.drain(spark.sparkContext)

    val metrics: Seq[(String, Double)] =
      if (!trace) endToEndMetrics(wl, tracer, setups, ref.kind)
      else {
        val m = try layerMetrics(ctx, wl, events, queries)
        catch { case NonFatal(e) => stepErrors += 1; errors += s"trace: $e"; Map.empty[String, Double] }
        perLayer.map { case (n, _) => n -> m.getOrElse(n, 0.0) }
      }
    val units = (endToEnd ++ perLayer).toMap
    val attempted = math.max(1, tracer.ops.length + setups.length)
    val failed = math.min(attempted, stepErrors + ctx.failedChecks)

    val record = Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> (if (trace) "1" else "0"),
      "size" -> Json.str(opt.getOrElse("size", "normal")), "cores" -> cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "jdk" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "spark" -> Json.str(spark.version),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6),
      "jvm_args" -> Json.arr(java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(a => Json.str(a.toString)).toSeq),
      "commit" -> Json.str(opt.getOrElse("commit", "unknown")),
      "source_hash" -> Json.str(opt.getOrElse("source-hash", "unknown")),
      "phase_s" -> Json.obj("session" -> Json.num((tSession - tStart) / 1e9),
        "setup" -> Json.num((tWarm - tSession) / 1e9), "warmup" -> Json.num((t0 - tWarm) / 1e9),
        "loop" -> Json.num(loopSeconds), "report" -> Json.num((System.nanoTime() - t0) / 1e9 - loopSeconds)),
      "host_steal_share" -> Json.num(steal),
      "steps" -> k.toString,
      "samples" -> tracer.ops.count(o => o.kind == wl.primary && o.ok).toString,
      "wall_ms" -> Json.obj(wallStats(wl, tracer, ref.kind).map { case (n, v) => n -> Json.num(v) }: _*),
      "setup_runs_s" -> Json.arr(setups.map(Json.num)),
      "errors" -> Json.arr((errors ++ ctx.failures).toSeq.map(Json.str)))
    println(s"""{"record": $record}""")
    opt.get("results").foreach { dir =>
      val d = java.nio.file.Paths.get(dir)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
        traceFile(record, tracer, metrics).getBytes("UTF-8"))
    }
    val result = Json.obj(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(units(n)))
      }: _*))
    spark.stop()
    Dirs.delete(work)
    println(result)
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** The session, configured as `graft.Bench` configures its own, with
    * Spark's scratch space inside the run's work directory.
    */
  def session(cores: Int, work: java.nio.file.Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("omezarr-bench")
      .config(graft.zarr.SparkSessions.tunedLocalFs._1, graft.zarr.SparkSessions.tunedLocalFs._2)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def peakRssMb: Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally status.close()
  }

  /** The host's aggregate CPU time counters (`/proc/stat`), to report how
    * much of the loop the hypervisor took away (steal).
    */
  private def cpuTicks: Array[Long] = {
    val stat = scala.io.Source.fromFile("/proc/stat")
    try stat.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally stat.close()
  }

  private def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = a.indices.map(i => b(i) - a(i))
    if (d.length < 8 || d.sum <= 0) 0.0 else d(7).toDouble / d.sum
  }

  private def latencies(tracer: Tracer, kind: String): Seq[Double] =
    tracer.ops.filter(o => o.kind == kind && o.ok).map(_.ms).toSeq

  /** Op latency as a multiple of the reference job's median latency. */
  private def endToEndMetrics(wl: Workload, tracer: Tracer, setups: Seq[Double],
      refKind: String): Seq[(String, Double)] = {
    val lat = latencies(tracer, wl.primary)
    val ref = Stats.median(latencies(tracer, refKind))
    def rel(x: Double) = if (ref > 0) x / ref else 0.0
    Seq(
      "setup_s" -> Stats.median(setups),
      "op_rel_p50" -> rel(Stats.quantile(lat, 0.5)),
      "peak_rss_mb" -> peakRssMb)
  }

  /** Absolute wall-clock figures, for the run record. */
  private def wallStats(wl: Workload, tracer: Tracer, refKind: String): Seq[(String, Double)] = {
    val lat = latencies(tracer, wl.primary)
    val cpu = tracer.ops.filter(o => o.kind == wl.primary && o.ok).map(_.cpuMs).toSeq
    Seq("op_ms_p50" -> Stats.quantile(lat, 0.5),
      "op_ms_p90" -> Stats.quantile(lat, 0.9),
      "ops_per_s" -> (if (lat.isEmpty) 0.0 else lat.length / (lat.sum / 1e3)),
      "op_cpu_ms" -> (if (cpu.isEmpty) 0.0 else cpu.sum / cpu.length),
      "mvox_s" -> wl.mvoxPerSecond,
      "reference_ms_p50" -> Stats.median(latencies(tracer, refKind)),
      "reference_runs" -> latencies(tracer, refKind).length.toDouble)
  }

  private def layerMetrics(ctx: Ctx, wl: Workload, events: SparkEvents,
      queries: QueryEvents): Map[String, Double] = {
    val tr = ctx.tracer
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def spanMs(name: String) = mean(tr.closed(name).map(_.ms))
    def per(x: Double, n: Int) = if (n == 0) 0.0 else x / n
    val mb = 1e6

    val ws = tr.windows(wl.sparkKind)
    val jobs = events.within(ws)
    val n = ws.length
    val wallMs = ws.map { case (a, b) => (b - a).toDouble }.sum
    val spark = Map(
      "spark.plan_ms" -> per(queries.within(ws).sum.toDouble, n),
      "spark.jobs_per_op" -> per(jobs.length.toDouble, n),
      "spark.tasks_per_op" -> per(jobs.map(_.tasks).sum.toDouble, n),
      "spark.sched_wait_ms" -> per(jobs.map(j => math.max(0L, j.wallMs - j.maxTaskMs)).sum.toDouble, n),
      "spark.core_busy_ratio" -> (if (wallMs <= 0) 0.0 else jobs.map(_.runMs).sum / (wallMs * ctx.cores)),
      "spark.gc_ms" -> per(jobs.map(_.gcMs).sum.toDouble, n),
      "spark.shuffle_write_mb" -> per(jobs.map(_.shuffleWrite).sum / mb, n),
      "spark.shuffle_read_mb" -> per(jobs.map(_.shuffleRead).sum / mb, n),
      "spark.spill_mb" -> per(jobs.map(_.spill).sum / mb, n),
      "spark.task_failures" -> events.all.map(_.failedTasks).sum.toDouble)

    val cascades = tr.closed("operators.cascade")
    val layers = Map(
      "sources.scan_build_ms" -> spanMs("sources.scan_build"),
      "meta.open_ms" -> spanMs("meta.open"),
      "meta.plate_open_ms" -> spanMs("meta.plate_open"),
      "meta.getwell_ms" -> spanMs("meta.getwell"),
      "operators.cascade_ms" -> spanMs("operators.cascade"),
      "operators.level1_ms" -> spanMs("operators.level1"),
      "operators.level2_ms" -> spanMs("operators.level2"),
      "operators.level3_ms" -> spanMs("operators.level3"),
      "operators.cascade_shuffle_mb" -> per(events.within(cascades.map(s => (s.wall0, s.wall1)))
        .map(_.shuffleWrite).sum / mb, cascades.length),
      "zarr.write_ms" -> spanMs("zarr.write"))

    val writes = wl.writesPerOp.filter(w => w.store.nonEmpty).map { w =>
      val (objs, bytes) = ZarrReplay.footprint(w.store)
      Map("zarr.objects_written" -> objs.toDouble,
        "zarr.bytes_written" -> bytes.toDouble,
        "zarr.bytes_per_voxel_byte" -> bytes.toDouble / (w.voxels * w.itemSize),
        "zarr.objects_per_field" -> (if (w.fields > 0) objs.toDouble / w.fields else 0.0))
    }.getOrElse(Map.empty)

    val batches = tr.ops.filter(o => o.traced && o.kind == "plate.batch").toSeq
    val streaming =
      if (batches.isEmpty) Map.empty[String, Double]
      else {
        val jobMs = events.within(batches.map(o => (o.wall0, o.wall1))).map(_.wallMs).sum.toDouble
        Map("streaming.job_ms_per_batch" -> jobMs / batches.length,
          "streaming.driver_ms_per_batch" -> (batches.map(_.ms).sum - jobMs) / batches.length)
      }

    val primary = tr.ops.filter(o => o.kind == wl.primary && o.ok).toSeq
    val (tOps, uOps) = primary.partition(_.traced)
    val self = tr.selfMs
    val roots = tr.spans.indices.filter(i => tr.spans(i).parent < 0 && tr.spans(i).name == wl.primary &&
      tr.spans(i).t1 >= 0)
    val rootMs = roots.map(tr.spans(_).ms).sum
    val overhead = Map(
      "trace_overhead" -> (if (tOps.isEmpty || uOps.isEmpty) 0.0
        else Stats.median(tOps.map(_.ms)) / Stats.median(uOps.map(_.ms))),
      "trace_coverage" -> (if (rootMs <= 0) 0.0 else 1.0 - roots.map(self(_)).sum / rootMs))

    spark ++ layers ++ writes ++ streaming ++ wl.layerMetrics ++ overhead ++
      ZarrReplay.run(ctx, wl.replayStore)
  }

  /** The run record, every op and span, and each span name's total and
    * self time.
    */
  private def traceFile(record: String, tr: Tracer, metrics: Seq[(String, Double)]): String = {
    val self = tr.selfMs
    val byName = tr.spans.indices.groupBy(tr.spans(_).name).toSeq.sortBy(_._1).map { case (n, is) =>
      n -> Json.obj("count" -> is.length.toString,
        "total_ms" -> Json.num(is.map(tr.spans(_).ms).sum),
        "self_ms" -> Json.num(is.map(self(_)).sum))
    }
    Json.obj(
      "record" -> record,
      "metrics" -> Json.obj(metrics.map { case (n, v) => n -> Json.num(v) }: _*),
      "layers" -> Json.obj(byName: _*),
      "ops" -> Json.arr(tr.ops.toSeq.map(o => Json.obj("id" -> o.id.toString, "kind" -> Json.str(o.kind),
        "traced" -> o.traced.toString, "ok" -> o.ok.toString, "ms" -> Json.num(o.ms), "cpu_ms" -> Json.num(o.cpuMs)))),
      "spans" -> Json.arr(tr.spans.indices.map { i =>
        val s = tr.spans(i)
        Json.obj("name" -> Json.str(s.name), "op" -> s.op.toString, "parent" -> s.parent.toString,
          "start_ms" -> s.wall0.toString, "end_ms" -> s.wall1.toString,
          "ms" -> Json.num(s.ms), "self_ms" -> Json.num(self(i)))
      })) + "\n"
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
  def obj(kvs: (String, String)*): String =
    kvs.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
