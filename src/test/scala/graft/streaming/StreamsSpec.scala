package graft.streaming

import graft.SparkSpec
import graft.hcs.Hcs
import graft.meta.Model._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class StreamsSpec extends SparkSpec {

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("watermarked tumbling windows aggregate a MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = Streams.tumblingCounts(df, "10 minutes", "30 minutes")
      .writeStream.outputMode("complete").format("memory").queryName("tumbling").start()
    mem.addData((ts(0), "a", 1.0), (ts(5), "a", 2.0), (ts(12), "b", 3.0))
    q.processAllAvailable()
    val out = spark.table("tumbling").collect()
    assert(out.length == 2)
    val a = out.find(_.getAs[String]("event_type") == "a").get
    assert(a.getAs[Long]("n") == 2 && a.getAs[Double]("sum_value") == 3.0)
    q.stop()
  }

  test("stateful dedup keeps one row per (user, type)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.dedup(df).writeStream
      .outputMode("append").format("memory").queryName("dedup").start()
    mem.addData((ts(0), 1L, "x"), (ts(1), 1L, "x"), (ts(2), 1L, "y"), (ts(3), 2L, "x"))
    q.processAllAvailable()
    assert(spark.table("dedup").count() == 3)
    q.stop()
  }

  test("streaming canonical-URL dedup keeps the first sighting per canonical key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "doc_id", "url")
    val q = Streams.urlDedup(df).writeStream
      .outputMode("append").format("memory").queryName("urldedup").start()
    // three crawl-variant spellings of ONE page across two batches,
    // plus a genuinely different page
    mem.addData(
      (ts(0), 1L, "HTTPS://Example.COM/a?utm_source=feed&id=7"),
      (ts(1), 2L, "https://www.example.com/a?id=7"))
    q.processAllAvailable()
    mem.addData(
      (ts(2), 3L, "https://example.com:443/a?id=7#frag"),
      (ts(3), 4L, "https://example.com/b"))
    q.processAllAvailable()
    val rows = spark.table("urldedup")
      .select("doc_id", "canonical_url").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the first sighting (doc 1) survives; 2 and 3 dedup against it
    // across batches; b is its own key
    assert(rows == Map(1L -> "https://example.com/a?id=7",
      4L -> "https://example.com/b"))
    q.stop()
  }

  test("streaming host stats: running per-host aggregates match the batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ArrivingPage]
    val q = Streams.streamingHostStats(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("hoststats").start()
    val batch1 = Seq(
      Streams.ArrivingPage("https://WWW.A.example.com/x", "same text"),
      Streams.ArrivingPage("https://b.example.com/q", "solo"))
    val batch2 = Seq(
      // canonical-host dup of batch 1's page text, arriving later
      Streams.ArrivingPage("https://a.example.com:443/y", "same text"),
      Streams.ArrivingPage("http://a.example.com/z", "other text"))
    mem.addData(batch1: _*)
    q.processAllAvailable()
    mem.addData(batch2: _*)
    q.processAllAvailable()
    // latest emitted row per host = the running stats
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("n_docs").desc)
    val streamed = spark.table("hoststats")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("host", "n_docs", "n_unique_texts", "total_chars", "dup_ratio")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batch = graft.ops.Urls.hostStats(
        (batch1 ++ batch2).map(p => (p.url, p.text)).toDF("url", "text"))
      .select("host", "n_docs", "n_unique_texts", "total_chars", "dup_ratio")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    q.stop()
  }

  test("streaming best-of-n: running selection equals batch bestOfN after each prefix") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ArrivingResponse]
    val q = Streams.streamingBestOfN(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("bestofn").start()
    val all = (0L until 10L).flatMap { p =>
      (0L until 4L).map(i =>
        Streams.ArrivingResponse(p, i, s"t$p-$i", (p * 7 + i * 13) % 1000))
    }
    val (b1, b2) = all.splitAt(17) // ragged split: some prompts span batches
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    // latest emitted row per prompt = the running selection
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("prompt_id")).orderBy(col("n").desc)
    val streamed = spark.table("bestofn")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("prompt_id", "n", "best_id", "best_milli", "sum_milli",
        "margin_x_n_milli")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val batch = graft.ops.Preference.bestOfN(
        all.map(r => (r.prompt_id, r.resp_id, r.text, r.score_milli))
          .toDF("prompt_id", "resp_id", "text", "score_milli"))
      .select("prompt_id", "n", "best_id", "best_milli", "sum_milli",
        "margin_x_n_milli")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    q.stop()
  }

  test("streaming scene cuts: per-batch decode matches the batch kernel, stateless") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ArrivingMedia]
    val q = Streams.streamingSceneCuts(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("scenecuts").start()
    val clips = (0L until 8L).map(id =>
      Streams.ArrivingMedia(id, graft.ops.Avi.encodeSyntheticMjpegCut(id, 5)))
    mem.addData(clips.take(4): _*)
    q.processAllAvailable()
    mem.addData(clips.drop(4): _*)
    q.processAllAvailable()
    val streamed = spark.table("scenecuts").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_cuts"),
        r.getAs[Int]("first_cut"))).toSet
    // batch twin over the union — identical kernel, identical rows
    val batch = graft.ops.Multimodal.sceneCuts(spark,
        clips.map(m => (m.doc_id, m.media)).toDF("doc_id", "media"))
      .collect().map(sc => (sc.doc_id, sc.n_cuts, sc.first_cut)).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    streamed.foreach { case (id, nCuts, cut) =>
      assert(nCuts == 1 && cut == (id % 3).toInt + 1, s"doc $id planted cut lost")
    }
    q.stop()
  }

  test("flatMapGroupsWithState keeps running totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.UserEvent]
    val q = Streams.runningTotals(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("running").start()
    mem.addData(Streams.UserEvent(1, "a", 10.0), Streams.UserEvent(1, "b", 5.0))
    q.processAllAvailable()
    mem.addData(Streams.UserEvent(1, "c", 1.0))
    q.processAllAvailable()
    val rows = spark.table("running").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Double]("total")))
    assert(rows.contains((1L, 3L, 16.0))) // state carried across batches
    q.stop()
  }

  test("transformWithState keeps typed ValueState across batches (RocksDB provider)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB provider; scope it to
    // this query's session clone via the conf and restore after
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streams.UserEvent]
      val q = Streams.runningTotalsTws(spark, mem.toDS()).writeStream
        .outputMode("update").format("memory").queryName("running_tws").start()
      mem.addData(Streams.UserEvent(1, "a", 10.0), Streams.UserEvent(1, "b", 5.0),
        Streams.UserEvent(2, "a", 7.0))
      q.processAllAvailable()
      mem.addData(Streams.UserEvent(1, "c", 1.0))
      q.processAllAvailable()
      val rows = spark.table("running_tws").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n"), r.getAs[Double]("total")))
      assert(rows.contains((1L, 3L, 16.0)), rows.mkString(","))
      assert(rows.contains((2L, 1L, 7.0)))
      // same final state the legacy flatMapGroupsWithState form produces
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming Misra-Gries: heavy terms survive batches, error bounded, state capped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Streams.ShardedTerm]
      val k = 8
      val q = Streams.streamingHeavyHitters(spark, mem.toDS(), k = k).writeStream
        .outputMode("update").format("memory").queryName("mg_stream").start()
      // batch 1: "hot" × 30 + 20 distinct rare; batch 2: "hot" × 10,
      // "warm" × 15, 10 more rare — totals: N = 85, hot 40, warm 15
      def rare(lo: Int, n: Int) = (lo until lo + n).map(i => Streams.ShardedTerm(0, s"r$i"))
      mem.addData(Seq.fill(30)(Streams.ShardedTerm(0, "hot")) ++ rare(0, 20): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(10)(Streams.ShardedTerm(0, "hot")) ++
        Seq.fill(15)(Streams.ShardedTerm(0, "warm")) ++ rare(100, 10): _*)
      q.processAllAvailable()
      // Update-mode memory sink appends snapshots; the LAST batch's
      // rows are the live summary
      val all = spark.table("mg_stream").collect()
        .map(r => (r.getAs[String]("term"), r.getAs[Long]("lo")))
      val last = all.groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).last }
      val n = 85L
      // guarantee: true freq > N/(k+1) ≈ 9.4 ⇒ present; hot (40) and warm (15) qualify
      assert(last.contains("hot") && last.contains("warm"), last.toString)
      // undercount: lo ≤ true, true − lo ≤ N/(k+1)
      assert(last("hot") <= 40L && 40L - last("hot") <= n / (k + 1))
      assert(last("warm") <= 15L && 15L - last("warm") <= n / (k + 1))
      // capped state: never more than k live counters per shard
      assert(last.size <= k)
      q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming as-of attribution matches the batch operator across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streams.TypedEvent
    val mem = MemoryStream[TypedEvent]
    val q = Streams.asofAttribution(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("asof_attr").start()
    // batch 1: out-of-order inside the batch (purchase row first)
    mem.addData(
      TypedEvent(1L, 102L, "purchase", 50L),
      TypedEvent(1L, 100L, "view", 10L),
      TypedEvent(1L, 101L, "view", 10L),   // tie on ts: greater id wins
      TypedEvent(2L, 200L, "purchase", 5L)) // no view history -> null
    q.processAllAvailable()
    // batch 2: state (user 1's last view @10) carries over
    mem.addData(
      TypedEvent(1L, 103L, "view", 60L),
      TypedEvent(1L, 104L, "purchase", 70L))
    q.processAllAvailable()
    val rows = spark.table("asof_attr").collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (if (r.isNullAt(3)) -1L else r.getAs[Long]("last_view_id"))).toMap
    assert(rows == Map(102L -> 101L, 200L -> -1L, 104L -> 103L))

    // the batch operator agrees on the event-time-ordered whole
    val all = Seq(
      (102L, 1L, 50L), (104L, 1L, 70L), (200L, 2L, 5L)).toDF("event_id", "user_id", "ts_us")
    val views = Seq(
      (100L, 1L, 10L), (101L, 1L, 10L), (103L, 1L, 60L))
      .toDF("view_id", "k", "view_ts_us").withColumnRenamed("k", "user_id")
    val batch = graft.ops.AsofJoin.asofBackward(all, views, "user_id",
        "ts_us", "view_ts_us", "view_id", "last_")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(3)) -1L else r.getAs[Long]("last_view_id"))).toMap
    assert(batch == rows)
    q.stop()
  }

  test("as-of attribution: late purchases and same-ts view/purchase ties match batch semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streams.TypedEvent
    val mem = MemoryStream[TypedEvent]
    val q = Streams.asofAttribution(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("asof_attr2").start()
    // same-ts tie: view id 9 > purchase id 5 — view must win (inclusive)
    mem.addData(
      TypedEvent(1L, 5L, "purchase", 100L),
      TypedEvent(1L, 9L, "view", 100L),
      TypedEvent(2L, 20L, "view", 100L))
    q.processAllAvailable()
    // late purchase: event-time 60 < stored view ts 100 -> unattributed
    mem.addData(TypedEvent(2L, 21L, "purchase", 60L))
    q.processAllAvailable()
    val rows = spark.table("asof_attr2").collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (if (r.isNullAt(3)) -1L else r.getAs[Long]("last_view_id"))).toMap
    assert(rows == Map(5L -> 9L, 21L -> -1L))
  }

  test("bounded-history as-of attribution matches batch for late purchases") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import Streams.TypedEvent
    val mem = MemoryStream[TypedEvent]
    val q = Streams.asofAttributionBounded(spark, mem.toDS(), maxLatenessUs = 100L)
      .writeStream.outputMode("append").format("memory").queryName("asof_b").start()
    // two views; the single-pair operator would keep only v2@20
    mem.addData(
      TypedEvent(1L, 1L, "view", 10L),
      TypedEvent(1L, 2L, "view", 20L))
    q.processAllAvailable()
    // late purchase @15 must attribute to the SUPERSEDED view v1@10 —
    // the exact divergence the single-pair form documents away
    mem.addData(TypedEvent(1L, 3L, "purchase", 15L))
    q.processAllAvailable()
    // beyond-horizon trim: advance time far past the window, then a
    // purchase still sees the (sole retained) newest view
    mem.addData(TypedEvent(1L, 4L, "view", 500L))
    q.processAllAvailable()
    mem.addData(TypedEvent(1L, 5L, "purchase", 510L))
    q.processAllAvailable()
    val rows = spark.table("asof_b").collect()
      .map(r => r.getAs[Long]("purchase_id") ->
        (if (r.isNullAt(3)) -1L else r.getAs[Long]("last_view_id"))).toMap
    assert(rows == Map(3L -> 1L, 5L -> 4L))

    // full batch parity on the same event set
    val purchases = Seq((3L, 1L, 15L), (5L, 1L, 510L)).toDF("event_id", "user_id", "ts_us")
    val views = Seq((1L, 1L, 10L), (2L, 1L, 20L), (4L, 1L, 500L))
      .toDF("view_id", "user_id", "view_ts_us")
    val batch = graft.ops.AsofJoin.asofBackward(purchases, views, "user_id",
        "ts_us", "view_ts_us", "view_id", "last_")
      .collect().map(r => r.getAs[Long]("event_id") ->
        (if (r.isNullAt(3)) -1L else r.getAs[Long]("last_view_id"))).toMap
    assert(batch == rows)
    q.stop()
  }

  test("stream-stream interval join matches within-window pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, String)]
    val memB = MemoryStream[(Timestamp, Long, String)]
    val a = memA.toDF().toDF("ts", "user_id", "event_type")
    val b = memB.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.intervalJoin(a, b, "30 minutes", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("ijoin").start()
    memA.addData((ts(0), 1L, "click"), (ts(0), 2L, "click"))
    memB.addData((ts(10), 1L, "buy"), (ts(50), 1L, "buy"), (ts(5), 3L, "buy"))
    q.processAllAvailable()
    val rows = spark.table("ijoin").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("type_b")))
    // only user 1's buy at +10min is within 30min; +50min and user 3 excluded
    assert(rows.toSeq == Seq((1L, "buy")))
    q.stop()
  }

  test("left-outer interval join emits unmatched rows only after the watermark expires them") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memA = MemoryStream[(Timestamp, Long, String)]
    val memB = MemoryStream[(Timestamp, Long, String)]
    val a = memA.toDF().toDF("ts", "user_id", "event_type")
    val b = memB.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.intervalJoinOuter(a, b, "30 minutes", "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("ojoin").start()
    memA.addData((ts(0), 1L, "click"), (ts(0), 2L, "click"))
    memB.addData((ts(10), 1L, "buy"))
    q.processAllAvailable()
    def rows() = spark.table("ojoin").collect()
      .map(r => (r.getAs[Long]("user_id"),
        Option(r.getAs[String]("type_b")).getOrElse("NONE"))).toSet
    // user 1 matched; user 2 unmatched but NOT yet emitted — the
    // watermark hasn't proven its window empty
    assert(rows() == Set((1L, "buy")))
    // late traffic pushes event-time forward: watermark = 200−60 =
    // +140min > user 2's window end (+30min) → its null row must emit
    memA.addData((ts(200), 9L, "click"))
    memB.addData((ts(200), 8L, "buy"))
    q.processAllAvailable()
    assert(rows().contains((2L, "NONE")), s"unmatched row missing: ${rows()}")
    assert(!rows().exists(r => r._1 == 9L), "user 9 must still be held in state")
    q.stop()
  }

  test("dedup-within-watermark drops near dups but re-admits keys after state expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val df = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.dedupWithinWatermark(df, Seq("user_id", "event_type"), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("wmdedup").start()
    mem.addData((ts(0), 1L, "click"))
    q.processAllAvailable()
    mem.addData((ts(5), 1L, "click")) // dup within the window: dropped
    q.processAllAvailable()
    def n() = spark.table("wmdedup").count()
    assert(n() == 1L)
    // push the watermark far past the first sighting (+300 − 60 = +240)
    mem.addData((ts(300), 2L, "view"))
    q.processAllAvailable()
    // the key's state has been evicted — a recurrence re-emits,
    // which plain dropDuplicates would (incorrectly for bounded
    // state) still suppress
    mem.addData((ts(310), 1L, "click"))
    q.processAllAvailable()
    val users = spark.table("wmdedup").collect().map(_.getAs[Long]("user_id")).toSeq
    assert(n() == 3L, s"rows: ${users.mkString(",")}")
    assert(users.count(_ == 1L) == 2)
    q.stop()
  }

  test("file-source stream over the real events table matches batch counts") {
    import spark.implicits._
    // stream the driver's events parquet as files arrive (one batch),
    // through the same windowing expressions the batch gate verifies.
    // (Events.events sets nanosAsLong; restored below so other suites
    // sharing this session see default parquet semantics.)
    val prevNanos = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    try {
    val batchDf = graft.queries.Events.events(spark, sfDir)
    val expected = batchDf
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    // the file source needs a directory to watch
    val streamDir = tempDir("events-stream")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
    val normalized = graft.queries.Events.normalize(stream)
    val q = Streams.tumblingCounts(normalized, "1 hour", "2 hours")
      .writeStream.outputMode("complete").format("memory").queryName("filestream").start()
    q.processAllAvailable()
    val got = spark.table("filestream").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getAs[Long]("n")).toMap
    q.stop()
    assert(got == expected)
    } finally prevNanos match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
  }

  test("HCS plate: metadata round-trip, keyed lookup, streaming field upsert") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hcs").toString + "/plate.zarr"
    val plate = Plate(
      rows = Seq(PlateRow("A"), PlateRow("B")),
      columns = Seq(PlateColumn("1"), PlateColumn("2")),
      wells = Seq(PlateWellIndex("A/1", 0, 0), PlateWellIndex("B/2", 1, 1)),
      acquisitions = Seq(PlateAcquisition(0, Some("acq0"))))
    Hcs.toHcsZarr(dir, plate)

    val mem = MemoryStream[Streams.ArrivingField]
    val ckpt = tempDir("hcs-ckpt").toString
    val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
    val vals = Array.tabulate(64 * 64)(i => (i % 500).toDouble)
    mem.addData(Streams.ArrivingField("A/1", "0", 64, 64, vals, Some(0)))
    q.processAllAvailable()
    // replay the same field (at-least-once) + a second field
    mem.addData(Streams.ArrivingField("A/1", "0", 64, 64, vals, Some(0)))
    mem.addData(Streams.ArrivingField("A/1", "1", 64, 64, vals, Some(0)))
    q.processAllAvailable()
    q.stop()

    val back = Hcs.fromHcsZarr(dir)
    assert(back.plate.wells.map(_.path) == Seq("A/1", "B/2"))
    val well = back.getWell("A/1").get
    assert(well.images.map(_.path).sorted == Seq("0", "1")) // replay did not duplicate
    assert(back.getWell(0, 0).isDefined && back.getWell(1, 0).isEmpty)
    val img = back.getImage(spark, "A/1", "0")
    assert(img.levels.head.meta.shape == Seq(64L, 64L))
    assert(graft.operators.ChunkOps.toArray(
      img.levels.head.chunks, img.levels.head.meta).toSeq == vals.toSeq)
    val cat = back.imagesDf(spark)
    assert(cat.count() == 2)
    assert(back.wellsDf(spark).filter(col("row_name") === "A").count() == 1)
  }

  test("HCS ingest never materializes pixel payloads on the driver") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("hcs-big").toString + "/plate.zarr"
    Hcs.toHcsZarr(dir, Plate(
      rows = Seq(PlateRow("A")), columns = Seq(PlateColumn("1")),
      wells = Seq(PlateWellIndex("A/1", 0, 0)), acquisitions = Seq.empty))

    // every task's serialized result is tracked; a driver collect of
    // the field would ship the whole ~8 MB payload as a task result
    val resultSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) resultSizes.add(te.taskMetrics.resultSize)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val mem = MemoryStream[Streams.ArrivingField]
      val ckpt = tempDir("hcs-big-ckpt").toString
      val q = Streams.hcsIngest(spark, mem.toDS(), dir, ckpt)
      val h = 1024
      val payloadBytes = h.toLong * h * 8
      mem.addData(Streams.ArrivingField("A/1", "0", h, h,
        Array.tabulate(h * h)(i => (i % 1000).toDouble), None))
      q.processAllAvailable()
      q.stop()
      // listener bus is async; give queued task-end events a moment
      Thread.sleep(1000)
      val maxResult = resultSizes.toArray(Array.empty[java.lang.Long]).map(_.toLong).max
      assert(maxResult < payloadBytes / 4,
        s"a task shipped $maxResult bytes to the driver (payload $payloadBytes)")
    } finally spark.sparkContext.removeSparkListener(listener)

    val img = Hcs.fromHcsZarr(dir).getImage(spark, "A/1", "0")
    assert(img.levels.head.meta.shape == Seq(1024L, 1024L))
    // spot-check content without a full driver materialization
    val vv = graft.operators.ChunkOps.voxelView(spark, img.levels.head.chunks,
      img.levels.head.meta)
    assert(vv.filter(col("y") === 3 && col("x") === 7).select("value")
      .head().getDouble(0) == ((3 * 1024 + 7) % 1000).toDouble)
  }

  test("streaming near-dup candidates match the batch LSH operator across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // three near-identical docs plus noise, split across two batches
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> base,
      2L -> (base + " extra"),
      3L -> ((21 to 40).map(i => s"z$i").mkString(" ")),
      4L -> base.replace("w5", "q5"),
      5L -> ((41 to 60).map(i => s"y$i").mkString(" ")))
    val mem = MemoryStream[Streams.ArrivingDoc]
    val q = Streams.streamingNearDupCandidates(spark,
        mem.toDS(), k = 3, numHashes = 64, numBands = 16)
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_cands").start()
    mem.addData(docs.take(2).map { case (id, t) => Streams.ArrivingDoc(id, t) }: _*)
    q.processAllAvailable()
    mem.addData(docs.drop(2).map { case (id, t) => Streams.ArrivingDoc(id, t) }: _*)
    q.processAllAvailable()
    // replay of batch-2 docs must not re-emit pairs
    mem.addData(Streams.ArrivingDoc(4L, base.replace("w5", "q5")))
    q.processAllAvailable()
    val streamed = spark.table("neardup_cands").select("doc_a", "doc_b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()

    val batch = graft.ops.TextDedup.lshCandidates(
        graft.ops.TextDedup.minHashSignatures(
          docs.toDF("doc_id", "text"), numHashes = 64), numBands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, 2L))) // the cross-batch pair
  }

  test("stream-static incremental screen verifies arriving docs against the reference") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val refDocs = Seq(
      (10L, base),                                        // exact clone source
      (11L, base + " extra"),                             // superset
      (12L, (21 to 40).map(i => s"z$i").mkString(" ")))   // unrelated
      .toDF("doc_id", "text")
    val mem = MemoryStream[Streams.ArrivingDoc]
    val q = Streams.streamingIncrementalScreen(spark, mem.toDS(), refDocs,
        minJaccard = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("inc_screen").start()
    mem.addData(Streams.ArrivingDoc(1L, base))            // batch 1: dup of 10/11
    q.processAllAvailable()
    mem.addData(
      Streams.ArrivingDoc(2L, (41 to 60).map(i => s"y$i").mkString(" ")), // clean
      Streams.ArrivingDoc(1L, base))                      // replay of doc 1
    q.processAllAvailable()
    val got = spark.table("inc_screen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    q.stop()
    // doc 1 matches refs 10 (J = 1.0) and 11 (J = 18/19); the replay
    // re-emits nothing; doc 2 emits nothing
    assert(got.length == 2, got.mkString(","))
    val byRef = got.map(g => g._2 -> g).toMap
    assert(byRef(10L) == ((1L, 10L, 1.0)))
    assert(math.abs(byRef(11L)._3 - 18.0 / 19.0) < 1e-12)
  }

  test("streaming budget gate carries per-source totals across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streams.ArrivingSourcedDoc]
    // srcA budget 10 tokens, srcB 3, srcC absent (admits nothing)
    val q = Streams.streamingBudgetGate(spark, mem.toDS(),
        Map("srcA" -> 10L, "srcB" -> 3L))
      .writeStream.outputMode("append").format("memory")
      .queryName("budget_gate").start()
    // batch 1: srcA uses 6 of 10; srcB exactly fills; srcC rejected
    mem.addData(
      Streams.ArrivingSourcedDoc(1L, "srcA", "one two three four"),
      Streams.ArrivingSourcedDoc(2L, "srcA", "five six"),
      Streams.ArrivingSourcedDoc(3L, "srcB", "a b c"),
      Streams.ArrivingSourcedDoc(4L, "srcC", "x y"))
    q.processAllAvailable()
    // batch 2: srcA doc 5 fits (6+4=10); doc 6 pushes past and is
    // dropped; once over, the PREFIX semantics keep doc 7 out too
    // even though it alone would fit; srcB is already full
    mem.addData(
      Streams.ArrivingSourcedDoc(5L, "srcA", "seven eight nine ten"),
      Streams.ArrivingSourcedDoc(6L, "srcA", "eleven twelve"),
      Streams.ArrivingSourcedDoc(7L, "srcA", "w"),
      Streams.ArrivingSourcedDoc(8L, "srcB", "z"))
    q.processAllAvailable()
    val got = spark.table("budget_gate").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    q.stop()
    assert(got.keySet == Set(1L, 2L, 3L, 5L))
    assert(got(1L) == (("srcA", 4L, 4L)))
    assert(got(2L) == (("srcA", 2L, 6L)))
    assert(got(3L) == (("srcB", 3L, 3L)))
    assert(got(5L) == (("srcA", 4L, 10L))) // cross-batch cumulative
  }

  test("streaming crawl ingest first-sights canonical URLs across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Warc
    val tmp = tempDir("crawlstream")
    def rec(id: Long, url: String, date: String, body: String) = {
      val html = body.getBytes("UTF-8")
      val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
        .getBytes("US-ASCII") ++ html
      Warc.WarcRecord("", "response", s"<urn:uuid:$id>", url, date,
        "application/http; msgtype=response", http.length.toLong, http)
    }
    val a1 = tmp.resolve("a1.warc.gz").toString
    Warc.writeArchive(a1, Seq(
      rec(1, "https://www.example.com/page", "2026-08-14T00:00:00Z", "<p>first</p>"),
      rec(2, "https://example.com/other", "2026-08-14T00:01:00Z", "<p>other</p>")))
    val a2 = tmp.resolve("a2.warc.gz").toString
    Warc.writeArchive(a2, Seq(
      // same canonical as rec 1: www + fragment differences
      rec(3, "https://example.com/page#frag", "2026-08-14T01:00:00Z", "<p>recrawl</p>"),
      // WARC 1.1 fractional-second date: must parse, not null out at
      // the watermark
      rec(4, "https://example.com/new", "2026-08-14T01:01:00.123456Z", "<p>new</p>")))
    val mem = MemoryStream[String]
    val q = Streams.crawlIngest(spark, mem.toDS()).writeStream
      .outputMode("append").format("memory").queryName("crawl_ingest").start()
    mem.addData(a1)
    q.processAllAvailable()
    mem.addData(a2)
    q.processAllAvailable()
    val got = spark.table("crawl_ingest").collect()
      .map(r => r.getString(1) -> r.getString(4)).toMap
    q.stop()
    assert(got.size == 3) // the re-crawl of /page is dropped
    assert(got("https://example.com/page") == "<p>first</p>") // first sighting wins
    assert(got.keySet == Set("https://example.com/page",
      "https://example.com/other", "https://example.com/new"))
  }
}
