package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.hcs.Hcs
import graft.meta.Model._
import graft.operators.ChunkOps

/** Structured Streaming surface (SURVEY §2.9):
  *
  *  - event-time transforms over a stream with the SAME expressions
  *    the batch gate verifies (graft.queries.Events) — watermarked
  *    tumbling/session windows, stateful dedup;
  *  - custom state via flatMapGroupsWithState (running per-user
  *    counters with timeout);
  *  - the HCS acquisition workflow: fields-of-view arriving on a
  *    stream are upserted into the plate store per micro-batch via
  *    foreachBatch (at-least-once idempotent — the well-attrs merge
  *    is last-writer-wins, `py/ngff_zarr/hcs.py:538-765`).
  */
object Streams {

  /** Watermarked tumbling-window aggregation (append mode capable). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Watermarked session windows per user. */
  def sessionCounts(events: DataFrame, gap: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))

  /** Stateful dedup on (user_id, event_type) bounded by watermark. */
  def dedup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates("user_id", "event_type")

  /** Bounded-state dedup: like [[dedup]] but keys are remembered only
    * WITHIN the watermark delay (`dropDuplicatesWithinWatermark`) —
    * state per key is evicted once the watermark passes it, so a key
    * recurring after the window legitimately re-emits. The right
    * contract for endless streams where exact forever-dedup would
    * grow state with distinct keys forever; the plain form's state
    * never shrinks.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming canonical-URL dedup — the ingest-time form of
    * [[graft.ops.Urls.urlDedup]]: arriving crawl records keep only
    * the FIRST sighting of each canonical URL
    * ([[graft.ops.Urls.canonicalize]]: lowercase scheme/host, `www.`
    * and default-port strip, fragment/tracking-param removal).
    * `dropDuplicates` state is keyed by the canonical string and
    * bounded by the event-time watermark, so re-crawls inside the
    * window dedup exactly and the state store never grows past the
    * window's distinct-URL count. Canonicalization itself is a pure
    * codegen'd projection — batch and streaming share the one
    * definition, so ingest-time and corpus-time dedup agree.
    */
  def urlDedup(records: DataFrame, watermark: String = "24 hours"): DataFrame =
    records
      .withColumn("canonical_url", graft.ops.Urls.canonicalize(col("url")))
      .withWatermark("ts", watermark)
      .dropDuplicates("canonical_url")

  /** Streaming WARC crawl ingest: archive PATHS arrive on a stream (a
    * manifest topic/directory — exactly how crawls announce new
    * segments; the archives themselves are non-splittable gz, so the
    * path is the unit of streaming work like it is the unit of batch
    * parallelism). Each micro-batch statelessly parses its archives
    * ([[graft.sources.Warc.parseStream]]), splits HTTP responses, and
    * keeps the FIRST sighting per canonical URL with WARC-Date as
    * event time — so a re-crawl of the same page inside the watermark
    * dedups at ingest, with state bounded by the window's distinct-URL
    * count. Batch and streaming share the canonicalize projection and
    * the WARC parser, so corpus-time and ingest-time results agree.
    *
    * Output: (url, canonical_url, ts, http_status, html).
    */
  def crawlIngest(spark: SparkSession, paths: Dataset[String],
      watermark: String = "24 hours"): DataFrame = {
    import spark.implicits._
    import graft.sources.Warc
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    paths.flatMap { p =>
      Warc.parseStream(Warc.openMaybeGz(p, hconf), p)
        .filter(_.record_type == "response")
        .map { r =>
          val (head, body) = Warc.httpSplit(r.payload).getOrElse(
            throw new IllegalArgumentException(
              s"$p: response record ${r.record_id} payload is not HTTP"))
          val status = Warc.httpStatus(head, s"$p record ${r.record_id}")
          (r.target_uri, r.warc_date, status,
            new String(body, java.nio.charset.StandardCharsets.UTF_8))
        }
    }.toDF("url", "warc_date", "http_status", "html")
      // the ISO-8601 cast accepts BOTH WARC 1.0 seconds and WARC 1.1
      // fractional seconds; a fixed ssX pattern nulls the latter and
      // the watermark would silently drop whole 1.1 segments
      .withColumn("ts", col("warc_date").cast("timestamp"))
      .withColumn("canonical_url", graft.ops.Urls.canonicalize(col("url")))
      .withWatermark("ts", watermark)
      .dropDuplicates("canonical_url")
      .select(col("url"), col("canonical_url"), col("ts"),
        col("http_status"), col("html"))
  }

  /** Watermarked stream-stream interval join: match each event on
    * stream A to events on stream B for the same user within
    * `within` AFTER it. State on both sides is bounded by the
    * watermarks + the join time bound.
    */
  def intervalJoin(a: DataFrame, b: DataFrame, within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val aw = a.withWatermark("ts", watermark).alias("a")
    val bw = b.withWatermark("ts", watermark).alias("b")
    aw.join(bw, expr(
      s"""a.user_id = b.user_id AND
          b.ts >= a.ts AND b.ts <= a.ts + interval $within"""))
      .select(col("a.user_id").as("user_id"),
        col("a.ts").as("ts_a"), col("b.ts").as("ts_b"),
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
  }

  /** Left-outer form of [[intervalJoin]]: stream-A events with NO
    * within-window match emit once with null B columns — but only
    * after the watermark proves no matching B row can still arrive
    * (Spark holds the unmatched left row in state until the time
    * bound expires). The attribution table that also accounts for
    * the non-converting events.
    */
  def intervalJoinOuter(a: DataFrame, b: DataFrame, within: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val aw = a.withWatermark("ts", watermark).alias("a")
    val bw = b.withWatermark("ts", watermark).alias("b")
    aw.join(bw, expr(
      s"""a.user_id = b.user_id AND
          b.ts >= a.ts AND b.ts <= a.ts + interval $within"""), "left_outer")
      .select(col("a.user_id").as("user_id"),
        col("a.ts").as("ts_a"), col("b.ts").as("ts_b"),
        col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
  }

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Spark-4 `transformWithState` processor: per-user running totals
    * in an explicit typed `ValueState` variable — the modern
    * arbitrary-state API (successor to flatMapGroupsWithState):
    * named state variables with per-variable TTL, RocksDB-backed,
    * schema-evolvable. Emits the updated running row per key per
    * micro-batch, same contract as [[runningTotals]].
    */
  final class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserRunning] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[UserRunning]("running",
        org.apache.spark.sql.Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      val prev = if (state.exists()) state.get() else UserRunning(key, 0L, 0.0)
      var n = prev.n
      var total = prev.total
      rows.foreach { e => n += 1; total += e.value }
      val out = UserRunning(key, n, total)
      state.update(out)
      Iterator.single(out)
    }
  }

  final case class ShardedTerm(shard: Int, term: String)
  final case class MgCandidate(shard: Int, term: String, lo: Long)

  /** Streaming Misra–Gries heavy hitters over an unbounded term
    * stream — the telemetry primitive behind "which hosts/tokens/
    * n-grams dominate the crawl RIGHT NOW" when the key domain is
    * unbounded and exact per-key state would grow without limit.
    * State is ONE capped k-counter summary per shard (a typed
    * ValueState holding the counter map), so the state store size is
    * shards × k whatever the stream length. The classic guarantee
    * carries over batch boundaries because MG is a fold: every term
    * with true shard-frequency > N/(k+1) is in the summary, and each
    * reported `lo` undercounts by at most N/(k+1) (N = shard's total
    * terms seen). Each micro-batch emits the shard's CURRENT
    * candidates (Update mode — downstream reads the latest snapshot).
    */
  final class MisraGriesProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, ShardedTerm, MgCandidate] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Map[String, Long]] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      state = getHandle.getValueState[Map[String, Long]]("mg",
        org.apache.spark.sql.Encoders.kryo[Map[String, Long]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Int, rows: Iterator[ShardedTerm],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[MgCandidate] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      if (state.exists()) m ++= state.get()
      rows.foreach { r =>
        val t = r.term
        if (m.contains(t)) m(t) += 1L
        else if (m.size < k) m(t) = 1L
        else {
          // the MG step: decrement all, evict zeros
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          m.keysIterator.foreach { kk =>
            val nv = m(kk) - 1L
            if (nv == 0L) dead += kk else m(kk) = nv
          }
          dead.foreach(m.remove)
        }
      }
      state.update(m.toMap)
      m.iterator.map { case (t, c) => MgCandidate(key, t, c) }
    }
  }

  /** Terms (already sharded by the caller — e.g. hash(term) %
    * nShards) → streaming per-shard heavy-hitter snapshots.
    * Requires the RocksDB state store provider, like every
    * transformWithState operator here.
    */
  def streamingHeavyHitters(spark: SparkSession, terms: Dataset[ShardedTerm],
      k: Int = 64): Dataset[MgCandidate] = {
    import spark.implicits._
    terms.groupByKey(_.shard)
      .transformWithState(new MisraGriesProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** [[runningTotals]] re-expressed on the transformWithState API.
    * Requires the RocksDB state store provider (set on the session by
    * the caller/spec — the HDFS-backed default does not support this
    * operator).
    */
  def runningTotalsTws(spark: SparkSession,
      events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Custom state: running per-user totals via flatMapGroupsWithState
    * (the KeyValueGroupedDataset path). State lives in the state
    * store across micro-batches; eviction policy belongs to the
    * caller (watermark on the input or explicit state TTL config).
    */
  def runningTotals(spark: SparkSession, events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n
          var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRunning(user, n, total)
          state.update(next)
          Iterator(next)
      }
  }

  final case class ArrivingResponse(prompt_id: Long, resp_id: Long,
      text: String, score_milli: Long)
  final case class BestRunning(prompt_id: Long, n: Long, best_id: Long,
      best_text: String, best_milli: Long, sum_milli: Long,
      margin_x_n_milli: Long)

  /** Online best-of-n — the streaming twin of
    * [[graft.ops.Preference.bestOfN]]: candidate responses arrive as
    * they are scored, and each prompt's running selection updates per
    * micro-batch. Per-prompt state is ONE (n, best, sum) triple —
    * constant size regardless of candidate count, so the stream runs
    * forever. Rows inside a micro-batch fold in (score desc, id asc)
    * decision order via the same (score, −id) comparison as batch, so
    * batch composition never changes the selection; after any prefix
    * of arrivals the emitted row equals the batch operator on that
    * prefix. Append mode: one updated row per (prompt, batch) — the
    * consumer keeps the latest per prompt.
    */
  def streamingBestOfN(spark: SparkSession,
      responses: Dataset[ArrivingResponse]): Dataset[BestRunning] = {
    import spark.implicits._
    responses.groupByKey(_.prompt_id)
      .flatMapGroupsWithState[BestRunning, BestRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (prompt: Long, rows: Iterator[ArrivingResponse], state: GroupState[BestRunning]) =>
          val prev = state.getOption
          var n = prev.map(_.n).getOrElse(0L)
          var sum = prev.map(_.sum_milli).getOrElse(0L)
          var bestId = prev.map(_.best_id).getOrElse(Long.MaxValue)
          var bestText = prev.map(_.best_text).getOrElse("")
          var bestMilli = prev.map(_.best_milli).getOrElse(Long.MinValue)
          rows.foreach { r =>
            n += 1
            sum += r.score_milli
            if (r.score_milli > bestMilli ||
              (r.score_milli == bestMilli && r.resp_id < bestId)) {
              bestId = r.resp_id; bestText = r.text; bestMilli = r.score_milli
            }
          }
          val next = BestRunning(prompt, n, bestId, bestText, bestMilli,
            sum, n * bestMilli - sum)
          state.update(next)
          Iterator(next)
      }
  }

  final case class TypedEvent(user_id: Long, event_id: Long,
      event_type: String, ts_us: Long)
  final case class LastView(view_id: Long, ts_us: Long)
  final case class Attribution(user_id: Long, purchase_id: Long,
      purchase_ts_us: Long, last_view_id: Option[Long],
      last_view_ts_us: Option[Long])

  /** Streaming as-of attribution — the streaming twin of
    * `graft.ops.AsofJoin.asofBackward` (batch gate q39): every
    * purchase is attributed to the same user's most recent view at or
    * before it. Per-user state is ONE (view_id, ts) pair — constant
    * size per key regardless of history length, the property that
    * makes this run forever on an unbounded stream. Rows inside a
    * micro-batch are folded in (ts, event_id) order so batch
    * composition doesn't change results. Two documented divergences
    * from the batch operator, both inherent to single-pair state +
    * append mode (each purchase emits exactly once):
    *  - late VIEWS cannot retro-attribute purchases emitted in an
    *    earlier batch;
    *  - a late PURCHASE whose event time precedes the stored
    *    (newest) view goes out unattributed even when an OLDER view
    *    — since superseded in state — would have matched under batch
    *    semantics. [[asofAttributionBounded]] closes this for bounded
    *    lateness by keeping a lateness-trimmed view history; the
    *    single-pair form here is the minimal-state variant of the
    *    same trade, stated rather than hidden.
    */
  def asofAttribution(spark: SparkSession,
      events: Dataset[TypedEvent]): Dataset[Attribution] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastView, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TypedEvent], state: GroupState[LastView]) =>
          // views sort BEFORE purchases at equal ts (the batch
          // operator's inclusive r.t <= l.t puts right rows first)
          val sorted = rows.toArray.sortBy(e =>
            (e.ts_us, if (e.event_type == "view") 0 else 1, e.event_id))
          var last = state.getOption.orNull
          val out = Vector.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.event_type == "view") {
              // equal-timestamp views resolve to the greatest id,
              // matching the batch operator's tie rule
              if (last == null || e.ts_us > last.ts_us ||
                (e.ts_us == last.ts_us && e.event_id > last.view_id))
                last = LastView(e.event_id, e.ts_us)
            } else if (e.event_type == "purchase") {
              // a late purchase that precedes the stored view in event
              // time must NOT claim it (`view.ts <= purchase.ts` is
              // the contract); it goes out unattributed
              val m = Option(last).filter(_.ts_us <= e.ts_us)
              out += Attribution(user, e.event_id, e.ts_us,
                m.map(_.view_id), m.map(_.ts_us))
            }
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  final case class ViewHistory(views: List[LastView], maxTs: Long)

  /** [[asofAttribution]] with BATCH PARITY under bounded lateness:
    * per-user state keeps every view within `maxLatenessUs` of the
    * user's max event time (plus always the newest view), so a
    * purchase arriving up to that late still attributes to the
    * correct — possibly superseded — older view, exactly as the
    * batch operator would. Beyond the horizon it degrades to the
    * single-pair form (never worse). State per user is bounded by
    * view rate × lateness window; size the window like a watermark.
    */
  def asofAttributionBounded(spark: SparkSession, events: Dataset[TypedEvent],
      maxLatenessUs: Long): Dataset[Attribution] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ViewHistory, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TypedEvent], state: GroupState[ViewHistory]) =>
          val sorted = rows.toArray.sortBy(e =>
            (e.ts_us, if (e.event_type == "view") 0 else 1, e.event_id))
          val st = state.getOption.getOrElse(ViewHistory(Nil, Long.MinValue))
          var views = st.views
          var maxTs = st.maxTs
          val out = Vector.newBuilder[Attribution]
          sorted.foreach { e =>
            if (e.ts_us > maxTs) maxTs = e.ts_us
            if (e.event_type == "view") views = LastView(e.event_id, e.ts_us) :: views
            else if (e.event_type == "purchase") {
              // batch rule: greatest (ts, view_id) among views at or
              // before the purchase
              val eligible = views.filter(_.ts_us <= e.ts_us)
              val m = if (eligible.isEmpty) None
                else Some(eligible.maxBy(v => (v.ts_us, v.view_id)))
              out += Attribution(user, e.event_id, e.ts_us,
                m.map(_.view_id), m.map(_.ts_us))
            }
          }
          val kept = views.filter(_.ts_us >= maxTs - maxLatenessUs) match {
            case Nil => // horizon empty: keep the newest view only
              if (views.isEmpty) Nil
              else List(views.maxBy(v => (v.ts_us, v.view_id)))
            case ks => ks
          }
          state.update(ViewHistory(kept, maxTs))
          out.result().iterator
      }
  }

  final case class ArrivingDoc(doc_id: Long, text: String)
  final case class NearDupCandidate(doc_a: Long, doc_b: Long, band: Int)

  final case class ArrivingSourcedDoc(doc_id: Long, source: String, text: String)
  final case class BudgetAdmit(doc_id: Long, source: String,
      n_tokens: Long, cum_tokens: Long)

  /** Streaming token-budget gate — the ingestion twin of
    * [[graft.ops.BudgetSample.tokenBudgetSample]] (batch gate t59):
    * per-source running token totals persist across micro-batches and
    * a document is admitted iff the total INCLUDING it stays within
    * its source's budget. Prefix semantics match the batch operator
    * (the total advances even past rejected documents, so one
    * over-budget source shuts off rather than cherry-picking smaller
    * late arrivals); priority here is arrival order (doc_id within a
    * batch) — the stream IS the order, where the batch form imposes
    * the md5 shuffle.
    *
    * Shape: state is ONE Long per source (the running total) — no
    * per-doc state, so the store stays dimension-table-sized at any
    * corpus volume; Spark's versioned state commits make batch
    * replays start from the pre-batch total, so retries cannot
    * double-count. Sources absent from `budgets` admit nothing.
    */
  def streamingBudgetGate(spark: SparkSession, docs: Dataset[ArrivingSourcedDoc],
      budgets: Map[String, Long]): Dataset[BudgetAdmit] = {
    import spark.implicits._
    val budBc = spark.sparkContext.broadcast(budgets)
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, BudgetAdmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (src, rows, state) =>
          val bud = budBc.value.getOrElse(src, 0L)
          var cum = state.getOption.getOrElse(0L)
          val out = rows.toArray.sortBy(_.doc_id).flatMap { d =>
            val n = d.text.split(' ').count(_.nonEmpty).toLong
            cum += n
            if (cum <= bud)
              Some(BudgetAdmit(d.doc_id, src, n, cum))
            else None
          }
          state.update(cum)
          out.iterator
      }
  }

  /** Streaming incremental MinHash-LSH near-dup detection: every
    * arriving document is checked against EVERYTHING seen so far —
    * the streaming twin of `TextDedup.minHashNearDups`' candidate
    * stage (batch gate d42), sharing its exact kernels (shingle,
    * md5 Kirsch–Mitzenmacher signature, banding), so the candidate
    * set equals the batch operator's over the same corpus.
    *
    * Shape: signatures are stateless per-doc work; state lives per
    * (band, bucket) — the doc ids previously hashed into that bucket
    * — and a new arrival emits one candidate pair per prior occupant
    * plus pairs among same-batch arrivals. The same pair can surface
    * from several bands (exactly like the batch band join before its
    * `distinct`): consumers de-dup on (doc_a, doc_b) per sink batch
    * and run the exact-Jaccard verify there (foreachBatch), where the
    * document payloads live.
    *
    * Replays are idempotent: ids already in a bucket's state are
    * dropped, so at-least-once delivery cannot re-emit pairs. State
    * grows with the corpus — inherent to "dedup against everything
    * ever seen" (the batch index is corpus-sized too); production
    * deployments rotate the state store or periodically fold it into
    * a batch index.
    */
  def streamingNearDupCandidates(spark: SparkSession, docs: Dataset[ArrivingDoc],
      k: Int = 3, numHashes: Int = 64,
      numBands: Int = 16): Dataset[NearDupCandidate] = {
    import spark.implicits._
    import graft.ops.TextDedup
    val rowsPerBand = numHashes / numBands
    val banded = docs.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { d =>
        val sh = TextDedup.shinglesOf(d.text, k)
        if (sh.isEmpty) Iterator.empty
        else {
          val sig = TextDedup.signatureOfShingles(sh, numHashes, digest)
          (0 until numBands).iterator.map { b =>
            // bucket = 64-bit FNV-1a of the band's slot string. Unlike
            // the batch join (where a hash only shortens the shuffle
            // key), this key is DURABLE state — every (band, bucket)
            // lives in the state store for the corpus lifetime, so an
            // 8-byte key beats the ~70-byte slot string ~9×. A 64-bit
            // collision admits a false candidate pair, which the
            // downstream exact-Jaccard verify removes — the same
            // contract as any LSH bucket collision.
            var h = 0xcbf29ce484222325L
            val s = sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(",")
            var i = 0
            while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
            (d.doc_id, b, h)
          }
        }
      }
    }
    banded.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[List[Long], NearDupCandidate](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((band, _), rows, state) =>
          val prev = state.getOption.getOrElse(Nil)
          val prevSet = prev.toSet
          val fresh = rows.map(_._1).toArray.distinct.sorted
            .filterNot(prevSet) // replay-idempotent
          val out = Vector.newBuilder[NearDupCandidate]
          // new × old, then new × new (i < j keeps doc_a < doc_b —
          // ids only grow within `fresh`, and prev ids pair min-first)
          fresh.foreach { f =>
            prev.foreach { p =>
              out += NearDupCandidate(math.min(p, f), math.max(p, f), band)
            }
          }
          var i = 0
          while (i < fresh.length) {
            var j = i + 1
            while (j < fresh.length) {
              out += NearDupCandidate(fresh(i), fresh(j), band)
              j += 1
            }
            i += 1
          }
          if (fresh.nonEmpty) state.update(fresh.toList ::: prev)
          out.result().iterator
      }
  }

  /** 64-bit FNV-1a of a band's slot string — the durable band-bucket
    * key shared by the streaming LSH operators (see the key-size
    * discussion in [[streamingNearDupCandidates]]).
    */
  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  final case class ArrivingPage(url: String, text: String)
  final case class HostAggState(hashes: Set[Long], nDocs: Long, totalChars: Long)
  final case class HostRunning(host: String, n_docs: Long,
      n_unique_texts: Long, total_chars: Long, dup_ratio: Double)

  /** Streaming host-level quality stats — the ingest-time form of
    * [[graft.ops.Urls.hostStats]]: arriving crawl pages fold into
    * running per-host aggregates (page count, distinct-text count,
    * char mass, dup ratio), so a boilerplate-farm host is visible —
    * and cuttable — WHILE the crawl runs instead of after a corpus
    * pass. The canonical-host projection is the SAME Column
    * expression batch uses (applied before the typed state op), so
    * ingest-time and corpus-time stats agree.
    *
    * State per host is the distinct-text hash set (64-bit FNV over
    * the text — the identity proxy all streaming dedup state here
    * uses; batch counts md5 distinct, identical until a 64-bit
    * collision) plus three counters: state grows with a host's
    * DISTINCT texts, never with its page count. Each micro-batch
    * emits the updated running row per touched host (append mode,
    * latest row per host = current stats).
    */
  def streamingHostStats(spark: SparkSession,
      pages: Dataset[ArrivingPage]): Dataset[HostRunning] = {
    import spark.implicits._
    val hosts = pages.toDF()
      .withColumn("host", regexp_extract(
        graft.ops.Urls.canonicalize(col("url")), "^[a-z]+://([^/:?#]+)", 1))
      .select(col("host"), col("text")).as[(String, String)]
    hosts.groupByKey(_._1)
      .flatMapGroupsWithState[HostAggState, HostRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (host: String, rows: Iterator[(String, String)], state: GroupState[HostAggState]) =>
          val prev = state.getOption.getOrElse(HostAggState(Set.empty, 0L, 0L))
          var hs = prev.hashes
          var n = prev.nDocs
          var chars = prev.totalChars
          rows.foreach { case (_, text) =>
            n += 1
            chars += text.codePointCount(0, text.length)
            hs += fnv64(text)
          }
          state.update(HostAggState(hs, n, chars))
          Iterator(HostRunning(host, n, hs.size.toLong, chars,
            graft.ops.Similarity.round6(1.0 - hs.size.toDouble / n)))
      }
  }

  /** An arriving multimodal payload: opaque encoded bytes keyed by id. */
  final case class ArrivingMedia(doc_id: Long, media: Array[Byte])

  /** Scene-cut detection at ingest — the streaming form of
    * [[graft.ops.Multimodal.sceneCuts]]: each micro-batch runs the
    * SAME typed decode kernel batch uses (decode is per-payload, so
    * the operator is stateless — no watermark, no state store; a
    * video column flows through readStream exactly like batch).
    * Emits one append row per video: (doc_id, n_frames, n_cuts,
    * first_cut).
    */
  def streamingSceneCuts(spark: SparkSession, media: Dataset[ArrivingMedia],
      meanDiffThreshold: Int = 50): Dataset[graft.ops.Multimodal.SceneCuts] =
    graft.ops.Multimodal.sceneCuts(spark, media.toDF(), meanDiffThreshold)

  /** Stream-static incremental screen — the streaming form of
    * [[graft.ops.TextDedup.crossCorpusNearDups]]: arriving documents
    * are checked against a STATIC reference corpus. The reference is
    * banded once as a static DataFrame (re-planned from its cached
    * plan each micro-batch); each micro-batch bands only its own
    * docs, and candidate generation is a stream-STATIC inner join on
    * (band, bucket) — no stream state at all for candidates. The only
    * streaming state is the emitted-match dedup (`dropDuplicates` on
    * (doc_id, ref_id)), which grows with MATCHES — not with the
    * corpus — and also makes at-least-once replays idempotent.
    *
    * Emits one append row per verified match:
    * (doc_id, ref_id, jaccard), exact-Jaccard ≥ `minJaccard` — the
    * same verify contract as the batch screen.
    */
  def streamingIncrementalScreen(spark: SparkSession, docs: Dataset[ArrivingDoc],
      refDocs: DataFrame, k: Int = 3, numHashes: Int = 64, numBands: Int = 16,
      minJaccard: Double = 0.5): DataFrame = {
    import spark.implicits._
    import graft.ops.TextDedup
    val rowsPerBand = numHashes / numBands
    val refBanded = refDocs
      .select(col("doc_id").cast("long"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val sh = TextDedup.shinglesOf(text, k)
          if (sh.isEmpty) Iterator.empty
          else {
            val sig = TextDedup.signatureOfShingles(sh, numHashes, digest)
            (0 until numBands).iterator.map { b =>
              (id, b, fnv64(sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
                .mkString(",")))
            }
          }
        }
      }.toDF("ref_id", "band", "bucket")
    val refSets = TextDedup.shingleSets(refDocs, "doc_id", "text", k)
      .select(col("doc_id").as("ref_id"), col("sh").as("sh_r"))
    val newBanded = docs.mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { d =>
        val sh = TextDedup.shinglesOf(d.text, k)
        if (sh.isEmpty) Iterator.empty
        else {
          val sig = TextDedup.signatureOfShingles(sh, numHashes, digest)
          (0 until numBands).iterator.map { b =>
            (d.doc_id, sh, b, fnv64(sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
              .mkString(",")))
          }
        }
      }
    }.toDF("doc_id", "sh_n", "band", "bucket")
    newBanded
      .join(refBanded, Seq("band", "bucket"))
      .select(col("doc_id"), col("ref_id"), col("sh_n"))
      .dropDuplicates("doc_id", "ref_id")
      .join(refSets, "ref_id")
      .withColumn("inter", size(array_intersect(col("sh_n"), col("sh_r"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_n")) + size(col("sh_r")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
  }

  /** One arriving field-of-view: which well, which image slot, and a
    * flat payload (the acquisition instrument's output).
    */
  final case class ArrivingField(wellPath: String, imagePath: String,
      height: Int, width: Int, values: Array[Double], acquisition: Option[Int]) {
    def descriptor: FieldDescriptor =
      FieldDescriptor(wellPath, imagePath, height, width, acquisition)
  }

  /** The pixel-free projection of an [[ArrivingField]]: everything the
    * driver needs to plan one well-image upsert.
    */
  final case class FieldDescriptor(wellPath: String, imagePath: String,
      height: Int, width: Int, acquisition: Option[Int]) {
    def meta: ImageMeta = ImageMeta(Seq("y", "x"), Seq(height, width),
      Seq(math.min(256, height), math.min(256, width)), "uint16",
      Map("y" -> 1.0, "x" -> 1.0), Map("y" -> 0.0, "x" -> 0.0))
  }

  /** HCS streaming ingest: drain a stream of arriving fields into the
    * plate store, one idempotent upsert per field per micro-batch.
    * Commit protocol: well attrs merge is last-writer-wins; replays
    * rewrite identical chunk objects, so at-least-once delivery is
    * safe (the reference's implicit semantics).
    *
    * Scale shape: ONE distributed Spark job per micro-batch writes
    * every arriving field's chunk objects (each executor task
    * decomposes + compresses + puts the fields in its partition), and
    * one sequential driver pass writes the metadata-scale JSON tree
    * (group docs, well-attrs merges, per-image multiscale docs). At
    * hundreds of plates the driver schedules O(batches) jobs, not
    * O(fields) — the previous per-field filter+write loop rescanned
    * the cached batch and queued one tiny job per field, a driver
    * throughput ceiling at 345k fields.
    *
    * Only (wellPath, imagePath, shape, acquisition) descriptors ever
    * reach the driver; pixel payloads stay distributed — each field's
    * chunk table is cut from the batch by an executor-side
    * [[ChunkOps.decompose]], so a field larger than
    * `spark.driver.maxResultSize` ingests fine.
    */
  def hcsIngest(spark: SparkSession, fields: Dataset[ArrivingField], platePath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    fields.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[ArrivingField], _: Long) =>
        // at-least-once: replays within a batch collapse to one upsert.
        // dropDuplicates shuffles the batch by (well, image), which
        // also spreads fields across executor tasks for the write job.
        val uniq = batch.dropDuplicates("wellPath", "imagePath")
        // ONE distributed job per micro-batch (r13, VERDICT item 6):
        // each task writes its fields' (task-private) image metadata
        // trees + padded/compressed chunk objects AND emits the
        // pixel-free descriptor, so collecting the descriptors IS the
        // write job's action — the former separate descriptor-collect
        // job, and the per-batch persist/unpersist that fed the two
        // passes, are gone (the batch now executes exactly once). The
        // driver metadata pass moved AFTER the chunk job: ordering is
        // immaterial to the commit protocol (well-attrs merges are
        // last-writer-wins idempotent, replays rewrite identical
        // chunk objects), and a mid-batch failure replays the whole
        // batch either way.
        val hconf = graft.zarr.SerializableHadoopConf.broadcast()
        val pp = platePath
        val descriptors = uniq.mapPartitions { (it: Iterator[ArrivingField]) =>
          val st = new graft.zarr.ZarrStore(pp, Some(hconf.value))
          it.map { f =>
            val meta = f.descriptor.meta
            val image = s"${f.wellPath}/${f.imagePath}"
            // the image's one-level v0.4 metadata tree, consolidated copy
            // included (task-private: no other field shares its keys)
            graft.zarr.ZarrArray.metadataDocs(
              MultiscalesMeta.of(Seq(meta), "image", "0.4", Some(Method.ItkwasmBinShrink)),
              Seq(meta), Some("zstd"))
              .foreach { case (k, v) => st.writeString(s"$image/$k", v) }
            ChunkOps.decompose(f.values, meta).foreach { c =>
              st.writeBytes(graft.zarr.ZarrStore.chunkKey(2, s"$image/scale0/image", c.chunk_idx),
                graft.zarr.ZarrArray.encodeChunk(c.shape, c.data, meta.chunks, meta.dtype, Some("zstd")))
            }
            f.descriptor
          }
        }.collect() // pixel-free descriptors only — metadata-scale
        if (descriptors.nonEmpty) {
          // driver metadata pass: row/well group docs + well-attrs
          // merges (sequential — the shared row-group doc write is
          // not atomic under concurrency on all stores)
          Hcs.upsertWellsMeta(platePath,
            descriptors.toSeq.map(d => (d.wellPath, d.imagePath, d.acquisition)))
        }
      }
      .start()
  }
}
