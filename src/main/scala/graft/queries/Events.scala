package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Event-time windowing surface (SURVEY §2.7 streaming row): tumbling /
  * sliding / session windows and stateful-dedup semantics, expressed
  * over the `events` table with Spark's `window()` / `session_window()`,
  * which run unchanged over a stream; batch execution makes them
  * oracle-checkable. The interval joins (q57, q65) call the streaming
  * operators of `graft.streaming.Streams` directly.
  *
  * `events.parquet` has shipped `ts` as either TIMESTAMP(NANOS)
  * (reads as raw long nanos under
  * `spark.sql.legacy.parquet.nanosAsLong`) or TIMESTAMP(MICROS)
  * (reads as timestamp/timestamp_ntz); [[normalize]] adapts either
  * schema to the same (`ts_ns` long nanos, `ts` µs TIMESTAMP_LTZ)
  * pair — bit-identical to DuckDB 1.x, which truncates ns→µs on read
  * and reads µs natively. Window starts are emitted as epoch seconds
  * (BIGINT) so no timestamp-precision skew can reach the hash
  * compare.
  */
object Events extends QModule {

  /** Adapt a raw events frame (batch or stream) to the canonical
    * (`ts_ns` raw long nanos, `ts` µs timestamp) pair regardless of
    * which parquet physical type `ts` arrived as. NTZ timestamps cast
    * through the UTC session zone, so the epoch value is unchanged.
    */
  def normalize(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }

  /** events with `ts_ns` (raw long nanos) and `ts` (µs timestamp). */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(Tables.load(s, dir, "events"))
  }

  override def queries: Seq[Q] =
    Seq(q33Tumbling, q34Sliding, q35Session, q36DedupFirst, q50Funnel,
      q52CohortRetention, q54Scd2, q57IntervalJoin, q60RollingMad,
      q65IntervalLeft, q66TimeWeightedAvg, q84EwmaDecay)

  /** Tumbling 1-hour windows per event type. */
  val q33Tumbling = Q(
    "q33_tumbling_window",
    (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("w.start").cast("long").as("hour_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("hour_start"), col("event_type"))
    },
    Some("""SELECT CAST(floor(date_part('epoch', date_trunc('hour', ts))) AS BIGINT) AS hour_start,
            event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events
            GROUP BY 1, 2
            ORDER BY hour_start, event_type"""),
    headline = true)

  /** Sliding windows: 1 hour long, every 30 minutes (each event lands
    * in exactly two windows). Oracle expands the two covering windows
    * with epoch arithmetic.
    */
  val q34Sliding = Q(
    "q34_sliding_window",
    (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          expr("CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100").as("sum_value"))
        .select(col("w.start").cast("long").as("window_start"), col("n"), col("sum_value"))
        .orderBy(col("window_start"))
    },
    Some("""SELECT (epoch_ns(ts) // 1800000000000) * 1800 - off AS window_start,
            count(*) AS n,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS sum_value
            FROM events CROSS JOIN (VALUES (0), (1800)) o(off)
            GROUP BY 1
            ORDER BY window_start"""))

  /** Session windows with a 15-minute inactivity gap, per user. Oracle
    * is the gaps-and-islands formulation: a new session starts when
    * the gap since the previous event is >= the timeout.
    */
  val q35Session = Q(
    "q35_session_window",
    (s, dir) => {
      events(s, dir)
        .groupBy(session_window(col("ts"), "15 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").cast("long").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    },
    Some("""WITH m AS (
              SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER w IS NULL
                            OR ts >= lag(ts) OVER w + INTERVAL 15 MINUTE
                          THEN 1 ELSE 0 END AS new_s
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
            g AS (
              SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
            SELECT user_id,
                   CAST(floor(date_part('epoch', min(ts))) AS BIGINT) AS session_start,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM g GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** Deterministic "keep first" dedup on (user_id, event_type) — the
    * batch shape of streaming dropDuplicates, made order-stable with
    * (ts, event_id).
    */
  val q36DedupFirst = Q(
    "q36_dedup_first",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_ns").asc, col("event_id").asc)
      events(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"),
          expr("ts_ns div 1000000000").as("first_ts_sec"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some("""SELECT user_id, event_type, event_id AS first_event_id,
            epoch_ns(ts) // 1000000000 AS first_ts_sec
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts ASC, event_id ASC) AS rn
                  FROM events) x
            WHERE rn = 1
            ORDER BY user_id, event_type"""))

  /** Ordered conversion funnel view → click → purchase: per user the
    * first view, the first click AT OR AFTER that view, the first
    * purchase at or after that click; one row of stage counts. Three
    * key-partitioned aggregations, each joined to the (user-bounded)
    * previous stage — Spark broadcasts the shrinking stage tables,
    * and nothing enumerates event pairs, so the funnel holds at any
    * event volume. Timestamps compare as epoch nanos (exact
    * integers).
    */
  val q50Funnel = Q(
    "q50_funnel",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_type"), col("ts_ns"))
      val tv = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_ns")).as("tv"))
      val tc = e.filter(col("event_type") === "click")
        .join(tv, "user_id").filter(col("ts_ns") >= col("tv"))
        .groupBy(col("user_id")).agg(min(col("ts_ns")).as("tc"))
      val tp = e.filter(col("event_type") === "purchase")
        .join(tc, "user_id").filter(col("ts_ns") >= col("tc"))
        .groupBy(col("user_id")).agg(min(col("ts_ns")).as("tp"))
      tv.agg(count(lit(1)).as("n_view"))
        .crossJoin(tc.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(tp.agg(count(lit(1)).as("n_full_funnel")))
    },
    Some("""WITH tv AS (SELECT user_id, min(epoch_ns(ts)) AS tv FROM events
                        WHERE event_type = 'view' GROUP BY user_id),
            tc AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS tc
                   FROM events e JOIN tv ON e.user_id = tv.user_id
                   WHERE e.event_type = 'click' AND epoch_ns(e.ts) >= tv.tv
                   GROUP BY e.user_id),
            tp AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS tp
                   FROM events e JOIN tc ON e.user_id = tc.user_id
                   WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= tc.tc
                   GROUP BY e.user_id)
            SELECT (SELECT count(*) FROM tv) AS n_view,
                   (SELECT count(*) FROM tc) AS n_view_click,
                   (SELECT count(*) FROM tp) AS n_full_funnel"""))

  /** Cohort retention matrix: users grouped by first-seen day, active
    * counts per (cohort, day-offset) — the standard engagement
    * deliverable. Scale shape: the event stream reduces to DISTINCT
    * (user, day) rows immediately (one shuffle), first-seen is a
    * user-key aggregation over those, and the matrix join is
    * user-keyed on both sides — the raw event table is touched once;
    * retention rates are exact integer milli (floor division).
    */
  val q52CohortRetention = Q(
    "q52_cohort_retention",
    (s, dir) => {
      val active = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val first = active.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = first.groupBy(col("cohort_day"))
        .agg(count(lit(1)).cast("long").as("cohort_size"))
      active.join(first, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).cast("long").as("n_active"))
        .join(sizes, "cohort_day")
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_active"), col("cohort_size"),
          expr("(n_active * 1000) div cohort_size").as("retention_milli"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some("""WITH a AS (SELECT DISTINCT user_id,
                  CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
            f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id),
            s AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
                  FROM f GROUP BY cohort_day),
            m AS (SELECT f.cohort_day, a.day - f.cohort_day AS day_offset,
                    CAST(count(*) AS BIGINT) AS n_active
                  FROM a JOIN f USING (user_id) GROUP BY 1, 2)
            SELECT strftime(m.cohort_day, '%Y-%m-%d') AS cohort_day,
                   CAST(day_offset AS INT) AS day_offset, n_active, cohort_size,
                   (n_active * 1000) // cohort_size AS retention_milli
            FROM m JOIN s ON m.cohort_day = s.cohort_day
            ORDER BY cohort_day, day_offset"""))

  /** SCD2 state history: each user's event-type stream collapsed into
    * slowly-changing-dimension version rows — consecutive equal
    * states merge into one validity interval [valid_from, valid_to),
    * the last interval open (is_current). The warehouse versioning
    * op: one user-key window pass (lag → change flag → running
    * version id via gaps-and-islands), one aggregation per version —
    * never a self-join on history. Ties at the same microsecond order
    * by event_id so versioning is total.
    */
  val q54Scd2 = Q(
    "q54_scd2_history",
    (s, dir) => {
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type").as("state"), unix_micros(col("ts")).as("ts_us"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val versioned = e
        .withColumn("chg",
          when(lag(col("state"), 1).over(wOrd).isNull ||
            lag(col("state"), 1).over(wOrd) =!= col("state"), 1L).otherwise(0L))
        .withColumn("version", sum(col("chg")).over(
          wOrd.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val perUserMax = versioned.groupBy(col("user_id"))
        .agg(max(col("version")).as("n_versions"))
      versioned.groupBy(col("user_id"), col("version"))
        .agg(min(struct(col("ts_us"), col("event_id"), col("state"))).as("f"),
          max(col("ts_us")).as("last_us"),
          count(lit(1)).cast("long").as("n_events"))
        .join(perUserMax, "user_id")
        .select(col("user_id"), col("version"),
          col("f.state").as("state"),
          col("f.ts_us").as("valid_from_us"),
          col("last_us").as("last_event_us"),
          col("n_events"),
          (col("version") === col("n_versions")).as("is_current"))
        .orderBy(col("user_id"), col("version"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type AS state,
                  epoch_us(ts) AS ts_us
                FROM events),
            v AS (SELECT *, CASE WHEN lag(state) OVER w IS NULL
                         OR lag(state) OVER w <> state THEN 1 ELSE 0 END AS chg
                  FROM e
                  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
            g AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
                    ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
                  FROM v),
            agg AS (SELECT user_id, version,
                      min(struct_pack(a := ts_us, b := event_id, c := state)) AS f,
                      CAST(max(ts_us) AS BIGINT) AS last_event_us,
                      CAST(count(*) AS BIGINT) AS n_events
                    FROM g GROUP BY user_id, version),
            mx AS (SELECT user_id, max(version) AS n_versions
                   FROM agg GROUP BY user_id)
            SELECT agg.user_id, agg.version, agg.f.c AS state,
                   CAST(agg.f.a AS BIGINT) AS valid_from_us, last_event_us,
                   n_events, agg.version = mx.n_versions AS is_current
            FROM agg JOIN mx ON agg.user_id = mx.user_id
            ORDER BY agg.user_id, agg.version"""))

  /** Batch contract of the stream-stream interval join
    * ([[graft.streaming.Streams.intervalJoin]]): every purchase
    * within 30 minutes AFTER a click by the same user — the
    * all-matches attribution window, vs the as-of join's (q39)
    * single latest match. The gate calls the SAME operator the
    * streaming path uses (watermarks are no-ops on batch inputs), so
    * the oracle pins the join-condition semantics that
    * `StreamsSpec`'s cross-batch case then proves equal under
    * micro-batch execution.
    */
  val q57IntervalJoin = Q(
    "q57_interval_join",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.streaming.Streams.intervalJoin(clicks, purchases, "30 minutes", "1 hour")
        .select(col("user_id"),
          expr("unix_micros(ts_a)").as("click_us"),
          expr("unix_micros(ts_b)").as("purchase_us"))
        .orderBy(col("user_id"), col("click_us"), col("purchase_us"))
    },
    Some("""SELECT a.user_id AS user_id,
                   epoch_ns(a.ts) // 1000 AS click_us,
                   epoch_ns(b.ts) // 1000 AS purchase_us
            FROM events a JOIN events b ON a.user_id = b.user_id
            WHERE a.event_type = 'click' AND b.event_type = 'purchase'
              AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
            ORDER BY user_id, click_us, purchase_us"""))

  /** Robust per-user anomaly flags: value deviates from the rolling
    * 5-event median by more than 3× the rolling MAD — the
    * outlier-resistant monitor (mean/stddev would let the anomaly
    * poison its own threshold). Both medians are exact integers: the
    * 5-row frame is materialized as a sorted array and indexed, so
    * neither engine's median-interpolation convention is in play.
    * One user-key exchange serves the window; flags are a projection.
    */
  val q60RollingMad = Q(
    "q60_rolling_mad",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-4, 0)
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("arr", collect_list(col("cents")).over(w))
        .filter(size(col("arr")) === 5)
        .withColumn("med", expr("element_at(sort_array(arr), 3)"))
        .withColumn("mad",
          expr("element_at(sort_array(transform(arr, x -> abs(x - med))), 3)"))
        .filter(expr("abs(cents - med) > 3 * mad"))
        .select(col("user_id"), expr("unix_micros(ts)").as("ts_us"),
          col("cents"), col("med"), col("mad"))
        .orderBy(col("user_id"), col("ts_us"), col("cents"))
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events),
            w AS (SELECT user_id, ts, cents,
                    list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS arr
                  FROM e),
            m AS (SELECT user_id, ts, cents, arr, list_sort(arr)[3] AS med
                  FROM w WHERE len(arr) = 5),
            d AS (SELECT user_id, ts, cents, med,
                    list_sort(list_transform(arr, x -> abs(x - med)))[3] AS mad
                  FROM m)
            SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, cents, med, mad
            FROM d WHERE abs(cents - med) > 3 * mad
            ORDER BY user_id, ts_us, cents"""))

  /** Batch contract of the LEFT-OUTER interval join ([[graft
    * .streaming.Streams.intervalJoinOuter]]): clicks with no purchase
    * in-window appear once with −1 — the attribution table that
    * also accounts for non-converting events. `StreamsSpec` proves
    * the micro-batch execution of the SAME operator emits exactly
    * these unmatched rows once the watermark expires them.
    */
  val q65IntervalLeft = Q(
    "q65_interval_left",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("ts"), col("event_type"))
      val clicks = ev.filter(col("event_type") === "click")
      val purchases = ev.filter(col("event_type") === "purchase")
      graft.streaming.Streams.intervalJoinOuter(clicks, purchases, "30 minutes", "1 hour")
        .select(col("user_id"),
          expr("unix_micros(ts_a)").as("click_us"),
          coalesce(expr("unix_micros(ts_b)"), lit(-1L)).as("purchase_us"))
        .orderBy(col("user_id"), col("click_us"), col("purchase_us"))
    },
    Some("""SELECT a.user_id AS user_id,
                   epoch_ns(a.ts) // 1000 AS click_us,
                   COALESCE(epoch_ns(b.ts) // 1000, -1) AS purchase_us
            FROM (SELECT * FROM events WHERE event_type = 'click') a
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
              ON a.user_id = b.user_id
             AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
            ORDER BY user_id, click_us, purchase_us"""))

  /** Per-(user, day) time-weighted average value — the metric
    * monitoring systems actually report for held-state signals (a
    * plain mean overweights bursts; TWA weighs each reading by how
    * long it was the current one). Segment durations come from
    * lead() over the same (user, day) ordering; cents×micros products
    * stay well inside Long, and the final division is exact floor —
    * one window exchange, one aggregation.
    */
  val q66TimeWeightedAvg = Q(
    "q66_time_weighted_avg",
    (s, dir) => {
      events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .withColumn("dt_us",
          expr("unix_micros(lead(ts) over (partition by user_id, day order by ts, event_id)) - unix_micros(ts)"))
        .filter(col("dt_us").isNotNull)
        .groupBy(col("user_id"), col("day"))
        .agg(expr("sum(cents * dt_us)").as("wsum"),
          sum(col("dt_us")).as("tsum"),
          count(lit(1)).as("n_segments"))
        .filter(col("tsum") > 0)
        .select(col("user_id"), col("day"),
          expr("wsum div tsum").as("twa_cents"), col("n_segments"))
        .orderBy(col("user_id"), col("day"))
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id,
                         CAST(round(value * 100) AS BIGINT) AS cents,
                         strftime(ts, '%Y-%m-%d') AS day
                       FROM events),
            l AS (SELECT user_id, day, cents,
                    epoch_ns(lead(ts) OVER (PARTITION BY user_id, day
                                            ORDER BY ts, event_id)) // 1000
                      - epoch_ns(ts) // 1000 AS dt_us
                  FROM e)
            SELECT user_id, day,
                   CAST(sum(cents * dt_us) // sum(dt_us) AS BIGINT) AS twa_cents,
                   count(*) AS n_segments
            FROM l WHERE dt_us IS NOT NULL
            GROUP BY user_id, day
            HAVING sum(dt_us) > 0
            ORDER BY user_id, day"""))

  /** Exponentially-decayed rolling value per user (half-life = one
    * event): the recency-weighted activity score behind rate limiting
    * and engagement decay. The infinite-tail EWMA is capped at 10
    * lags (weight 2⁻¹⁰ ≈ 0.1% — below micro resolution for these
    * values) and every weight is a power of two applied as a RIGHT
    * SHIFT on non-negative micros, so each term is exact integer
    * floor-division and the result hash-compares bit-for-bit. One
    * window exchange; the 10 lags share a single sort.
    */
  val q84EwmaDecay = Q(
    "q84_ewma_decay",
    (s, dir) => {
      val terms = (0 to 9).map(k =>
        s"(coalesce(lag(v_micro, $k) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0L) >> ${k + 1})")
        .mkString(" + ")
      // µs `ts` (not ts_ns) in the window order: DuckDB truncates
      // ns→µs on read, so ns-resolution ordering could disagree
      events(s, dir)
        .filter(col("user_id") < 30)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_micro"))
        .selectExpr("user_id", "event_id", s"$terms AS decayed_micro")
        .orderBy(col("user_id"), col("event_id"))
    },
    Some {
      val terms = (0 to 9).map(k =>
        s"(lag(v_micro, $k, 0) OVER (PARTITION BY user_id ORDER BY ts, event_id) >> ${k + 1})")
        .mkString(" + ")
      s"""WITH b AS (SELECT user_id, event_id, ts,
                CAST(floor(value * 1000000) AS BIGINT) AS v_micro
              FROM events WHERE user_id < 30)
          SELECT user_id, event_id, $terms AS decayed_micro
          FROM b ORDER BY user_id, event_id"""
    })
}
