package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.{AsofJoin, BudgetSample, Dsir, Search, Similarity, TextDedup, TextStats}

/** Pipeline-operator surface beyond the core relational/dedup sets:
  * as-of (point-in-time) join, exact stratified sampling, the Gopher
  * quality gate, benchmark-contamination screening, sub-document
  * chunk dedup, and IVF approximate nearest neighbor — each the
  * operator a 100 TB training-data build actually runs, expressed as
  * one or two shuffles with no pair enumeration.
  *
  * Oracle parity follows the house rules: identical aliases both
  * sides, total ORDER BY, timestamps compared as epoch micros
  * (BIGINT), ratios as raw doubles of identical integer divisions,
  * cosines rounded to 6dp before any ranking.
  */
object Pipeline extends QModule {

  override def queries: Seq[Q] = Seq(
    q39AsofJoin, q86AsofTolerance, q40StratifiedSample, t53QualityRules, t54Contamination,
    t55WordFreq, d48ChunkDedup, s49AnnIvf, d49SemanticDedup,
    t58Bm25, t59BudgetSample, t60Repetition, s50KnnClassify, t61Normalize,
    s51AnnPq, t62SequencePack, t63BpeEncode, t64LmPerplexity,
    t65QualityClassifier, s52ClusterAssign, t66DsirWeights, d51DupSpans,
    d52DedupCut, t67TfIdf, d53SourceOverlap, t68LengthCut, s53HybridRrf,
    d54BloomScreen, t69FilterFunnel, s54EmbOutliers, t70HashSplit,
    s55MmrRerank, d55IncrementalScreen, t71HeavyHitters, d56EditJoin,
    d57ScreenAuto, t72Winnow, d58PrefixJoin, d59LineDedup, t73ChunkWindows,
    s56EmbCovariance, t75CharEntropy, t76TemperatureSample, t77UrlCanonical,
    d60UrlDedup, d61CollapsedClusters, t78ShardPlan, t79WarcIngest,
    t80HtmlExtract, t81KnPerplexity, t82RobotsFilter, t83CharsetSniff,
    t84SpanCorrupt, t85WebdatasetShards, t86WebdatasetMultimodal,
    d62ContainmentPairs, t87PplBuckets, t88HostStats, s57SqAnn, t89Wordpiece,
    t90UnigramLm, t91CorpusReport, t92Fim, t93ChatTemplate, t94DpoPairs,
    t95BestOfN, t96OverlapRun, t97TokenizerFertility, t98EpochPlan,
    t99GoodTuring, t100Blocklist, g01PageRank, q53OrcRoundtrip,
    t101WeightedSample, t102SnapshotDiff, g02Hits, g03Triangles, g04BfsHops, g05Kcore,
    t103MultiMatch, t104CmsEstimate, t105TableProfile, t106ScoreCalibration,
    t107VocabCoverage, t108NgramNovelty, t109SplitLeakage, t110CdcChunks,
    t116ByteBpeEncode, t117BpeRoundtrip, t118VocabGrowth, t119PassAtK,
    t120BleuStats, t121CohensKappa, t122MannWhitney, t123ChrfStats,
    t124TokenF1, t125RougeL)

  import QTables.{docs, emb}

  /** As-of join: attribute each purchase event to the same user's
    * most recent view at or before it (union-sort-window form — one
    * shuffle, no per-key pair enumeration). Oracle replays the
    * semantics with a LATERAL top-1 lookup.
    */
  val q39AsofJoin = Q(
    "q39_asof_join",
    (s, dir) => {
      val e = Events.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_us").as("view_ts_us"))
      AsofJoin.asofBackward(purchases, views, key = "user_id",
          leftTime = "ts_us", rightTime = "view_ts_us", rightTie = "view_id",
          rightPrefix = "last_")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("last_view_id"), col("last_view_ts_us"),
          (col("ts_us") - col("last_view_ts_us")).as("gap_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
            v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_ts_us
                  FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id, p.ts_us,
                   l.view_id AS last_view_id, l.view_ts_us AS last_view_ts_us,
                   p.ts_us - l.view_ts_us AS gap_us
            FROM p LEFT JOIN LATERAL (
              SELECT view_id, view_ts_us FROM v
              WHERE v.user_id = p.user_id AND v.view_ts_us <= p.ts_us
              ORDER BY view_ts_us DESC, view_id DESC LIMIT 1) l ON TRUE
            ORDER BY event_id"""),
    headline = true)

  /** Tolerance-bounded as-of join ([[graft.ops.AsofJoin
    * .asofBackward]] with `tolerance` — pandas merge_asof semantics):
    * a purchase attributes to its latest preceding view ONLY within
    * one hour; staler matches null out while the purchase row
    * survives. Same one-shuffle union-window plan as q39 — the
    * tolerance is a post-window predicate, not a second join. The
    * oracle bounds the LATERAL probe identically; rows whose only
    * candidates are stale pin the null-out path.
    */
  val q86AsofTolerance = Q(
    "q86_asof_tolerance",
    (s, dir) => {
      val e = Events.events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts_us").as("view_ts_us"))
      AsofJoin.asofBackward(purchases, views, key = "user_id",
          leftTime = "ts_us", rightTime = "view_ts_us", rightTie = "view_id",
          rightPrefix = "last_", tolerance = 3600000000L)
        .select(col("event_id"), col("user_id"),
          col("last_view_id"), col("last_view_ts_us"))
        .orderBy(col("event_id"))
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us
                       FROM events WHERE event_type = 'purchase'),
            v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS view_ts_us
                  FROM events WHERE event_type = 'view')
            SELECT p.event_id, p.user_id,
                   l.view_id AS last_view_id, l.view_ts_us AS last_view_ts_us
            FROM p LEFT JOIN LATERAL (
              SELECT view_id, view_ts_us FROM v
              WHERE v.user_id = p.user_id AND v.view_ts_us <= p.ts_us
                AND p.ts_us - v.view_ts_us <= 3600000000
              ORDER BY view_ts_us DESC, view_id DESC LIMIT 1) l ON TRUE
            ORDER BY event_id"""))

  /** Exact stratified sample: 10% per order-priority stratum, chosen
    * by deterministic md5 order so every engine draws the same rows.
    * Two windows over one shuffle on the stratum key; at corpus scale
    * the same shape holds (count + row_number share the partition).
    */
  val q40StratifiedSample = Q(
    "q40_stratified_sample",
    (s, dir) => {
      val wOrd = Window.partitionBy(col("o_orderpriority"))
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
      val wCnt = Window.partitionBy(col("o_orderpriority"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("cnt", count(lit(1)).over(wCnt))
        // exact ceil(cnt/10): double 0.1·cnt overshoots at multiples
        // of 10 (0.1·60 → 6.000000000000001 → ceil 7) while the
        // oracle's DECIMAL 0.1 computes the rational 6
        .filter(col("rn") <= expr("(cnt + 9) div 10"))
        .orderBy(col("o_orderpriority"), col("rn"))
    },
    Some("""WITH t AS (SELECT o_orderkey, o_orderpriority,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS cnt
                FROM orders)
            SELECT o_orderkey, o_orderpriority, CAST(rn AS INT) AS rn,
                   CAST(cnt AS BIGINT) AS cnt
            FROM t WHERE rn <= ceil(cnt * 0.1)
            ORDER BY o_orderpriority, rn"""))

  /** Gopher-style quality gate over the full corpus. */
  val t53QualityRules = Q(
    "t53_quality_rules",
    (s, dir) => TextStats.qualityRules(docs(s, dir)).orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            base AS (SELECT doc_id,
                  CAST(len(ws) AS INT) AS n_words,
                  CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_word_len,
                  len(text) AS n_chars,
                  len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_symbol_chars,
                  CAST(len(list_filter(ws, w -> list_contains(
                    ['the','a','of','to','in','is','and','for','on','with'], w))) AS INT)
                    AS n_stopwords
                FROM d),
            bg AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
                     i -> ws[i+1] || ' ' || ws[i+2])) AS b
                   FROM d WHERE len(ws) >= 2),
            top2 AS (SELECT doc_id, max(n) AS top_bigram_n
                     FROM (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2) t
                     GROUP BY doc_id),
            m AS (SELECT b.doc_id, n_words,
                  CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
                  CAST(n_symbol_chars AS DOUBLE) / n_chars AS symbol_ratio,
                  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_frac,
                  CASE WHEN n_words > 1
                    THEN CAST(COALESCE(top_bigram_n, 0) AS DOUBLE) / (n_words - 1)
                    ELSE 0.0 END AS top_bigram_frac
                FROM base b LEFT JOIN top2 USING (doc_id))
            SELECT doc_id, n_words, mean_word_len, symbol_ratio, stopword_frac,
                   top_bigram_frac,
                   CAST(n_words BETWEEN 50 AND 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND symbol_ratio < 0.1
                        AND stopword_frac > 0.02
                        AND top_bigram_frac < 0.2 AS INT) AS quality_pass
            FROM m ORDER BY doc_id"""))

  /** Contamination screen: 8-gram overlap of every non-benchmark doc
    * against the src0 slice standing in as the held-out benchmark.
    */
  val t54Contamination = Q(
    "t54_contamination",
    (s, dir) => {
      val d = docs(s, dir)
      TextDedup.benchmarkOverlap(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, source,
                    unnest(list_distinct(list_transform(range(len(ws) - 7),
                      i -> array_to_string(ws[i+1:i+8], ' ')))) AS ng
                  FROM d WHERE len(ws) >= 8),
            bench AS (SELECT DISTINCT ng FROM g WHERE source = 'src0'),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
                    FROM g WHERE source <> 'src0' GROUP BY doc_id),
            hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
                    FROM g JOIN bench USING (ng)
                    WHERE source <> 'src0' GROUP BY doc_id)
            SELECT t.doc_id, n_ngrams,
                   COALESCE(n_contaminated, 0) AS n_contaminated,
                   CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams
                     AS contaminated_frac
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Corpus word-frequency profile (perplexity proxy) per doc. */
  val t55WordFreq = Q(
    "t55_word_freq",
    (s, dir) => graft.ops.TextStats.wordFreqStats(docs(s, dir)).orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS w
                       FROM documents),
            f AS (SELECT w, count(*) AS wf FROM t GROUP BY w),
            j AS (SELECT doc_id, wf,
                    row_number() OVER (PARTITION BY doc_id ORDER BY wf) AS rn,
                    count(*) OVER (PARTITION BY doc_id) AS cnt
                  FROM t JOIN f USING (w))
            SELECT doc_id,
                   CAST(max(cnt) AS BIGINT) AS n_tokens,
                   CAST(max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT)
                            THEN wf END) AS BIGINT) AS median_wf,
                   CAST(max(wf) AS BIGINT) AS max_wf,
                   CAST((CAST(sum(wf) AS BIGINT) * 1000) // max(cnt) AS BIGINT)
                     AS mean_wf_milli
            FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Sub-document chunk dedup over 10-word chunks. */
  val d48ChunkDedup = Q(
    "d48_chunk_dedup",
    (s, dir) => TextDedup.chunkDups(docs(s, dir)).orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            ch AS (SELECT doc_id,
                     unnest(list_transform(range(len(ws) // 10),
                       i -> array_to_string(ws[i*10+1:i*10+10], ' '))) AS chunk
                   FROM d WHERE len(ws) >= 10),
            dup AS (SELECT chunk FROM ch
                    GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                    FROM ch GROUP BY doc_id),
            hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks
                    FROM ch JOIN dup USING (chunk) GROUP BY doc_id)
            SELECT t.doc_id, n_chunks,
                   COALESCE(n_dup_chunks, 0) AS n_dup_chunks,
                   CAST(COALESCE(n_dup_chunks, 0) AS DOUBLE) / n_chunks AS dup_frac
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Exact-substring span dedup (Lee et al. 2022 family): duplicated
    * sliding 8-gram positions merged into maximal spans per document.
    * The engine tests recurrence on xxhash64 of the gram (8-byte
    * shuffle key); the oracle groups on the gram text itself — equal
    * absent a 64-bit collision, the documented envelope.
    */
  val d51DupSpans = Q(
    "d51_dup_spans",
    (s, dir) => TextDedup.dupSpans(docs(s, dir), n = 8).orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            base AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                       CAST(greatest(len(ws) - 7, 0) AS BIGINT) AS n_grams
                     FROM d),
            g AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS pos,
                    unnest(list_transform(range(len(ws) - 7),
                      i -> array_to_string(ws[i+1:i+8], ' '))) AS gram
                  FROM d WHERE len(ws) >= 8),
            dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
            pm AS (SELECT doc_id, pos,
                     max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                   FROM dp),
            isl AS (SELECT doc_id, pos,
                      sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                          THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM pm),
            sp AS (SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
                   FROM isl GROUP BY doc_id, island),
            agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                      CAST(sum(e - s) AS BIGINT) AS dup_tokens
                    FROM sp GROUP BY doc_id),
            dg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams
                   FROM dp GROUP BY doc_id)
            SELECT b.doc_id, n_tokens, n_grams,
                   COALESCE(n_dup_grams, 0) AS n_dup_grams,
                   COALESCE(n_spans, 0) AS n_spans,
                   COALESCE(dup_tokens, 0) AS dup_tokens,
                   CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / n_tokens AS dup_frac
            FROM base b LEFT JOIN agg USING (doc_id) LEFT JOIN dg USING (doc_id)
            ORDER BY doc_id"""))

  /** Exact-substring dedup CUT (the destructive step over [[d51DupSpans]]'s
    * spans): duplicated spans deleted from every document, survivors
    * re-joined with single spaces. The oracle rebuilds the same spans in
    * SQL and anti-joins each document's token positions against them.
    */
  val d52DedupCut = Q(
    "d52_dedup_cut",
    (s, dir) => TextDedup.dedupCut(docs(s, dir), n = 8).orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, unnest(range(len(ws) - 7)) AS pos,
                    unnest(list_transform(range(len(ws) - 7),
                      i -> array_to_string(ws[i+1:i+8], ' '))) AS gram
                  FROM d WHERE len(ws) >= 8),
            dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            dp AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
            pm AS (SELECT doc_id, pos,
                     max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
                   FROM dp),
            isl AS (SELECT doc_id, pos,
                      sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                          THEN 1 ELSE 0 END)
                        OVER (PARTITION BY doc_id ORDER BY pos) AS island
                    FROM pm),
            sp AS (SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
                   FROM isl GROUP BY doc_id, island),
            t AS (SELECT doc_id, unnest(range(len(ws))) AS pos,
                    unnest(ws) AS w
                  FROM d),
            kept AS (SELECT t.doc_id, t.pos, t.w FROM t
                     WHERE NOT EXISTS (SELECT 1 FROM sp
                       WHERE sp.doc_id = t.doc_id
                         AND t.pos >= sp.s AND t.pos < sp.e)),
            rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_kept,
                     string_agg(w, ' ' ORDER BY pos) AS clean_text
                   FROM kept GROUP BY doc_id)
            SELECT d.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                   COALESCE(n_tokens_kept, 0) AS n_tokens_kept,
                   COALESCE(clean_text, '') AS clean_text
            FROM d LEFT JOIN rb USING (doc_id)
            ORDER BY d.doc_id"""))

  /** TF-IDF top-3 terms per document ([[Search.tfIdfTopTerms]]): the
    * BM25-regime parity story — idf 6dp-rounded and micro-quantized,
    * score an exact BIGINT product, ties broken on term text.
    */
  val t67TfIdf = Q(
    "t67_tfidf_terms",
    (s, dir) => graft.ops.Search.tfIdfTopTerms(docs(s, dir), k = 3)
      .orderBy(col("doc_id"), col("rank")),
    Some("""WITH t AS (SELECT doc_id, unnest(list_filter(
                    string_split(text, ' '), x -> x <> '')) AS term
                  FROM documents),
            tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                   FROM t GROUP BY doc_id, term),
            dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM tf GROUP BY term),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
            sc AS (SELECT doc_id, term, tf, df,
                     tf * CAST(round(round(ln((1.0 + n_docs) / (1.0 + df)), 6)
                       * 1e6) AS BIGINT) AS score_micro
                   FROM tf JOIN dfreq USING (term) CROSS JOIN tot),
            rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY score_micro DESC, term ASC) AS rank
                   FROM sc)
            SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
                   score_micro, CAST(score_micro AS DOUBLE) / 1e6 AS tfidf
            FROM rk WHERE rank <= 3 ORDER BY doc_id, rank"""))

  /** Cross-source duplication matrix ([[TextDedup.sourceOverlap]]):
    * distinct shared 8-grams and gram-set Jaccard per source pair.
    * Engine groups gram hashes and explodes the (metadata-sized)
    * per-gram source set; the oracle self-joins gram text — equal
    * absent a 64-bit collision.
    */
  val d53SourceOverlap = Q(
    "d53_source_overlap",
    (s, dir) => TextDedup.sourceOverlap(docs(s, dir), n = 8)
      .orderBy(col("source_a"), col("source_b")),
    Some("""WITH d AS (SELECT source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT DISTINCT source, unnest(list_transform(
                    range(len(ws) - 7),
                    i -> array_to_string(ws[i+1:i+8], ' '))) AS gram
                  FROM d WHERE len(ws) >= 8),
            ps AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams
                   FROM g GROUP BY source),
            pr AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(count(*) AS BIGINT) AS shared_grams
                   FROM g a JOIN g b
                     ON a.gram = b.gram AND a.source < b.source
                   GROUP BY a.source, b.source)
            SELECT source_a, source_b, shared_grams,
                   pa.n_grams AS n_grams_a, pb.n_grams AS n_grams_b,
                   CAST(shared_grams AS DOUBLE) /
                     (pa.n_grams + pb.n_grams - shared_grams) AS jaccard
            FROM pr
            JOIN ps pa ON pr.source_a = pa.source
            JOIN ps pb ON pr.source_b = pb.source
            ORDER BY source_a, source_b"""))

  /** Per-language length-band cut: data-derived p10/p90 token-count
    * thresholds per language (the Gopher-style length filter with
    * corpus-fitted, not hand-set, bounds), computed with the exact
    * two-phase discrete percentile ([[graft.ops.Percentiles]], the
    * q42 machinery — bucket-located ranks, no per-group sort window)
    * and broadcast back over the corpus as a keep flag.
    */
  val t68LengthCut = Q(
    "t68_length_cut",
    (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("lang"),
        coalesce(size(TextDedup.words(col("text"))), lit(0)).cast("long").as("n_tokens"))
      val pcts = graft.ops.Percentiles
        .twoPhaseDiscrete(base, groupCol = "lang", valueCol = "n_tokens",
          qs = Seq(0.10, 0.90))
        .groupBy(col("lang"))
        .agg(min(when(col("q") === 0.10, col("value"))).as("p10"),
          min(when(col("q") === 0.90, col("value"))).as("p90"))
      base.join(broadcast(pcts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("p10"), col("p90"),
          (col("n_tokens") >= col("p10") && col("n_tokens") <= col("p90"))
            .as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH base AS (SELECT doc_id, lang,
                  CAST(COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS BIGINT) AS n_tokens
                FROM documents),
            f AS (SELECT lang, n_tokens AS v, count(*) AS c
                  FROM base GROUP BY 1, 2),
            x AS (SELECT lang, v,
                    sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum,
                    sum(c) OVER (PARTITION BY lang) AS cnt
                  FROM f),
            p AS (SELECT lang,
                    min(CASE WHEN cum >= CAST(ceil(0.10 * cnt) AS BIGINT)
                        THEN v END) AS p10,
                    min(CASE WHEN cum >= CAST(ceil(0.90 * cnt) AS BIGINT)
                        THEN v END) AS p90
                  FROM x GROUP BY lang)
            SELECT doc_id, b.lang, n_tokens, p10, p90,
                   n_tokens >= p10 AND n_tokens <= p90 AS keep
            FROM base b JOIN p ON b.lang = p.lang
            ORDER BY doc_id"""))

  /** Hybrid retrieval: BM25 lexical top-20 and brute-force cosine
    * dense top-20 (query vectors = embeddings 0..2, one per probe
    * query) fused with reciprocal-rank fusion
    * ([[graft.ops.Search.rrfFuse]]). RRF contributions are exact
    * BIGINT floor divisions (`1000000 div (60 + rank)`), so the fused
    * score and ranking are bit-identical across engines. The oracle
    * replays both retrieval passes (the t58 and s46 SQL) and the same
    * integer fuse.
    */
  val s53HybridRrf = Q(
    "s53_hybrid_rrf",
    (s, dir) => {
      val lex = Search.bm25TopK(
          docs(s, dir),
          Search.queryTable(s, Seq(
            0 -> "spark join merge", 1 -> "window stream batch",
            2 -> "customer filter order")),
          k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = emb(s, dir)
      val dense = Similarity.bruteForceTopK(e.filter(col("id") < 3), e, 20)
        .select(col("query_id").cast("int").as("query_id"),
          col("neighbor_id").as("doc_id"), col("rank"))
      Search.rrfFuse(Seq(lex, dense), topK = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH q(query_id, query_text) AS (VALUES
              (0, 'spark join merge'), (1, 'window stream batch'),
              (2, 'customer filter order')),
            d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                  FROM documents),
            lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
            qt AS (SELECT DISTINCT query_id, t FROM (
                     SELECT query_id, unnest(list_filter(string_split(query_text, ' '),
                       x -> x <> '')) AS t FROM q) z),
            terms AS (SELECT DISTINCT t FROM qt),
            tf AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, unnest(ws) AS t FROM d) x
                   JOIN terms USING (t)
                   GROUP BY t, doc_id),
            dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
            contrib AS (SELECT qt.query_id, tf.doc_id,
                CAST(round(round(
                  ln(1 + (CAST(tot.n_docs - dfreq.df AS DOUBLE) + 0.5)
                        / (CAST(dfreq.df AS DOUBLE) + 0.5))
                  * (CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(lens.dl AS DOUBLE)
                      / (CAST(tot.sum_dl AS DOUBLE) / tot.n_docs)))
                , 6) * 1e6) AS BIGINT) AS w_micro
              FROM tf JOIN qt USING (t) JOIN dfreq USING (t)
                   JOIN lens USING (doc_id), tot),
            scored AS (SELECT query_id, doc_id,
                         CAST(sum(w_micro) AS BIGINT) AS score_micro
                       FROM contrib GROUP BY query_id, doc_id),
            lexr AS (SELECT query_id, doc_id, score_micro,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score_micro DESC, doc_id ASC) AS rank
                     FROM scored),
            lexk AS (SELECT query_id, doc_id, rank FROM lexr WHERE rank <= 20),
            v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                  FROM embeddings),
            dx AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                     round(list_sum(list_transform(range(64), i -> q.e[i+1] * c.e[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.e[i+1] * c.e[i+1])))),
                       6) AS cos
                   FROM v q JOIN v c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
            dr AS (SELECT query_id, doc_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY cos DESC, doc_id ASC) AS rank
                   FROM dx),
            den AS (SELECT CAST(query_id AS INT) AS query_id, doc_id, rank
                    FROM dr WHERE rank <= 20),
            fused AS (SELECT query_id, doc_id,
                        CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_micro,
                        CAST(count(*) AS INT) AS n_lists
                      FROM (SELECT * FROM lexk UNION ALL SELECT * FROM den) u
                      GROUP BY 1, 2),
            rr AS (SELECT query_id, doc_id, rrf_micro, n_lists,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_micro DESC, doc_id ASC) AS rank
                   FROM fused)
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_micro, n_lists
            FROM rr WHERE rank <= 10
            ORDER BY query_id, rank"""))

  /** Contamination screen with the bloom semi-join reduction
    * ([[TextDedup.benchmarkOverlapBloom]]): benchmark gram hashes →
    * distributed bloom → map-side probe of corpus grams → exact
    * verify join. Result is bit-identical to the exact screen (the
    * verify join removes bloom false positives), so the oracle is the
    * plain overlap SQL — what's gated here is that the reduction
    * changes no answer while cutting the join's shuffle input.
    */
  val d54BloomScreen = Q(
    "d54_bloom_screen",
    (s, dir) => {
      val d = docs(s, dir)
      TextDedup.benchmarkOverlapBloom(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, source,
                    unnest(list_distinct(list_transform(range(len(ws) - 7),
                      i -> array_to_string(ws[i+1:i+8], ' ')))) AS ng
                  FROM d WHERE len(ws) >= 8),
            bench AS (SELECT DISTINCT ng FROM g WHERE source = 'src0'),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
                    FROM g WHERE source <> 'src0' GROUP BY doc_id),
            hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
                    FROM g JOIN bench USING (ng)
                    WHERE source <> 'src0' GROUP BY doc_id)
            SELECT t.doc_id, n_ngrams,
                   COALESCE(n_contaminated, 0) AS n_contaminated,
                   CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams
                     AS contaminated_frac,
                   CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams
                     <= 0.05 AS keep
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Cost-based screen selection ([[TextDedup.benchmarkOverlapAuto]]):
    * exact hash-join vs bloom semi-join picked from the corpus/
    * benchmark size ratio. The two plans are answer-identical, so one
    * oracle serves whichever the policy picks — what's gated here is
    * that the POLICY layer changes no answer, and (via the require)
    * that a gate-sized corpus keeps the exact plan: the bloom build
    * measured ~2.5× the whole exact screen at sf0.1 (BENCH_r06), so
    * arming here would be the wrong call the crossover exists to
    * prevent. The arm branch is spec-covered on a 120k-doc corpus
    * (`PipelineOpsSpec`).
    */
  val d57ScreenAuto = Q(
    "d57_screen_auto",
    (s, dir) => {
      val d = docs(s, dir)
      val (out, armed) = TextDedup.benchmarkOverlapAuto(
        d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
      require(!armed, "gate-sized corpus must screen through the exact plan")
      out.orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, source,
                    unnest(list_distinct(list_transform(range(len(ws) - 7),
                      i -> array_to_string(ws[i+1:i+8], ' ')))) AS ng
                  FROM d WHERE len(ws) >= 8),
            bench AS (SELECT DISTINCT ng FROM g WHERE source = 'src0'),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
                    FROM g WHERE source <> 'src0' GROUP BY doc_id),
            hit AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
                    FROM g JOIN bench USING (ng)
                    WHERE source <> 'src0' GROUP BY doc_id)
            SELECT t.doc_id, n_ngrams,
                   COALESCE(n_contaminated, 0) AS n_contaminated,
                   CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams
                     AS contaminated_frac,
                   CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_ngrams
                     <= 0.05 AS keep
            FROM tot t LEFT JOIN hit h ON t.doc_id = h.doc_id
            ORDER BY t.doc_id"""))

  /** Staged corpus-cleaning funnel ([[graft.ops.Funnel]]): exact
    * dedup → length band → rule gates → repetition, reported as
    * per-stage attrition counts — the table that tells a pipeline
    * owner where documents die. All four flags compute in parallel
    * linear passes and collapse into one aggregate row; the oracle
    * replays the same sequential-survival semantics.
    */
  val t69FilterFunnel = Q(
    "t69_filter_funnel",
    (s, dir) => graft.ops.Funnel.qualityFunnel(docs(s, dir)),
    Some("""WITH d AS (SELECT doc_id, text,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            keeper AS (SELECT md5(text) AS th, min(doc_id) AS keeper_id
                       FROM documents GROUP BY 1),
            k1f AS (SELECT doc_id, doc_id = keeper_id AS k1
                    FROM documents JOIN keeper ON md5(text) = th),
            base AS (SELECT doc_id,
                  CAST(len(ws) AS INT) AS n_words,
                  CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_word_len,
                  len(text) AS n_chars,
                  len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_symbol_chars,
                  CAST(len(list_filter(ws, w -> list_contains(
                    ['the','a','of','to','in','is','and','for','on','with'], w))) AS INT)
                    AS n_stopwords
                FROM d),
            bg AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
                     i -> ws[i+1] || ' ' || ws[i+2])) AS b
                   FROM d WHERE len(ws) >= 2),
            top2 AS (SELECT doc_id, max(n) AS top_bigram_n
                     FROM (SELECT doc_id, b, count(*) AS n FROM bg GROUP BY 1, 2) t
                     GROUP BY doc_id),
            m AS (SELECT b.doc_id, n_words,
                  CAST(sum_word_len AS DOUBLE) / n_words AS mean_word_len,
                  CAST(n_symbol_chars AS DOUBLE) / n_chars AS symbol_ratio,
                  CAST(n_stopwords AS DOUBLE) / n_words AS stopword_frac,
                  CASE WHEN n_words > 1
                    THEN CAST(COALESCE(top_bigram_n, 0) AS DOUBLE) / (n_words - 1)
                    ELSE 0.0 END AS top_bigram_frac
                FROM base b LEFT JOIN top2 USING (doc_id)),
            q AS (SELECT doc_id, n_words BETWEEN 50 AND 100000 AS k2,
                    mean_word_len >= 3.0 AND mean_word_len <= 10.0
                      AND symbol_ratio < 0.1 AND stopword_frac > 0.02
                      AND top_bigram_frac < 0.2 AS k3
                  FROM m),
            g4 AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 3),
                     i -> array_to_string(ws[i+1:i+4], ' '))) AS ng
                   FROM d WHERE len(ws) >= 4),
            repc AS (SELECT doc_id, ng, CAST(count(*) AS BIGINT) AS c
                     FROM g4 GROUP BY doc_id, ng),
            rep AS (SELECT doc_id,
                      CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
                        AS dup_frac
                    FROM repc GROUP BY doc_id),
            flags AS (SELECT k1, k2, k3, COALESCE(dup_frac, 0.0) < 0.2 AS k4
                      FROM k1f JOIN q USING (doc_id)
                           LEFT JOIN rep USING (doc_id)),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                    CAST(sum(CASE WHEN k1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                    CAST(sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                    CAST(sum(CASE WHEN k1 AND k2 AND k3 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n3,
                    CAST(sum(CASE WHEN k1 AND k2 AND k3 AND k4 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n4
                  FROM flags),
            u AS (SELECT CAST(1 AS INT) AS stage_id, 'exact_dedup' AS stage,
                         n0 AS n_in, n1 AS n_out FROM a
                  UNION ALL SELECT 2, 'length_band', n1, n2 FROM a
                  UNION ALL SELECT 3, 'quality_rules', n2, n3 FROM a
                  UNION ALL SELECT 4, 'repetition', n3, n4 FROM a)
            SELECT stage_id, stage, n_in, n_out,
                   CAST(n_in - n_out AS DOUBLE) / n_in AS drop_frac
            FROM u ORDER BY stage_id"""))

  /** IVF ANN: deterministic k-means quantizer (md5-sampled seeds + 3
    * Lloyd rounds over exact integer micro-sums — see
    * [[Similarity.ivfTopK]]), 2 probes, top-5. The oracle replays
    * the k-means verbatim: BIGINT sums are order-independent, so the
    * centroids match bit-for-bit across engines.
    */
  val s49AnnIvf = Q(
    "s49_ann_ivf",
    (s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e.filter(col("id") % 100 === 0), e, k = 5,
          nlist = 8, nprobe = 2, lloydRounds = 3)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            c0 AS (SELECT vec_id AS cid, e AS ce FROM v
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
            ac0 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c0 c),
            asn0 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac0) t
                    WHERE rn = 1),
            m1 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn0 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c1 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m1 GROUP BY cid),
            ac1 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c1 c),
            asn1 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac1) t
                    WHERE rn = 1),
            m2 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn1 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c2 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m2 GROUP BY cid),
            ac2 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c2 c),
            asn2 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac2) t
                    WHERE rn = 1),
            m3 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn2 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c3 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m3 GROUP BY cid),
            ac3 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c3 c),
            asn AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac3) t
                    WHERE rn = 1),
            probe AS (SELECT vec_id AS query_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn
                      FROM ac3 WHERE vec_id % 100 = 0) t
                    WHERE rn <= 2),
            x AS (SELECT q.vec_id AS query_id, cand.vec_id AS neighbor_id,
                    round(list_sum(list_transform(range(64), i -> q.e[i+1] * cand.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> cand.e[i+1] * cand.e[i+1])))),
                      6) AS cos
                  FROM v q JOIN probe p ON q.vec_id = p.query_id
                       JOIN asn a ON a.cid = p.cid
                       JOIN v cand ON cand.vec_id = a.vec_id AND cand.vec_id <> q.vec_id),
            r AS (SELECT query_id, neighbor_id, cos,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank FROM x)
            SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
            FROM r WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** PQ ANN with exact rerank: 4 sub-space codebooks from the shared
    * deterministic k-means (L2 metric, md5 seeds, 1 Lloyd round over
    * exact integer micro-sums — [[Similarity.pqTopK]]), byte codes,
    * ADC scoring against reconstructions, then exact-cosine rerank of
    * the top-8 shortlist. The oracle replays the whole path: the
    * sub-quantizer training is bit-deterministic by construction
    * (BIGINT micro-sums are order-independent), ADC partial dots and
    * norms sum in subspace order via ordered list aggregation, and
    * both engines round cosines to 6dp before ranking.
    */
  val s51AnnPq = Q(
    "s51_ann_pq",
    (s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e.filter(col("id") % 100 === 0), e, k = 3,
          m = 4, nlist = 8, lloydRounds = 1, rerank = 8)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            sv AS (SELECT vec_id, j, e[j*16+1 : j*16+16] AS s
                   FROM v, range(4) t(j)),
            seeds AS (SELECT vec_id AS cid FROM v
                      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
            c0 AS (SELECT sv.j, sd.cid, sv.s AS cv
                   FROM seeds sd JOIN sv ON sv.vec_id = sd.cid),
            a0 AS (SELECT sv.vec_id, sv.j, c.cid,
                     round(list_sum(list_transform(range(16),
                       i -> (sv.s[i+1] - c.cv[i+1]) * (sv.s[i+1] - c.cv[i+1]))), 6) AS d2
                   FROM sv JOIN c0 c ON c.j = sv.j),
            asn0 AS (SELECT vec_id, j, cid FROM (
                      SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j
                        ORDER BY d2 ASC, cid ASC) AS rn FROM a0) t
                    WHERE rn = 1),
            m1 AS (SELECT a.j, a.cid, t.i,
                     CAST(sum(CAST(round(sv.s[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM sv JOIN asn0 a ON a.vec_id = sv.vec_id AND a.j = sv.j,
                        range(16) t(i)
                   GROUP BY a.j, a.cid, t.i),
            c1 AS (SELECT j, cid, list(cval ORDER BY i) AS cv FROM m1 GROUP BY j, cid),
            a1 AS (SELECT sv.vec_id, sv.j, c.cid,
                     round(list_sum(list_transform(range(16),
                       i -> (sv.s[i+1] - c.cv[i+1]) * (sv.s[i+1] - c.cv[i+1]))), 6) AS d2
                   FROM sv JOIN c1 c ON c.j = sv.j),
            codes AS (SELECT vec_id, j, cid FROM (
                      SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j
                        ORDER BY d2 ASC, cid ASC) AS rn FROM a1) t
                    WHERE rn = 1),
            cn AS (SELECT j, cid,
                     list_sum(list_transform(range(16), i -> cv[i+1] * cv[i+1])) AS nn
                   FROM c1),
            q AS (SELECT vec_id AS query_id, e,
                    sqrt(list_sum(list_transform(range(64), i -> e[i+1] * e[i+1]))) AS qnorm
                  FROM v WHERE vec_id % 100 = 0),
            qd AS (SELECT q.query_id, c.j, c.cid,
                     list_sum(list_transform(range(16),
                       i -> q.e[c.j*16+i+1] * c.cv[i+1])) AS dot
                   FROM q, c1 c),
            parts AS (SELECT qd.query_id, cd.vec_id AS neighbor_id, cd.j,
                        qd.dot AS dj, cn.nn AS nj
                      FROM codes cd
                      JOIN qd ON qd.j = cd.j AND qd.cid = cd.cid
                      JOIN cn ON cn.j = cd.j AND cn.cid = cd.cid
                      WHERE qd.query_id <> cd.vec_id),
            adc AS (SELECT p.query_id, p.neighbor_id,
                      round(list_sum(list(p.dj ORDER BY p.j))
                        / (max(q.qnorm) * sqrt(list_sum(list(p.nj ORDER BY p.j)))), 6) AS cos
                    FROM parts p JOIN q ON q.query_id = p.query_id
                    GROUP BY p.query_id, p.neighbor_id),
            shortlist AS (SELECT query_id, neighbor_id FROM (
                      SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id ASC) AS rn FROM adc) t
                    WHERE rn <= 8),
            x AS (SELECT sl.query_id, sl.neighbor_id,
                    round(list_sum(list_transform(range(64), i -> q.e[i+1] * c.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> c.e[i+1] * c.e[i+1])))),
                      6) AS cos
                  FROM shortlist sl JOIN v q ON q.vec_id = sl.query_id
                       JOIN v c ON c.vec_id = sl.neighbor_id),
            r AS (SELECT query_id, neighbor_id, cos,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank FROM x)
            SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
            FROM r WHERE rank <= 3
            ORDER BY query_id, rank"""))

  /** SemDeDup-style semantic dedup: the deterministic k-means
    * quantizer clusters the embeddings, and near-dup pairs enumerate
    * WITHIN clusters only — nlist × O((n/nlist)²) instead of O(n²).
    * The oracle replays the identical k-means (BIGINT micro-sums →
    * bit-identical centroids) and the cluster-local pair join.
    */
  val d49SemanticDedup = Q(
    "d49_semantic_dedup",
    (s, dir) => Similarity.semanticDedupPairs(emb(s, dir), 0.35,
        nlist = 8, lloydRounds = 3)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            c0 AS (SELECT vec_id AS cid, e AS ce FROM v
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
            ac0 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c0 c),
            asn0 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac0) t
                    WHERE rn = 1),
            m1 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn0 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c1 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m1 GROUP BY cid),
            ac1 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c1 c),
            asn1 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac1) t
                    WHERE rn = 1),
            m2 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn1 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c2 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m2 GROUP BY cid),
            ac2 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c2 c),
            asn2 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac2) t
                    WHERE rn = 1),
            m3 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn2 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c3 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m3 GROUP BY cid),
            ac3 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c3 c),
            asn AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac3) t
                    WHERE rn = 1),
            x AS (SELECT a1.vec_id AS id_a, a2.vec_id AS id_b,
                    round(list_sum(list_transform(range(64), i -> v1.e[i+1] * v2.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> v1.e[i+1] * v1.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> v2.e[i+1] * v2.e[i+1])))),
                      6) AS cos
                  FROM asn a1 JOIN asn a2 ON a1.cid = a2.cid AND a1.vec_id < a2.vec_id
                       JOIN v v1 ON v1.vec_id = a1.vec_id
                       JOIN v v2 ON v2.vec_id = a2.vec_id)
            SELECT id_a, id_b, cos FROM x WHERE cos >= 0.35
            ORDER BY id_a, id_b"""))

  /** BM25 keyword search: three probe queries against the corpus,
    * top-10 each. Per-term contributions quantize to exact micro-unit
    * BIGINTs before the per-doc sum, so score and ranking are
    * order-independent and bit-identical across engines (the same
    * pattern as the k-means micro-sums).
    */
  val t58Bm25 = Q(
    "t58_bm25_topk",
    (s, dir) => Search.bm25TopK(
        docs(s, dir),
        Search.queryTable(s, Seq(
          0 -> "spark join merge", 1 -> "window stream batch",
          2 -> "customer filter order")),
        k = 10)
      .orderBy(col("query_id"), col("rank")),
    Some("""WITH q(query_id, query_text) AS (VALUES
              (0, 'spark join merge'), (1, 'window stream batch'),
              (2, 'customer filter order')),
            d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                  FROM documents),
            lens AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM d),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                           CAST(sum(dl) AS BIGINT) AS sum_dl FROM lens),
            qt AS (SELECT DISTINCT query_id, t FROM (
                     SELECT query_id, unnest(list_filter(string_split(query_text, ' '),
                       x -> x <> '')) AS t FROM q) z),
            terms AS (SELECT DISTINCT t FROM qt),
            tf AS (SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf
                   FROM (SELECT doc_id, unnest(ws) AS t FROM d) x
                   JOIN terms USING (t)
                   GROUP BY t, doc_id),
            dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
            contrib AS (SELECT qt.query_id, tf.doc_id,
                CAST(round(round(
                  ln(1 + (CAST(tot.n_docs - dfreq.df AS DOUBLE) + 0.5)
                        / (CAST(dfreq.df AS DOUBLE) + 0.5))
                  * (CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(lens.dl AS DOUBLE)
                      / (CAST(tot.sum_dl AS DOUBLE) / tot.n_docs)))
                , 6) * 1e6) AS BIGINT) AS w_micro
              FROM tf JOIN qt USING (t) JOIN dfreq USING (t)
                   JOIN lens USING (doc_id), tot),
            scored AS (SELECT query_id, doc_id,
                         CAST(sum(w_micro) AS BIGINT) AS score_micro
                       FROM contrib GROUP BY query_id, doc_id),
            r AS (SELECT query_id, doc_id, score_micro,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY score_micro DESC, doc_id ASC) AS rank
                  FROM scored)
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_micro,
                   CAST(score_micro AS DOUBLE) / 1e6 AS score
            FROM r WHERE rank <= 10
            ORDER BY query_id, rank"""))

  /** Token-budget mixture sampling: per-source greedy prefix in
    * md5(doc_id) order until the source's token budget is reached.
    * The Spark side computes the cumulative sums with a distributed
    * prefix-sum (no per-source single-task window); the oracle is the
    * equivalent window form — exact BIGINTs, so they agree exactly.
    */
  val t59BudgetSample = Q(
    "t59_budget_sample",
    (s, dir) => BudgetSample.tokenBudgetSample(
        docs(s, dir),
        Map("src1" -> 800L, "src2" -> 600L, "src3" -> 400L))
      .orderBy(col("doc_id")),
    Some("""WITH b(source, budget) AS (VALUES
              ('src1', 800), ('src2', 600), ('src3', 400)),
            d AS (SELECT doc_id, source, budget,
                    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                      AS BIGINT) AS n_tokens,
                    md5(CAST(doc_id AS VARCHAR)) AS pri
                  FROM documents JOIN b USING (source)),
            t AS (SELECT doc_id, source, n_tokens, budget,
                    sum(n_tokens) OVER (PARTITION BY source ORDER BY pri, doc_id
                      ROWS UNBOUNDED PRECEDING) AS cum_tokens
                  FROM d)
            SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
            FROM t WHERE cum_tokens <= budget
            ORDER BY doc_id"""))

  /** Within-document repetition profile: duplicate word-4-gram
    * fraction and the most-repeated 4-gram count per document — the
    * Gopher repeated-n-gram filter family.
    */
  val t60Repetition = Q(
    "t60_repetition",
    (s, dir) => TextStats.repetitionStats(docs(s, dir), n = 4)
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, unnest(list_transform(range(len(ws) - 3),
                    i -> array_to_string(ws[i+1:i+4], ' '))) AS ng
                  FROM d WHERE len(ws) >= 4),
            c AS (SELECT doc_id, ng, CAST(count(*) AS BIGINT) AS c
                  FROM g GROUP BY doc_id, ng)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_ngrams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(sum(c) - count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT) AS dup_frac,
                   CAST(max(c) AS BIGINT) AS max_repeat
            FROM c GROUP BY doc_id ORDER BY doc_id"""))

  /** k-NN label transfer: classify every 50th vector by the majority
    * label of its 10 nearest neighbors (brute-force ranking), vote
    * ties toward the smallest label.
    */
  val s50KnnClassify = Q(
    "s50_knn_classify",
    (s, dir) => {
      val e = Tables.load(s, dir, "embeddings").select(
        col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("vec"),
        col("label"))
      Similarity.knnClassify(
          e.filter(col("id") % 50 === 0).select("id", "vec"), e, k = 10)
        .orderBy(col("query_id"))
    },
    Some("""WITH v AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings),
            x AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                    c.label AS lbl,
                    round(list_sum(list_transform(range(64), i -> q.e[i+1] * c.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> c.e[i+1] * c.e[i+1])))),
                      6) AS cos
                  FROM v q JOIN v c ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id),
            r AS (SELECT query_id, neighbor_id, lbl, cos,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id ASC) AS rank
                  FROM x),
            votes AS (SELECT query_id, lbl AS pred_label,
                        CAST(count(*) AS BIGINT) AS votes
                      FROM r WHERE rank <= 10 GROUP BY query_id, lbl),
            best AS (SELECT query_id, pred_label, votes,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY votes DESC, pred_label ASC) AS rn
                     FROM votes)
            SELECT query_id, pred_label, votes FROM best WHERE rn = 1
            ORDER BY query_id"""))

  /** Text canonicalization: lowercase, ASCII-only, collapsed spaces —
    * the normalization pass before any hashing/dedup step.
    */
  val t61Normalize = Q(
    "t61_normalize",
    (s, dir) => TextStats.normalize(docs(s, dir)).orderBy(col("doc_id")),
    Some("""SELECT doc_id,
              trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g')) AS normalized,
              CAST(len(text) AS INT) AS n_chars,
              CAST(len(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), '  +', ' ', 'g'))) AS INT) AS n_norm_chars
            FROM documents ORDER BY doc_id"""))

  /** Sequence packing (GPT-style concat-and-chunk): every document's
    * exact offset in the concatenated token stream and the training
    * sequences it spans. The operator computes the offsets with the
    * distributed prefix-sum ([[graft.ops.SequencePack]] — no global
    * cumulative-sum window task); the oracle IS that window, so the
    * gate proves the parallel form equals the serial semantics.
    */
  val t62SequencePack = Q(
    "t62_sequence_pack",
    (s, dir) => graft.ops.SequencePack.packSequences(docs(s, dir), seqLen = 256)
      .orderBy(col("doc_id")),
    Some("""WITH t AS (SELECT doc_id,
                  CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
                FROM documents),
            c AS (SELECT doc_id, n_tokens,
                    CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS start_offset
                  FROM t WHERE n_tokens > 0)
            SELECT doc_id, n_tokens, start_offset,
                   CAST(start_offset // 256 AS BIGINT) AS first_seq,
                   CAST((start_offset + n_tokens - 1) // 256 AS BIGINT) AS last_seq
            FROM c ORDER BY doc_id"""))

  /** The t63 merge list: the first 12 merges [[graft.ops.Bpe.train]]
    * actually learns on the sf0.001 corpus (BpeSpec pins the trainer
    * against an in-memory reference; the gate pins the ENCODER at
    * corpus scale under a fixed vocabulary, the way production
    * tokenization ships a frozen merges.txt).
    */
  private val bpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w", "s" -> "t", "l" -> "u",
    "a" -> "r", "p" -> "ar", "m" -> "er", "a" -> "t", "a" -> "n", "c" -> "an")

  /** BPE tokenization under the frozen merge list. The oracle replays
    * Sennrich apply-order semantics with chained left-to-right string
    * replaces over a `|sym||sym|` word representation (delimiters make
    * adjacent merges well-defined); the engine encodes each DISTINCT
    * word once and joins back — the 100 TB shape, since distinct words
    * are orders of magnitude fewer than occurrences.
    */
  val t63BpeEncode = Q(
    "t63_bpe_encode",
    (s, dir) => graft.ops.Bpe.tokenStats(docs(s, dir), bpeMerges)
      .orderBy(col("doc_id")),
    Some {
      val repr = bpeMerges.foldLeft(
        "'|' || array_to_string(list_transform(range(len(w)), " +
          "i -> substr(w, CAST(i + 1 AS INT), 1)), '||') || '|'") {
        case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                     FROM documents),
          occ AS (SELECT doc_id, unnest(range(len(ws))) AS pos,
                    unnest(ws) AS w
                  FROM d),
          enc AS (SELECT doc_id, pos, $repr AS repr FROM occ),
          tok AS (SELECT doc_id, pos,
                    len(string_split(repr, '||')) AS n_toks,
                    replace(substr(repr, 2, len(repr) - 2), '||', ' ') AS toks
                  FROM enc)
          SELECT doc_id, CAST(count(*) AS INT) AS n_words,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 string_agg(toks, ' ' ORDER BY pos) AS token_str
          FROM tok GROUP BY doc_id ORDER BY doc_id"""
    })

  /** The t116 BYTE-level merge list: the first 12 merges
    * [[graft.ops.Bpe.trainBytes]] learns on the sf0.001 corpus —
    * note the Ġ (U+0120, byte 0x20's symbol) pairs: the leading-space
    * marker IS the byte-level signature, and ("Ġ","s") outranking
    * every in-word pair is exactly what a whitespace corpus teaches a
    * GPT-2-family tokenizer first.
    */
  private val byteBpeMerges: Seq[(String, String)] = Seq(
    "Ġ" -> "s", "e" -> "r", "o" -> "r", "i" -> "n", "o" -> "w",
    "l" -> "u", "a" -> "r", "p" -> "ar", "Ġ" -> "a", "Ġ" -> "v",
    "a" -> "s", "Ġ" -> "c")

  /** Byte-level BPE tokenization ([[graft.ops.Bpe.byteTokenStats]])
    * under the frozen merge list — the GPT-2 regime: pretokens carry
    * their leading space as the Ġ symbol, the base alphabet is bytes
    * (never an UNK), distinct (word, is-first) pretokens encode once.
    * The corpus is ASCII, so the oracle replays the byte symbols as
    * chr(288)-prefixed characters with t63's chained-replace apply.
    */
  val t116ByteBpeEncode = Q(
    "t116_byte_bpe_encode",
    (s, dir) => graft.ops.Bpe.byteTokenStats(docs(s, dir), byteBpeMerges)
      .orderBy(col("doc_id")),
    Some {
      val repr = byteBpeMerges.foldLeft(
        "'|' || array_to_string(list_transform(range(length(pw)), " +
          "i -> substr(pw, CAST(i + 1 AS INT), 1)), '||') || '|'") {
        case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                     FROM documents),
          occ AS (SELECT doc_id, unnest(range(len(ws))) AS pos,
                    unnest(ws) AS w
                  FROM d),
          pre AS (SELECT doc_id, pos,
                    CASE WHEN pos = 0 THEN w ELSE chr(288) || w END AS pw
                  FROM occ),
          enc AS (SELECT doc_id, pos, $repr AS repr FROM pre),
          tok AS (SELECT doc_id, pos,
                    len(string_split(repr, '||')) AS n_toks,
                    replace(substr(repr, 2, len(repr) - 2), '||', ' ') AS toks
                  FROM enc)
          SELECT doc_id, CAST(count(*) AS INT) AS n_words,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 string_agg(toks, ' ' ORDER BY pos) AS token_str
          FROM tok GROUP BY doc_id ORDER BY doc_id"""
    })

  /** Byte-level BPE round trip ([[graft.ops.Bpe.decodeByteTokenStr]]):
    * decode ∘ encode must be the identity on single-space-normalized
    * text — the tokenizer-loop closure property every serving stack
    * depends on (a drifted byte↔unicode table or a lossy merge apply
    * corrupts text silently; hashes catch one flipped byte anywhere
    * in the corpus). The oracle hashes the normalized source text
    * directly from parquet — a fully independent derivation of what
    * the round trip must reproduce.
    */
  val t117BpeRoundtrip = Q(
    "t117_bpe_roundtrip",
    (s, dir) => {
      import s.implicits._
      graft.ops.Bpe.byteTokenStats(docs(s, dir), byteBpeMerges)
        .select(col("doc_id"), col("token_str")).as[(Long, String)]
        .map { case (id, ts) => (id, graft.ops.Bpe.decodeByteTokenStr(ts)) }
        .toDF("doc_id", "rt")
        .select(col("doc_id"), md5(col("rt")).as("rt_md5"),
          length(col("rt")).cast("int").as("rt_len"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH n AS (SELECT doc_id,
                  array_to_string(list_filter(string_split(text, ' '),
                    x -> x <> ''), ' ') AS norm
                FROM documents)
            SELECT doc_id, md5(norm) AS rt_md5,
                   CAST(length(norm) AS INT) AS rt_len
            FROM n ORDER BY doc_id"""))

  /** Heaps'-law vocabulary growth ([[graft.ops.TextStats
    * .vocabGrowth]]): cumulative tokens + distinct vocabulary at five
    * doc-count checkpoints via the first-occurrence trick (one
    * word-keyed min(doc_id) aggregation serves every checkpoint —
    * never a distinct-per-prefix re-scan). The oracle recomputes
    * first occurrences and both cumulative counts relationally; an
    * off-by-one in the prefix boundary or a re-counted duplicate
    * word shifts every row.
    */
  val t118VocabGrowth = Q(
    "t118_vocab_growth",
    (s, dir) => graft.ops.TextStats.vocabGrowth(docs(s, dir),
        checkpoints = Seq(100L, 200L, 300L, 400L, 500L))
      .orderBy(col("n_docs")),
    Some("""WITH w AS (SELECT doc_id,
                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                FROM documents),
            fo AS (SELECT w, min(doc_id) AS first_doc FROM w GROUP BY w),
            cp AS (SELECT unnest([100, 200, 300, 400, 500]) AS n_docs),
            tok AS (SELECT cp.n_docs, CAST(count(*) AS BIGINT) AS n_tokens
                    FROM cp JOIN w ON w.doc_id < cp.n_docs GROUP BY cp.n_docs),
            voc AS (SELECT cp.n_docs, CAST(count(*) AS BIGINT) AS vocab
                    FROM cp JOIN fo ON fo.first_doc < cp.n_docs GROUP BY cp.n_docs)
            SELECT CAST(tok.n_docs AS BIGINT) AS n_docs, n_tokens, vocab
            FROM tok JOIN voc USING (n_docs) ORDER BY n_docs"""))

  /** Unbiased pass@k ([[graft.ops.EvalMetrics.passAtK]], Chen et al.
    * 2021): 50 synthetic tasks × 10 samples with md5-deterministic
    * pass flags, k ∈ {1, 5, 10}. The operator computes the exact
    * rational Π(n−c−i)/Π(n−i) in BigInt and floors to micro-units;
    * the oracle replays the same products (gate-sized n keeps them
    * double-exact in SQL) — the naive c/n-based estimate differs on
    * most rows, so a biased implementation hash-mismatches.
    */
  val t119PassAtK = Q(
    "t119_pass_at_k",
    (s, dir) => {
      val samples = docs(s, dir).select((col("doc_id") % 50).as("task_id"),
        expr("substring(md5(CAST(doc_id AS STRING)), 1, 1) BETWEEN '0' AND '7'")
          .as("passed"))
      graft.ops.EvalMetrics.passAtK(samples, Seq(1, 5, 10))
        .orderBy(col("task_id"), col("k"))
    },
    Some("""WITH s AS (SELECT doc_id % 50 AS task_id,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    BETWEEN '0' AND '7' AS passed
                FROM documents),
            a AS (SELECT task_id, count(*) AS n,
                    sum(CASE WHEN passed THEN 1 ELSE 0 END) AS c
                  FROM s GROUP BY task_id),
            kk AS (SELECT unnest([1, 5, 10]) AS k),
            j AS (SELECT a.task_id, kk.k, a.n, a.c FROM a JOIN kk ON kk.k <= a.n),
            f AS (SELECT task_id, k, n, c,
                    CASE WHEN n - c < k THEN 1000000
                         ELSE (CAST(list_product(list_transform(range(k),
                                 i -> n - i)) AS BIGINT)
                               - CAST(list_product(list_transform(range(k),
                                 i -> n - c - i)) AS BIGINT)) * 1000000
                              // CAST(list_product(list_transform(range(k),
                                 i -> n - i)) AS BIGINT)
                    END AS pass_micro
                  FROM j)
            SELECT CAST(task_id AS BIGINT) AS task_id, CAST(k AS INT) AS k,
                   CAST(n AS BIGINT) AS n, CAST(c AS BIGINT) AS c,
                   CAST(pass_micro AS BIGINT) AS pass_micro
            FROM f ORDER BY task_id, k"""))

  /** BLEU sufficient statistics ([[graft.ops.EvalMetrics.bleuStats]]):
    * candidate = the document text, reference = the same text with
    * every 7th word replaced — so matches are dense but NOT total,
    * and clipping is exercised wherever the original text repeats a
    * word the substitution removed. The oracle recounts the clipped
    * n-gram intersection per (doc, n) relationally; an unclipped
    * count or an off-by-one n-gram window shifts rows.
    */
  val t120BleuStats = Q(
    "t120_bleu_stats",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      val pairs = d.select(col("doc_id").as("pair_id"),
        expr("array_join(ws, ' ')").as("candidate"),
        expr("""array_join(transform(sequence(0, size(ws) - 1),
                i -> CASE WHEN i % 7 = 3 THEN 'X'
                          ELSE element_at(ws, CAST(i + 1 AS INT)) END), ' ')""")
          .as("reference"))
      graft.ops.EvalMetrics.bleuStats(pairs, maxN = 4)
        .orderBy(col("pair_id"), col("n"))
    },
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS cw
                FROM documents),
            p AS (SELECT doc_id, cw,
                    list_transform(range(len(cw)),
                      i -> CASE WHEN i % 7 = 3 THEN 'X'
                                ELSE cw[CAST(i + 1 AS INT)] END) AS rw
                  FROM d),
            n4 AS (SELECT unnest([1, 2, 3, 4]) AS n),
            cg AS (SELECT doc_id, n,
                     unnest(list_transform(range(len(cw) - n + 1),
                       i -> array_to_string(list_slice(cw,
                         CAST(i + 1 AS INT), CAST(i + n AS INT)), ' '))) AS g
                   FROM p JOIN n4 ON len(cw) >= n),
            rg AS (SELECT doc_id, n,
                     unnest(list_transform(range(len(rw) - n + 1),
                       i -> array_to_string(list_slice(rw,
                         CAST(i + 1 AS INT), CAST(i + n AS INT)), ' '))) AS g
                   FROM p JOIN n4 ON len(rw) >= n),
            cgc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY doc_id, n, g),
            rgc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY doc_id, n, g),
            m AS (SELECT cgc.doc_id, cgc.n,
                    CAST(sum(least(cgc.c, rgc.c)) AS BIGINT) AS matches
                  FROM cgc JOIN rgc
                    ON rgc.doc_id = cgc.doc_id AND rgc.n = cgc.n AND rgc.g = cgc.g
                  GROUP BY cgc.doc_id, cgc.n)
            SELECT p.doc_id AS pair_id, CAST(n4.n AS INT) AS n,
                   COALESCE(m.matches, 0) AS matches,
                   CAST(greatest(len(p.cw) - n4.n + 1, 0) AS BIGINT) AS total,
                   CAST(len(p.cw) AS BIGINT) AS cand_len,
                   CAST(len(p.rw) AS BIGINT) AS ref_len
            FROM p CROSS JOIN n4
            LEFT JOIN m ON m.doc_id = p.doc_id AND m.n = n4.n
            ORDER BY pair_id, n"""))

  /** Cohen's kappa ([[graft.ops.EvalMetrics.cohensKappa]]): two
    * md5-derived annotators over 4 classes, the second agreeing with
    * the first ~70% of the time and drifting to a DIFFERENT class
    * otherwise — so observed agreement is far from chance and κ is
    * informative. The oracle replays both raters, the class-count
    * join, and the exact floor-divided rational; a truncate-vs-floor
    * drift or an unjoined class shifts the micro value.
    */
  val t121CohensKappa = Q(
    "t121_cohens_kappa",
    (s, dir) => {
      val hx = (tag: String) =>
        s"CAST(conv(substring(md5(concat('$tag:', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
      val r = docs(s, dir).select(
        expr(s"${hx("ra")} % 4").as("a"),
        expr(s"""CASE WHEN ${hx("ag")} % 10 < 7 THEN ${hx("ra")} % 4
                 ELSE (${hx("ra")} + 1 + ${hx("rb")} % 3) % 4 END""").as("b"))
      graft.ops.EvalMetrics.cohensKappa(r)
    },
    Some("""WITH r AS (SELECT
                  CAST('0x' || substr(md5('ra:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4 AS a,
                  CASE WHEN CAST('0x' || substr(md5('ag:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 < 7
                       THEN CAST('0x' || substr(md5('ra:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4
                       ELSE (CAST('0x' || substr(md5('ra:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                             + 1 + CAST('0x' || substr(md5('rb:' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 3) % 4
                  END AS b
                FROM documents),
            top AS (SELECT count(*) AS n,
                      sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree
                    FROM r),
            na AS (SELECT a AS cls, count(*) AS na FROM r GROUP BY a),
            nb AS (SELECT b AS cls, count(*) AS nb FROM r GROUP BY b),
            pe AS (SELECT COALESCE(sum(na.na * nb.nb), 0) AS pe_num
                   FROM na JOIN nb USING (cls))
            SELECT CAST(n AS BIGINT) AS n, CAST(agree AS BIGINT) AS agree,
                   CAST(pe_num AS BIGINT) AS pe_num,
                   CAST((agree * n - pe_num) * 1000000 // (n * n - pe_num) AS BIGINT)
                     AS kappa_micro
            FROM top CROSS JOIN pe"""))

  /** Mann–Whitney U ([[graft.ops.EvalMetrics.mannWhitneyU]]): doc
    * length mod 100 as the score (dense ties — the mid-rank path is
    * the whole test), odd/even doc ids as the A/B split. The oracle
    * replays the value-domain mid-ranks in milli units and both U
    * statistics; a sloppy tie rule (min- or max-rank instead of
    * mid-rank) shifts r_a_milli immediately.
    */
  val t122MannWhitney = Q(
    "t122_mann_whitney",
    (s, dir) => {
      val d = docs(s, dir).select((col("doc_id") % 2 === 0).as("is_a"),
        (col("n_chars") % 100).as("score"))
      graft.ops.EvalMetrics.mannWhitneyU(d, "is_a", "score")
    },
    Some("""WITH d AS (SELECT doc_id % 2 = 0 AS is_a, n_chars % 100 AS v
                       FROM documents),
            bv AS (SELECT v, count(*) AS cnt,
                     sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS cnt_a
                   FROM d GROUP BY v),
            rk AS (SELECT v, cnt, cnt_a,
                     (sum(cnt) OVER (ORDER BY v) - cnt) * 1000
                       + (cnt + 1) * 500 AS rank_milli
                   FROM bv),
            agg AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS n_a,
                      CAST(sum(cnt - cnt_a) AS BIGINT) AS n_b,
                      CAST(sum(cnt_a * rank_milli) AS BIGINT) AS r_a_milli
                    FROM rk)
            SELECT n_a, n_b, r_a_milli,
                   CAST(r_a_milli - n_a * (n_a + 1) * 500 AS BIGINT) AS u_a_milli,
                   CAST(n_a * n_b * 1000
                     - (r_a_milli - n_a * (n_a + 1) * 500) AS BIGINT) AS u_b_milli
            FROM agg"""))

  /** chrF sufficient statistics ([[graft.ops.EvalMetrics.chrfStats]],
    * n ≤ 3 at the gate to keep the oracle's char-gram tables small):
    * same substituted-reference fixture as t120 but CHARACTER grams
    * with whitespace removed, and both totals (chrF needs recall).
    * The oracle regrams both sides via substr windows and recounts
    * the clipped intersection.
    */
  val t123ChrfStats = Q(
    "t123_chrf_stats",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      val pairs = d.select(col("doc_id").as("pair_id"),
        expr("array_join(ws, ' ')").as("candidate"),
        expr("""array_join(transform(sequence(0, size(ws) - 1),
                i -> CASE WHEN i % 7 = 3 THEN 'X'
                          ELSE element_at(ws, CAST(i + 1 AS INT)) END), ' ')""")
          .as("reference"))
      graft.ops.EvalMetrics.chrfStats(pairs, maxN = 3)
        .orderBy(col("pair_id"), col("n"))
    },
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            p AS (SELECT doc_id,
                    replace(array_to_string(ws, ' '), ' ', '') AS cs,
                    replace(array_to_string(list_transform(range(len(ws)),
                      i -> CASE WHEN i % 7 = 3 THEN 'X'
                                ELSE ws[CAST(i + 1 AS INT)] END), ' '),
                      ' ', '') AS rs
                  FROM d),
            n3 AS (SELECT unnest([1, 2, 3]) AS n),
            cg AS (SELECT doc_id, n,
                     unnest(list_transform(range(length(cs) - n + 1),
                       i -> substr(cs, CAST(i + 1 AS INT), CAST(n AS INT)))) AS g
                   FROM p JOIN n3 ON length(cs) >= n),
            rg AS (SELECT doc_id, n,
                     unnest(list_transform(range(length(rs) - n + 1),
                       i -> substr(rs, CAST(i + 1 AS INT), CAST(n AS INT)))) AS g
                   FROM p JOIN n3 ON length(rs) >= n),
            cgc AS (SELECT doc_id, n, g, count(*) AS c FROM cg GROUP BY doc_id, n, g),
            rgc AS (SELECT doc_id, n, g, count(*) AS c FROM rg GROUP BY doc_id, n, g),
            m AS (SELECT cgc.doc_id, cgc.n,
                    CAST(sum(least(cgc.c, rgc.c)) AS BIGINT) AS matches
                  FROM cgc JOIN rgc
                    ON rgc.doc_id = cgc.doc_id AND rgc.n = cgc.n AND rgc.g = cgc.g
                  GROUP BY cgc.doc_id, cgc.n)
            SELECT p.doc_id AS pair_id, CAST(n3.n AS INT) AS n,
                   COALESCE(m.matches, 0) AS matches,
                   CAST(greatest(length(p.cs) - n3.n + 1, 0) AS BIGINT) AS cand_total,
                   CAST(greatest(length(p.rs) - n3.n + 1, 0) AS BIGINT) AS ref_total
            FROM p CROSS JOIN n3
            LEFT JOIN m ON m.doc_id = p.doc_id AND m.n = n3.n
            ORDER BY pair_id, n"""))

  /** SQuAD-style token F1 + EM ([[graft.ops.EvalMetrics.tokenF1]])
    * over the t120 substituted-reference fixture: every doc with ≥ 4
    * words differs from its reference (EM false, F1 < 1), shorter
    * docs stay identical (EM true, F1 = 1e6) — both branches hot.
    * The oracle recounts the clipped unigram overlap per doc and
    * replays the exact integer F1 floor.
    */
  val t124TokenF1 = Q(
    "t124_token_f1",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        expr("filter(split(text, ' '), x -> x != '')").as("ws"))
      val pairs = d.select(col("doc_id").as("pair_id"),
        expr("array_join(ws, ' ')").as("candidate"),
        expr("""array_join(transform(sequence(0, size(ws) - 1),
                i -> CASE WHEN i % 7 = 3 THEN 'X'
                          ELSE element_at(ws, CAST(i + 1 AS INT)) END), ' ')""")
          .as("reference"))
      graft.ops.EvalMetrics.tokenF1(pairs).orderBy(col("pair_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS cw
                FROM documents),
            p AS (SELECT doc_id, cw,
                    list_transform(range(len(cw)),
                      i -> CASE WHEN i % 7 = 3 THEN 'X'
                                ELSE cw[CAST(i + 1 AS INT)] END) AS rw
                  FROM d),
            cu AS (SELECT doc_id, unnest(cw) AS w FROM p),
            ru AS (SELECT doc_id, unnest(rw) AS w FROM p),
            cc AS (SELECT doc_id, w, count(*) AS c FROM cu GROUP BY doc_id, w),
            rc AS (SELECT doc_id, w, count(*) AS c FROM ru GROUP BY doc_id, w),
            ov AS (SELECT cc.doc_id,
                     CAST(sum(least(cc.c, rc.c)) AS BIGINT) AS overlap
                   FROM cc JOIN rc ON rc.doc_id = cc.doc_id AND rc.w = cc.w
                   GROUP BY cc.doc_id)
            SELECT p.doc_id AS pair_id, COALESCE(ov.overlap, 0) AS overlap,
                   CAST(len(p.cw) AS BIGINT) AS cand_len,
                   CAST(len(p.rw) AS BIGINT) AS ref_len,
                   CASE WHEN len(p.cw) = 0 AND len(p.rw) = 0 THEN 1000000
                        ELSE 2 * COALESCE(ov.overlap, 0) * 1000000
                             // (len(p.cw) + len(p.rw)) END AS f1_micro,
                   p.cw = p.rw AS exact_match
            FROM p LEFT JOIN ov ON ov.doc_id = p.doc_id
            ORDER BY pair_id"""))

  /** ROUGE-L sufficient statistics ([[graft.ops.EvalMetrics.rougeL]]):
    * candidate = the doc's first 12 words, reference = the same words
    * ROTATED by 3 — an order-sensitive fixture a bag-of-words overlap
    * (which would report full overlap) or a positional match count
    * (which would report near-zero) both fail; only a true LCS over
    * the crossing alignment scores it. The oracle replays the full
    * DP table per pair through a per-cell recursive CTE at fixture
    * lengths (≤ 12×12 cells), then the exact integer F floor.
    */
  val t125RougeL = Q(
    "t125_rouge_l",
    (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        expr("slice(filter(split(text, ' '), x -> x != ''), 1, 12)").as("cw"))
      val pairs = d.select(col("doc_id").as("pair_id"),
        expr("array_join(cw, ' ')").as("candidate"),
        expr("""array_join(concat(
                  slice(cw, 4, greatest(size(cw) - 3, 0)),
                  slice(cw, 1, least(size(cw), 3))), ' ')""").as("reference"))
      graft.ops.EvalMetrics.rougeL(pairs).orderBy(col("pair_id"))
    },
    Some("""WITH RECURSIVE
            d AS (SELECT doc_id,
                    list_slice(list_filter(string_split(text, ' '), x -> x <> ''),
                      1, 12) AS cw
                  FROM documents),
            p AS MATERIALIZED (SELECT doc_id, cw,
                    list_concat(list_slice(cw, 4, len(cw)),
                                list_slice(cw, 1, 3)) AS rw,
                    len(cw) AS m,
                    len(list_concat(list_slice(cw, 4, len(cw)),
                                    list_slice(cw, 1, 3))) AS n
                  FROM d),
            dp AS (
              SELECT doc_id, m, n, cw, rw, 0 AS k,
                     list_transform(range((m + 1) * (n + 1)), x -> 0) AS t
              FROM p
              UNION ALL
              SELECT doc_id, m, n, cw, rw, k + 1,
                     list_transform(range((m + 1) * (n + 1)), x ->
                       CASE WHEN x = (k // n + 1) * (n + 1) + (k % n + 1)
                            THEN CASE WHEN cw[CAST(k // n + 1 AS INT)]
                                           = rw[CAST(k % n + 1 AS INT)]
                                      THEN t[(k // n) * (n + 1) + (k % n) + 1] + 1
                                      ELSE greatest(
                                        t[(k // n) * (n + 1) + (k % n + 1) + 1],
                                        t[(k // n + 1) * (n + 1) + (k % n) + 1])
                                 END
                            ELSE t[x + 1]
                       END) AS t
              FROM dp WHERE k < m * n)
            SELECT doc_id AS pair_id,
                   CAST(t[m * (n + 1) + n + 1] AS BIGINT) AS lcs,
                   CAST(m AS BIGINT) AS cand_len,
                   CAST(n AS BIGINT) AS ref_len,
                   CAST(CASE WHEN m = 0 AND n = 0 THEN 1000000
                             WHEN m = 0 OR n = 0 THEN 0
                             ELSE 2 * t[m * (n + 1) + n + 1] * 1000000 // (m + n)
                        END AS BIGINT) AS f1_micro
            FROM dp WHERE k = m * n
            ORDER BY pair_id"""))

  /** Bigram-LM perplexity quality scoring ([[graft.ops.LangModel]]):
    * counts train on the doc_id < 50 slice, every doc scores against
    * them (docs outside the slice exercise the unseen-bigram LEFT-join
    * path). Integer facts (n_bigrams, n_unseen, sum_c2) are exact;
    * avg_logp/ppl round to 6dp per the house rules.
    */
  val t64LmPerplexity = Q(
    "t64_lm_perplexity",
    (s, dir) => graft.ops.LangModel.perplexity(docs(s, dir), trainMaxId = 50)
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            bg AS (SELECT doc_id,
                     unnest(list_transform(range(len(ws) - 1),
                       i -> struct_pack(a := ws[CAST(i + 1 AS INT)],
                                        b := ws[CAST(i + 2 AS INT)]))) AS p
                   FROM d WHERE len(ws) >= 2),
            g AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
            c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2n
                   FROM g WHERE doc_id < 50 GROUP BY a, b),
            c1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1n
                   FROM g WHERE doc_id < 50 GROUP BY a),
            v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                  FROM (SELECT unnest(ws) AS w FROM d WHERE doc_id < 50)),
            sc AS (SELECT g.doc_id, COALESCE(c2.c2n, 0) AS c2n, COALESCE(c1.c1n, 0) AS c1n,
                          ln(CAST(COALESCE(c2.c2n, 0) + 1 AS DOUBLE)
                             / (COALESCE(c1.c1n, 0) + v.v)) AS logp
                   FROM g LEFT JOIN c2 ON g.a = c2.a AND g.b = c2.b
                          LEFT JOIN c1 ON g.a = c1.a
                          CROSS JOIN v)
            SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                   CAST(sum(CASE WHEN c2n = 0 THEN 1 ELSE 0 END) AS INT) AS n_unseen,
                   CAST(sum(c2n) AS BIGINT) AS sum_c2,
                   round(sum(logp) / count(*), 6) AS avg_logp,
                   round(exp(-sum(logp) / count(*)), 6) AS ppl
            FROM sc GROUP BY doc_id ORDER BY doc_id"""))

  /** Embedding-space corpus clustering: assign every vector to its
    * deterministic k-means cluster (md5 seeds, 3 Lloyd rounds over
    * exact integer micro-sums — the shared [[Similarity.kmeansCentroids]]
    * quantizer) and report the assignment cosine plus cluster
    * population — the domain-balancing / cluster-proportional-sampling
    * primitive. The oracle replays the identical k-means (BIGINT
    * micro-sums → bit-identical centroids) and the final assignment.
    */
  /** Shared oracle prefix: the s52/s54 deterministic k-means replay
    * (md5 seeds, 3 Lloyd rounds over exact BIGINT micro-sums) ending
    * at `asn(vec_id, cid, cos)` — the final assignment with its
    * cosine.
    */
  private val kmeansAsnSql =
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            c0 AS (SELECT vec_id AS cid, e AS ce FROM v
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
            ac0 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c0 c),
            asn0 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac0) t
                    WHERE rn = 1),
            m1 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn0 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c1 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m1 GROUP BY cid),
            ac1 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c1 c),
            asn1 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac1) t
                    WHERE rn = 1),
            m2 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn1 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c2 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m2 GROUP BY cid),
            ac2 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c2 c),
            asn2 AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac2) t
                    WHERE rn = 1),
            m3 AS (SELECT a.cid, t.i,
                     CAST(sum(CAST(round(v.e[t.i+1], 6) * 1e6 AS BIGINT)) AS DOUBLE)
                       / (count(*) * 1e6) AS cval
                   FROM v JOIN asn2 a USING (vec_id), range(64) t(i)
                   GROUP BY a.cid, t.i),
            c3 AS (SELECT cid, list(cval ORDER BY i) AS ce FROM m3 GROUP BY cid),
            ac3 AS (SELECT v.vec_id, c.cid,
                     round(list_sum(list_transform(range(64), i -> v.e[i+1] * c.ce[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> v.e[i+1] * v.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> c.ce[i+1] * c.ce[i+1])))),
                       6) AS cos
                   FROM v, c3 c),
            asn AS (SELECT vec_id, cid, cos FROM (
                      SELECT vec_id, cid, cos, row_number() OVER (PARTITION BY vec_id
                        ORDER BY cos DESC, cid ASC) AS rn FROM ac3) t
                    WHERE rn = 1)"""

  val s52ClusterAssign = Q(
    "s52_kmeans_clusters",
    (s, dir) => Similarity.clusterAssign(emb(s, dir), nlist = 8, lloydRounds = 3)
      .orderBy(col("vec_id")),
    Some(kmeansAsnSql + """,
            sz AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
                   FROM asn GROUP BY cid)
            SELECT vec_id, cid AS cluster, cos, cluster_size
            FROM asn JOIN sz USING (cid)
            ORDER BY vec_id"""))

  /** Embedding outliers ([[Similarity.clusterOutliers]]): flag
    * vectors whose assignment cosine falls strictly below their
    * cluster's p10 — the far-from-centroid prune of the D4/SemDeDup
    * curation family, with a data-derived per-cluster cut. Percentile
    * ranks are exact integer arithmetic on the micro-quantized
    * cosine, so the oracle's window replay agrees at exact-multiple
    * cluster sizes.
    */
  val s54EmbOutliers = Q(
    "s54_emb_outliers",
    (s, dir) => Similarity.clusterOutliers(emb(s, dir), nlist = 8,
        lloydRounds = 3, q = 0.10)
      .orderBy(col("vec_id")),
    Some(kmeansAsnSql + """,
            cosq AS (SELECT vec_id, cid,
                       CAST(round(cos * 1e6) AS BIGINT) AS cos_micro
                     FROM asn),
            fr AS (SELECT cid, cos_micro, CAST(count(*) AS BIGINT) AS c
                   FROM cosq GROUP BY 1, 2),
            cw AS (SELECT cid, cos_micro AS cv,
                     CAST(sum(c) OVER (PARTITION BY cid
                       ORDER BY cos_micro) AS BIGINT) AS cum,
                     CAST(sum(c) OVER (PARTITION BY cid) AS BIGINT) AS cnt
                   FROM fr),
            pc AS (SELECT cid,
                     min(CASE WHEN cum >= (100000 * cnt + 999999) // 1000000
                         THEN cv END) AS p_micro
                   FROM cw GROUP BY cid)
            SELECT vec_id, cid AS cluster, cos_micro, p_micro,
                   cos_micro < p_micro AS is_outlier
            FROM cosq JOIN pc USING (cid)
            ORDER BY vec_id"""))

  /** Deterministic train/val/test assignment
    * ([[graft.ops.Splits.hashSplit]], 800/100/100 milli weights): a
    * pure md5-of-id projection, so the split of every document is
    * reproducible from the id alone — no persisted assignment table,
    * no coordination, stable under reruns and late-arriving shards.
    */
  val t70HashSplit = Q(
    "t70_hash_split",
    (s, dir) => graft.ops.Splits.hashSplit(docs(s, dir))
      .select(col("doc_id"), col("source"), col("bucket_milli"), col("split"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id, source,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                     AS BIGINT) % 1000 AS bucket_milli,
                   CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                          AS BIGINT) % 1000 < 800 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                          AS BIGINT) % 1000 < 900 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents ORDER BY doc_id"""))

  /** MMR diversified rerank ([[Similarity.mmrRerank]], λ = 0.7):
    * top-5 from each query's dense top-8 pool, greedily maximizing
    * λ·rel − (1−λ)·max-sim-to-selected in exact nano-unit integers.
    * The oracle unrolls the 5 greedy selections as chained CTEs (the
    * s52 Lloyd-round precedent) over the same micro-quantized
    * cosines, so selection order and tie-breaks replay bit-for-bit.
    */
  val s55MmrRerank = Q(
    "s55_mmr_rerank",
    (s, dir) => {
      val e = emb(s, dir)
      Similarity.mmrRerank(e.filter(col("id") < 3), e,
          poolK = 8, k = 5, lambdaMilli = 700)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            x AS (SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                    round(list_sum(list_transform(range(64), i -> q.e[i+1] * c.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> c.e[i+1] * c.e[i+1])))),
                      6) AS cos
                  FROM v q JOIN v c ON q.vec_id < 3 AND q.vec_id <> c.vec_id),
            r AS (SELECT query_id, doc_id, cos,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, doc_id ASC) AS rn
                  FROM x),
            pool AS (SELECT query_id, doc_id,
                       CAST(round(cos * 1e6) AS BIGINT) AS relm
                     FROM r WHERE rn <= 8),
            ps AS (SELECT pa.query_id, pa.doc_id AS a, pb.doc_id AS b,
                     CAST(round(round(
                       list_sum(list_transform(range(64), i -> va.e[i+1] * vb.e[i+1]))
                       / (sqrt(list_sum(list_transform(range(64), i -> va.e[i+1] * va.e[i+1])))
                        * sqrt(list_sum(list_transform(range(64), i -> vb.e[i+1] * vb.e[i+1])))),
                       6) * 1e6) AS BIGINT) AS simm
                   FROM pool pa JOIN pool pb
                     ON pa.query_id = pb.query_id AND pa.doc_id <> pb.doc_id
                        JOIN v va ON va.vec_id = pa.doc_id
                        JOIN v vb ON vb.vec_id = pb.doc_id),
            sel1 AS (SELECT query_id, doc_id, 700 * relm AS score FROM (
                       SELECT query_id, doc_id, relm, row_number() OVER (
                         PARTITION BY query_id ORDER BY relm DESC, doc_id ASC) AS rn
                       FROM pool) t WHERE rn = 1),
            s1 AS (SELECT query_id, doc_id FROM sel1),
            c2 AS (SELECT p.query_id, p.doc_id, p.relm, max(ps.simm) AS ms
                   FROM pool p JOIN ps ON ps.query_id = p.query_id AND ps.a = p.doc_id
                        JOIN s1 ON s1.query_id = ps.query_id AND s1.doc_id = ps.b
                   WHERE NOT EXISTS (SELECT 1 FROM s1 z
                     WHERE z.query_id = p.query_id AND z.doc_id = p.doc_id)
                   GROUP BY 1, 2, 3),
            sel2 AS (SELECT query_id, doc_id, 700 * relm - 300 * ms AS score FROM (
                       SELECT query_id, doc_id, relm, ms, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY 700 * relm - 300 * ms DESC, doc_id ASC) AS rn
                       FROM c2) t WHERE rn = 1),
            s2 AS (SELECT * FROM s1 UNION ALL SELECT query_id, doc_id FROM sel2),
            c3 AS (SELECT p.query_id, p.doc_id, p.relm, max(ps.simm) AS ms
                   FROM pool p JOIN ps ON ps.query_id = p.query_id AND ps.a = p.doc_id
                        JOIN s2 ON s2.query_id = ps.query_id AND s2.doc_id = ps.b
                   WHERE NOT EXISTS (SELECT 1 FROM s2 z
                     WHERE z.query_id = p.query_id AND z.doc_id = p.doc_id)
                   GROUP BY 1, 2, 3),
            sel3 AS (SELECT query_id, doc_id, 700 * relm - 300 * ms AS score FROM (
                       SELECT query_id, doc_id, relm, ms, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY 700 * relm - 300 * ms DESC, doc_id ASC) AS rn
                       FROM c3) t WHERE rn = 1),
            s3 AS (SELECT * FROM s2 UNION ALL SELECT query_id, doc_id FROM sel3),
            c4 AS (SELECT p.query_id, p.doc_id, p.relm, max(ps.simm) AS ms
                   FROM pool p JOIN ps ON ps.query_id = p.query_id AND ps.a = p.doc_id
                        JOIN s3 ON s3.query_id = ps.query_id AND s3.doc_id = ps.b
                   WHERE NOT EXISTS (SELECT 1 FROM s3 z
                     WHERE z.query_id = p.query_id AND z.doc_id = p.doc_id)
                   GROUP BY 1, 2, 3),
            sel4 AS (SELECT query_id, doc_id, 700 * relm - 300 * ms AS score FROM (
                       SELECT query_id, doc_id, relm, ms, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY 700 * relm - 300 * ms DESC, doc_id ASC) AS rn
                       FROM c4) t WHERE rn = 1),
            s4 AS (SELECT * FROM s3 UNION ALL SELECT query_id, doc_id FROM sel4),
            c5 AS (SELECT p.query_id, p.doc_id, p.relm, max(ps.simm) AS ms
                   FROM pool p JOIN ps ON ps.query_id = p.query_id AND ps.a = p.doc_id
                        JOIN s4 ON s4.query_id = ps.query_id AND s4.doc_id = ps.b
                   WHERE NOT EXISTS (SELECT 1 FROM s4 z
                     WHERE z.query_id = p.query_id AND z.doc_id = p.doc_id)
                   GROUP BY 1, 2, 3),
            sel5 AS (SELECT query_id, doc_id, 700 * relm - 300 * ms AS score FROM (
                       SELECT query_id, doc_id, relm, ms, row_number() OVER (
                         PARTITION BY query_id
                         ORDER BY 700 * relm - 300 * ms DESC, doc_id ASC) AS rn
                       FROM c5) t WHERE rn = 1),
            u AS (SELECT query_id, 1 AS rank, doc_id, score FROM sel1
                  UNION ALL SELECT query_id, 2, doc_id, score FROM sel2
                  UNION ALL SELECT query_id, 3, doc_id, score FROM sel3
                  UNION ALL SELECT query_id, 4, doc_id, score FROM sel4
                  UNION ALL SELECT query_id, 5, doc_id, score FROM sel5)
            SELECT query_id, CAST(rank AS INT) AS rank, doc_id,
                   CAST(score AS BIGINT) AS score_nano
            FROM u ORDER BY query_id, rank"""))

  /** Incremental crawl screen ([[TextDedup.crossCorpusNearDups]]):
    * the src12 slice plays the NEW snapshot, everything else the
    * accepted REFERENCE corpus; the band join runs across the two
    * sides only (no reference self-pairs). The oracle replays the
    * universal minhash family, banding, cross-side candidates and the
    * exact-Jaccard verify.
    */
  val d55IncrementalScreen = Q(
    "d55_incremental_screen",
    (s, dir) => {
      val d = docs(s, dir)
      TextDedup.crossCorpusNearDups(
          d.filter(col("source") === "src12"), d.filter(col("source") =!= "src12"),
          minJaccard = 0.2)
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            sets AS (SELECT doc_id, source,
                       list_distinct(list_transform(range(len(ws) - 2),
                         i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
                     FROM d WHERE len(ws) >= 3),
            sh AS (SELECT doc_id, source, unnest(sh) AS shingle FROM sets),
            h AS (SELECT doc_id, source,
                    CAST('0x' || substr(md5(shingle), 1, 14) AS BIGINT)
                      % 2147483647 AS x
                  FROM sh),
            consts AS (SELECT k,
                    1 + CAST('0x' || substr(md5('mha:' || k), 1, 14) AS BIGINT)
                      % 2147483646 AS a,
                    CAST('0x' || substr(md5('mhb:' || k), 1, 14) AS BIGINT)
                      % 2147483647 AS b
                  FROM range(64) r(k)),
            slots AS (SELECT doc_id, source, k,
                        min((a * x + b) % 2147483647) AS slot
                      FROM h, consts GROUP BY 1, 2, 3),
            bands AS (SELECT doc_id, source, k // 4 AS band,
                        string_agg(CAST(slot AS VARCHAR), ',' ORDER BY k) AS bucket
                      FROM slots GROUP BY doc_id, source, k // 4),
            cand AS (SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
                     FROM bands n JOIN bands r
                       ON n.band = r.band AND n.bucket = r.bucket
                     WHERE n.source = 'src12' AND r.source <> 'src12'),
            vv AS (SELECT new_id, ref_id,
                     len(list_intersect(sn.sh, sr.sh)) AS inter,
                     len(sn.sh) AS na, len(sr.sh) AS nb
                   FROM cand JOIN sets sn ON cand.new_id = sn.doc_id
                             JOIN sets sr ON cand.ref_id = sr.doc_id),
            ver AS (SELECT new_id, ref_id,
                      CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
                    FROM vv
                    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2),
            bw AS (SELECT new_id, ref_id, jaccard,
                     row_number() OVER (PARTITION BY new_id
                       ORDER BY jaccard DESC, ref_id ASC) AS rn,
                     count(*) OVER (PARTITION BY new_id) AS nm
                   FROM ver),
            best AS (SELECT new_id, CAST(nm AS BIGINT) AS n_matches,
                       ref_id AS best_ref_id, jaccard AS best_jaccard
                     FROM bw WHERE rn = 1)
            SELECT nd.doc_id,
                   COALESCE(n_matches, 0) AS n_matches,
                   CAST(COALESCE(best_ref_id, -1) AS BIGINT) AS best_ref_id,
                   COALESCE(best_jaccard, 0.0) AS best_jaccard,
                   COALESCE(n_matches, 0) > 0 AS is_dup
            FROM (SELECT doc_id FROM documents WHERE source = 'src12') nd
            LEFT JOIN best ON nd.doc_id = best.new_id
            ORDER BY nd.doc_id"""))

  /** DSIR importance weights: hashed-unigram (64 md5 buckets)
    * add-one-smoothed log likelihood ratio of target (src0) vs the
    * raw pool, per document. Per-bucket weights micro-quantize to
    * BIGINTs after a 6dp round (the BM25 contribution pattern), so
    * per-doc sums are order-independent and exact on both engines.
    */
  val t66DsirWeights = Q(
    "t66_dsir_weights",
    (s, dir) => Dsir.importanceWeights(docs(s, dir), targetSource = "src0",
        buckets = 64)
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, source,
                  unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                FROM documents),
            bkt AS (SELECT doc_id, source,
                      CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64 AS INT)
                        AS bucket
                    FROM d),
            pd AS (SELECT doc_id, source, bucket, CAST(count(*) AS BIGINT) AS n
                   FROM bkt GROUP BY 1, 2, 3),
            gh AS (SELECT bucket, source = 'src0' AS is_tgt,
                       CAST(sum(n) AS BIGINT) AS n
                     FROM pd GROUP BY 1, 2),
            tot AS (SELECT CAST(sum(CASE WHEN is_tgt THEN n ELSE 0 END) AS BIGINT) AS t_tgt,
                           CAST(sum(CASE WHEN NOT is_tgt THEN n ELSE 0 END) AS BIGINT) AS t_raw
                    FROM gh),
            wt AS (SELECT CAST(r.i AS INT) AS bucket,
                     CAST(round(round(ln(
                       (COALESCE(tg.ct, 0) + 1.0) * (tot.t_raw + 64.0)
                       / ((tot.t_tgt + 64.0) * (COALESCE(rw.cr, 0) + 1.0))), 6) * 1e6)
                       AS BIGINT) AS w_micro
                   FROM range(64) r(i)
                   LEFT JOIN (SELECT bucket, n AS ct FROM gh WHERE is_tgt) tg
                     ON tg.bucket = r.i
                   LEFT JOIN (SELECT bucket, n AS cr FROM gh WHERE NOT is_tgt) rw
                     ON rw.bucket = r.i,
                   tot),
            sc AS (SELECT pd.doc_id, CAST(sum(pd.n) AS BIGINT) AS n_tokens,
                     CAST(sum(pd.n * wt.w_micro) AS BIGINT) AS logw_micro
                   FROM pd JOIN wt USING (bucket) GROUP BY pd.doc_id)
            SELECT doc_id, n_tokens, logw_micro,
                   CAST(logw_micro AS DOUBLE) / 1e6 AS logw,
                   logw_micro > 0 AS keep
            FROM sc ORDER BY doc_id"""))

  /** The frozen t65 weight vector: a hashing-trick linear quality
    * model (16 md5 buckets). Weights ship with the pipeline like a
    * fastText .bin would; the gate pins the distributed APPLICATION.
    */
  private val clfWeights: Seq[Double] = Seq(
    0.8, -1.2, 0.4, 1.5, -0.6, 0.2, -1.8, 0.9,
    1.1, -0.3, 0.5, -0.9, 1.3, -1.5, 0.7, -0.2)

  /** Model-based quality classification over the full corpus: md5
    * bucket histogram → frozen-weight dot → sigmoid → threshold on
    * the 6dp-rounded score (both engines round before comparing, so
    * the boundary cannot flip).
    */
  val t65QualityClassifier = Q(
    "t65_quality_classifier",
    (s, dir) => TextStats.qualityClassifier(docs(s, dir), clfWeights, bias = 0.1)
      .orderBy(col("doc_id")),
    Some {
      // CAST each weight: DuckDB would otherwise parse 0.8 as DECIMAL
      // and aggregate in decimal, diverging from Spark's double math.
      val cases = clfWeights.zipWithIndex
        .map { case (w, i) => s"WHEN $i THEN CAST($w AS DOUBLE)" }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                       x -> x <> '')) AS w
                     FROM documents),
          b AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 16 AS INT) AS bucket
                FROM d),
          c AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
                FROM b GROUP BY doc_id, bucket),
          z AS (SELECT doc_id, CAST(sum(n) AS INT) AS n_words,
                  sum(n * CASE bucket $cases END) AS dot
                FROM c GROUP BY doc_id)
          SELECT doc_id, n_words,
                 round(1.0 / (1.0 + exp(-(0.1 + dot / n_words))), 6) AS score,
                 round(1.0 / (1.0 + exp(-(0.1 + dot / n_words))), 6) >= 0.5 AS keep
          FROM z ORDER BY doc_id"""
    })

  /** Classifier calibration table (reliability diagram) over the t65
    * scorer: score deciles vs the rate of a deterministic length
    * label — the ML-ops check a quality-filter threshold decision is
    * actually based on. All emitted values are exact integers (micro
    * mean score, milli positive rate via floor division); the oracle
    * replays the full scoring pipeline plus the bucketing, so a
    * decile boundary drift anywhere hash-mismatches.
    */
  val t106ScoreCalibration = Q(
    "t106_score_calibration",
    (s, dir) => {
      val scored = TextStats.qualityClassifier(docs(s, dir), clfWeights, bias = 0.1)
      val lab = docs(s, dir).select(col("doc_id"), (col("n_chars") >= 300).as("label"))
      scored.join(lab, "doc_id")
        .select(expr("CAST(floor(score * 10) AS INT)").as("decile"),
          col("score"), col("label"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"),
          sum(col("label").cast("long")).as("n_pos"),
          expr("sum(CAST(round(score * 1000000) AS BIGINT))").as("sum_micro"))
        .select(col("decile"), col("n"), col("n_pos"),
          expr("sum_micro div n").as("mean_score_micro"),
          expr("(n_pos * 1000) div n").as("pos_rate_milli"))
        .orderBy(col("decile"))
    },
    Some {
      val cases = clfWeights.zipWithIndex
        .map { case (w, i) => s"WHEN $i THEN CAST($w AS DOUBLE)" }.mkString(" ")
      s"""WITH d AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                       x -> x <> '')) AS w
                     FROM documents),
          b AS (SELECT doc_id,
                  CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 16 AS INT) AS bucket
                FROM d),
          c AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
                FROM b GROUP BY doc_id, bucket),
          z AS (SELECT doc_id, CAST(sum(n) AS INT) AS n_words,
                  sum(n * CASE bucket $cases END) AS dot
                FROM c GROUP BY doc_id),
          sc AS (SELECT doc_id,
                   round(1.0 / (1.0 + exp(-(0.1 + dot / n_words))), 6) AS score
                 FROM z),
          j AS (SELECT sc.score, (doc.n_chars >= 300) AS label
                FROM sc JOIN documents doc ON sc.doc_id = doc.doc_id)
          SELECT CAST(floor(score * 10) AS INT) AS decile,
                 count(*) AS n,
                 CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                 CAST(sum(CAST(round(score * 1000000) AS BIGINT)) // count(*)
                   AS BIGINT) AS mean_score_micro,
                 CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) * 1000 // count(*)
                   AS BIGINT) AS pos_rate_milli
          FROM j GROUP BY 1 ORDER BY 1"""
    })

  /** Exact bigram heavy hitters ([[graft.ops.HeavyHitters.heavyGrams]],
    * k = 800): every bigram with frequency > n/(k+1), found by a
    * shuffle-free per-partition Misra–Gries pass (exact recall by
    * pigeonhole) then an exact candidate-only count — never the
    * full-dictionary `GROUP BY` the oracle runs. The boilerplate-
    * phrase detector at corpus scale.
    */
  val t71HeavyHitters = Q(
    "t71_heavy_hitters",
    (s, dir) => graft.ops.HeavyHitters.heavyGrams(docs(s, dir), k = 800, n = 2),
    Some("""WITH d AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            t AS (SELECT ws[i+1] || ' ' || ws[i+2] AS gram
                  FROM d, unnest(range(len(ws) - 1)) AS u(i)),
            f AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY gram),
            n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM f)
            SELECT gram, cnt FROM f
            WHERE cnt * 801 > (SELECT total FROM n)
            ORDER BY cnt DESC, gram"""))

  /** Edit-distance similarity self-join ([[graft.ops.EditJoin]],
    * d = 2) over each document's 40-char prefix: PassJoin segment
    * filtering (d+1 segments, ±d position windows, exact recall by
    * pigeonhole) then a candidate-only `levenshtein` verify — never
    * the O(n²) cross product the oracle runs.
    */
  val d56EditJoin = Q(
    "d56_edit_join",
    (s, dir) => graft.ops.EditJoin.editJoin(docs(s, dir),
      substring(col("text"), 1, 40), d = 2),
    Some("""WITH p AS (SELECT doc_id, substr(text, 1, 40) AS pre FROM documents)
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
            FROM p a JOIN p b ON a.doc_id < b.doc_id
            WHERE levenshtein(a.pre, b.pre) <= 2
            ORDER BY a_id, b_id"""))

  /** Winnowing fingerprints ([[TextDedup.winnowFingerprints]] —
    * Schleimer et al., SIGMOD'03): per-doc selected (position, hash)
    * sketch with the k+w−1 substring-match guarantee, computed as
    * pure codegen'd array built-ins — no shuffle, no window function.
    * The oracle replays k-gram hashing, the packed (hash, ¬pos) key,
    * and window-min selection verbatim with list lambdas.
    */
  val t72Winnow = Q(
    "t72_winnow_fingerprints",
    (s, dir) => TextDedup.winnowFingerprints(docs(s, dir))
      .orderBy(col("doc_id")),
    Some("""WITH b AS (SELECT doc_id, text,
                  CAST(length(text) - 4 AS INT) AS ng FROM documents),
            k AS (SELECT doc_id, ng,
                    CASE WHEN ng >= 1 THEN
                      list_transform(range(ng), i ->
                        CAST('0x' || substr(md5(substr(text, i+1, 5)), 1, 10) AS BIGINT)
                          * 1048576 + (1048575 - i))
                    ELSE CAST([] AS BIGINT[]) END AS keys
                  FROM b),
            s AS (SELECT doc_id, ng,
                    CASE WHEN ng >= 1 THEN
                      list_distinct(list_transform(range(greatest(ng - 4, 0) + 1),
                        s -> list_min(list_slice(keys, s+1, s+4))))
                    ELSE CAST([] AS BIGINT[]) END AS sel
                  FROM k)
            SELECT doc_id, CAST(greatest(ng, 0) AS INT) AS n_grams,
                   CAST(len(sel) AS INT) AS n_fp,
                   md5(array_to_string(list_sort(list_transform(sel, key ->
                     lpad(CAST(1048575 - key % 1048576 AS VARCHAR), 7, '0') || ':' ||
                     CAST(key // 1048576 AS VARCHAR))), ',')) AS fp_hash
            FROM s ORDER BY doc_id"""))

  /** Prefix-filtered exact similarity join
    * ([[TextDedup.prefixJaccardPairs]], τ = 0.6 on word 3-shingle
    * sets — the high-threshold regime prefix filtering exists for;
    * the planted near-dups all sit at J ≥ 0.7 and nothing lives in
    * (0.2, 0.7), so this τ keeps the identical result set while the
    * prefix shrinks from ~0.8|X| to ~0.4|X| join keys. Recall stays
    * provably 1.0): join
    * keys are only each doc's rarest |X|−⌈τ|X|⌉+1 shingles in the
    * global (df, shingle) order, with a micro-integer length filter —
    * exact recall by pigeonhole, a fraction of d41's
    * shared-ANY-shingle candidate space. The oracle runs the
    * brute-force co-occurrence join with the same micro-exact
    * threshold.
    */
  val d58PrefixJoin = Q(
    "d58_prefix_jaccard_join",
    (s, dir) => TextDedup.prefixJaccardPairs(docs(s, dir), minJaccard = 0.6)
      .orderBy(col("doc_a"), col("doc_b")),
    Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '),
                  x -> x <> '') AS ws
                FROM documents),
            sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
                     FROM d WHERE len(ws) >= 3),
            t AS (SELECT doc_id, unnest(sh) AS w FROM sets),
            it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS BIGINT) AS inter
                   FROM t a JOIN t b ON a.w = b.w AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            sz AS (SELECT doc_id, CAST(len(sh) AS INT) AS n FROM sets)
            SELECT doc_a, doc_b, inter, sa.n AS size_a, sb.n AS size_b,
                   CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
            FROM it JOIN sz sa ON it.doc_a = sa.doc_id
                    JOIN sz sb ON it.doc_b = sb.doc_id
            WHERE inter * 1000000 >= 600000 * (sa.n + sb.n - inter)
            ORDER BY doc_a, doc_b"""))

  /** Per-window materialization of the GPT-style concat-and-chunk
    * regime ([[graft.ops.SequencePack.chunkWindows]]): the corpus
    * token stream in doc-id order, cut into 512-token training
    * windows, each row carrying the assembled window text and its
    * document span. The oracle replays it with a serial
    * cumulative-sum window — the gate is literally "distributed
    * prefix-sum == serial cumsum" extended to the materialized
    * window content.
    */
  val t73ChunkWindows = Q(
    "t73_chunk_windows",
    (s, dir) => graft.ops.SequencePack.chunkWindows(docs(s, dir), seqLen = 512)
      .orderBy(col("window_id")),
    Some("""WITH d AS (SELECT doc_id,
                  list_filter(string_split(text, ' '), x -> x <> '') AS w
                FROM documents),
            nz AS (SELECT doc_id, w, len(w) AS n FROM d WHERE len(w) > 0),
            off AS (SELECT doc_id, w,
                      coalesce(sum(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
                    FROM nz),
            toks AS (SELECT doc_id, s + i AS gpos, w[i + 1] AS tok
                     FROM off, LATERAL (SELECT unnest(range(len(w))) AS i) t)
            SELECT CAST(gpos // 512 AS BIGINT) AS window_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc,
                   string_agg(tok, ' ' ORDER BY gpos) AS text
            FROM toks GROUP BY 1 ORDER BY 1"""))

  /** Embedding population covariance
    * ([[graft.ops.Similarity.covarianceMatrix]]) — the statistics
    * pass under PCA whitening/drift monitoring, upper triangle as
    * (i, j, cov) rows micro-quantized at the gate boundary. The
    * oracle replays E[xy] − E[x]E[y] with the same double-cast
    * arithmetic over a LATERAL index cross; a triangle slip, an
    * off-by-one in the nested-lambda indexing, or a float/double cast
    * divergence all hash-mismatch.
    */
  val s56EmbCovariance = Q(
    "s56_embedding_covariance",
    (s, dir) => graft.ops.Similarity.covarianceMatrix(emb(s, dir),
        idCol = "id", vecCol = "vec")
      .select(col("i"), col("j"),
        expr("CAST(round(cov * 1e6) AS BIGINT)").as("cov_micro"))
      .orderBy(col("i"), col("j")),
    Some("""WITH v AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings),
            cells AS (SELECT i, j, sum(e[i+1] * e[j+1]) AS sp
                      FROM v,
                        LATERAL (SELECT unnest(range(64)) AS i) a,
                        LATERAL (SELECT unnest(range(64)) AS j) b
                      WHERE j >= i GROUP BY 1, 2),
            means AS (SELECT i, sum(e[i+1]) AS sx, count(*) AS n
                      FROM v, LATERAL (SELECT unnest(range(64)) AS i) a GROUP BY 1)
            SELECT CAST(c.i AS INT) AS i, CAST(c.j AS INT) AS j,
                   CAST(round((c.sp / m1.n - (m1.sx / m1.n) * (m2.sx / m2.n)) * 1e6)
                     AS BIGINT) AS cov_micro
            FROM cells c JOIN means m1 ON c.i = m1.i JOIN means m2 ON c.j = m2.i
            ORDER BY 1, 2"""))

  /** Character-entropy quality filter
    * ([[graft.ops.TextStats.charEntropy]]): per-document Shannon
    * entropy over characters, micro-quantized, with the keep band
    * decided on the integer micro value. The oracle replays the
    * identical algebraic form (log2(n) − Σ c·log2(c)/n); an
    * exploded-character mismatch, a distinct-count slip, or a
    * float-form divergence all hash-mismatch.
    */
  val t75CharEntropy = Q(
    "t75_char_entropy",
    (s, dir) => graft.ops.TextStats.charEntropy(docs(s, dir), lowEntropy = 3.0)
      .orderBy(col("doc_id")),
    Some("""WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents),
            cc AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
                   FROM ch GROUP BY 1, 2),
            e AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars2,
                    CAST(count(*) AS BIGINT) AS n_distinct,
                    CAST(round((log2(sum(c)) - sum(c * log2(c)) / sum(c)) * 1e6)
                      AS BIGINT) AS entropy_micro
                  FROM cc GROUP BY 1)
            SELECT doc_id, n_chars2, n_distinct, entropy_micro,
                   entropy_micro >= 3000000 AND entropy_micro <= 8000000 AS keep
            FROM e ORDER BY doc_id"""))

  /** Corpus-level line dedup (RefinedWeb/CCNet boilerplate removal),
    * oracle-gated. The synthetic docs carry no newlines, so both
    * sides first derive deterministic 10-token "lines" from the
    * whitespace token stream; [[TextDedup.lineDedup]] then drops
    * every line recurring in ≥ 2 distinct documents and rebuilds the
    * survivors in order. The planted near-duplicate docs guarantee a
    * non-trivial boilerplate set; a hash-keyed frequency slip, an
    * anti-join inversion, or an out-of-order rebuild all
    * hash-mismatch against the DuckDB replay.
    */
  val d59LineDedup = Q(
    "d59_line_dedup",
    (s, dir) => {
      val ws = split(col("text"), " ")
      val asLines = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", transform(
          sequence(lit(0L), ceil(size(ws) / lit(10.0)).cast("long") - 1),
          i => array_join(slice(ws, (i * 10 + 1).cast("int"), lit(10)), " "))).as("text"))
      TextDedup.lineDedup(asLines, minDocs = 2).orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            lines AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
                        array_to_string(w[i*10+1 : i*10+10], ' ') AS line
                      FROM toks, LATERAL (SELECT unnest(range(CAST(ceil(len(w)/10.0) AS BIGINT))) AS i) t),
            bp AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS c
                                     FROM lines GROUP BY line) WHERE c >= 2),
            kept AS (SELECT l.doc_id, l.line_idx, l.line
                     FROM lines l ANTI JOIN bp USING (line)),
            reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(line, chr(10) ORDER BY line_idx) AS clean_text
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                    FROM lines GROUP BY doc_id)
            SELECT t.doc_id, t.n_lines, coalesce(r.n_kept, 0) AS n_kept,
                   coalesce(r.clean_text, '') AS clean_text
            FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id"""))

  /** Deterministic training-shard layout ([[graft.ops.Shards]],
    * 8 shards): shard = md5-bucket of the id, within-shard position =
    * rank by (md5 hex, id) — the write-side permutation a training
    * job replays. The oracle reproduces shard and position exactly;
    * a bucket-family drift, a partition-order leak, or an unstable
    * tiebreak all hash-mismatch.
    */
  val t78ShardPlan = Q(
    "t78_shard_plan",
    (s, dir) => graft.ops.Shards.shardPlan(docs(s, dir), nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id")),
    Some("""SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                     AS BIGINT) % 8 AS INT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                       AS BIGINT) % 8
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
            FROM documents ORDER BY doc_id"""))

  /** Collapsed near-dup clustering
    * ([[graft.ops.TextDedup.collapsedNearDupClusters]]): exact-collapse
    * by md5 BEFORE the MinHash cascade, clusters expanded back through
    * exact-group membership — the production shape for boilerplate-
    * heavy corpora (a B-doc identical clique never materializes its
    * C(B,2) pairs; bench keys `t_dedup200k_skew` vs
    * `t_dedup200k_skew_collapsed` track the ~6× ratio). The gate
    * plants exact duplicates (+100000-id copies of the first 50 docs)
    * and the oracle replays collapse → the d42 minhash family on
    * representatives → recursive-CTE connected components → expansion,
    * so a collapse slip, a family divergence, or a mislabeled
    * expansion all hash-mismatch.
    */
  val d61CollapsedClusters = Q(
    "d61_collapsed_clusters",
    (s, dir) => {
      val base = docs(s, dir).filter(col("doc_id") < 400)
        .select(col("doc_id"), col("text"))
      val dups = base.filter(col("doc_id") < 50)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      TextDedup.collapsedNearDupClusters(base.union(dups), minJaccard = 0.2)
        .orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 400
              UNION ALL
              SELECT doc_id + 100000, text FROM documents WHERE doc_id < 50),
            reps AS (SELECT md5(text) AS th, CAST(min(doc_id) AS BIGINT) AS rep_id
                     FROM corpus GROUP BY md5(text)),
            mem AS (SELECT c.doc_id, r.rep_id
                    FROM corpus c JOIN reps r ON md5(c.text) = r.th),
            rd AS (SELECT c.doc_id, c.text
                   FROM corpus c JOIN reps r ON c.doc_id = r.rep_id),
            d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                  FROM rd),
            sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
                     FROM d WHERE len(ws) >= 3),
            sh AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
            h AS (SELECT doc_id,
                    CAST('0x' || substr(md5(shingle), 1, 14) AS BIGINT)
                      % 2147483647 AS x
                  FROM sh),
            consts AS (SELECT k,
                    1 + CAST('0x' || substr(md5('mha:' || k), 1, 14) AS BIGINT)
                      % 2147483646 AS a,
                    CAST('0x' || substr(md5('mhb:' || k), 1, 14) AS BIGINT)
                      % 2147483647 AS b
                  FROM range(64) r(k)),
            slots AS (SELECT doc_id, k, min((a * x + b) % 2147483647) AS slot
                      FROM h, consts GROUP BY doc_id, k),
            bands AS (SELECT doc_id, k // 4 AS band,
                        string_agg(CAST(slot AS VARCHAR), ',' ORDER BY k) AS bucket
                      FROM slots GROUP BY doc_id, k // 4),
            cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                     FROM bands a JOIN bands b
                       ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
            v AS (SELECT doc_a, doc_b,
                    len(list_intersect(sa.sh, sb.sh)) AS inter,
                    len(sa.sh) AS na, len(sb.sh) AS nb
                  FROM cand JOIN sets sa ON cand.doc_a = sa.doc_id
                            JOIN sets sb ON cand.doc_b = sb.doc_id),
            pairs AS (SELECT doc_a, doc_b FROM v
                      WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2),
            edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach AS (
              SELECT u AS a, v AS b FROM edges
              UNION
              SELECT r.a, e.v FROM reach r JOIN edges e ON r.b = e.u
            ),
            lab AS (SELECT a AS rep_id, least(a, min(b)) AS cluster_id
                    FROM reach GROUP BY a)
            SELECT m.doc_id, m.rep_id,
                   COALESCE(l.cluster_id, m.rep_id) AS cluster_id
            FROM mem m LEFT JOIN lab l ON m.rep_id = l.rep_id
            ORDER BY m.doc_id"""))

  /** Temperature-flattened mixture sampling
    * ([[graft.ops.Mixture]], τ = 0.5, target 500‰): per-source
    * acceptance rates from exact counts with the √n quantized to
    * micro units before the cross-source sum (integer total —
    * immune to double reduce order), membership by the md5
    * milli-bucket. The oracle replays the identical rate formula and
    * bucket; a count slip, a double-association difference, or a
    * bucket mismatch all hash-mismatch.
    */
  val t76TemperatureSample = Q(
    "t76_temperature_sample",
    (s, dir) => {
      import graft.ops.Mixture
      val d = docs(s, dir)
      val rates = Mixture.temperatureRates(d)
      val sampled = Mixture.sampleAtRates(d, rates)
        .groupBy(col("source")).agg(count(lit(1)).as("n_sampled"))
      rates.join(sampled, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("target_total"), col("p_milli"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
        .orderBy(col("source"))
    },
    Some("""WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                       FROM documents GROUP BY source),
            t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                    CAST(sum(CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0)
                      AS BIGINT)) AS BIGINT) AS s_micro FROM c),
            r AS (SELECT source, n_docs,
                    CAST(floor(total * 500 / 1000.0) AS BIGINT) AS target_total,
                    least(1000, CAST(floor(1000.0
                      * CAST(floor(total * 500 / 1000.0) AS BIGINT)
                      * sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0
                      / s_micro / n_docs) AS BIGINT)) AS p_milli
                  FROM c, t),
            smp AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_sampled
                    FROM documents d JOIN r USING (source)
                    WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                            AS BIGINT) % 1000 < p_milli
                    GROUP BY d.source)
            SELECT r.source, r.n_docs, r.target_total, r.p_milli,
                   coalesce(smp.n_sampled, 0) AS n_sampled
            FROM r LEFT JOIN smp ON r.source = smp.source
            ORDER BY r.source"""))

  // five deterministic crawl-variant spellings of page doc_id/5 —
  // the synthetic URL corpus both URL gates share (DuckDB side)
  private val urlSynthSql =
    """CASE WHEN doc_id % 5 = 0 THEN 'HTTPS://Example.COM/articles/'
              || CAST(doc_id // 5 AS VARCHAR) || '?utm_source=feed&id='
              || CAST(doc_id // 5 AS VARCHAR)
            WHEN doc_id % 5 = 1 THEN 'https://www.example.com/articles/'
              || CAST(doc_id // 5 AS VARCHAR) || '?id=' || CAST(doc_id // 5 AS VARCHAR)
            WHEN doc_id % 5 = 2 THEN 'https://example.com:443/articles/'
              || CAST(doc_id // 5 AS VARCHAR) || '#top'
            WHEN doc_id % 5 = 3 THEN 'https://example.com/articles/'
              || CAST(doc_id // 5 AS VARCHAR) || '/'
            ELSE 'https://example.com/articles/' || CAST(doc_id // 5 AS VARCHAR)
              || '?id=' || CAST(doc_id // 5 AS VARCHAR) || '&utm_campaign=x' END"""

  private val urlCanonSql =
    """lower(regexp_extract(url, '^([^:/?#]+)://', 1)) || '://'
       || regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)),
            '^www\.', ''), ':(443|80)$', '')
       || regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            regexp_replace(url, '^[^:/?#]+://[^/?#]*', ''),
            '#.*$', ''), '(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
            '[?&]$', ''), '/$', '')"""

  /** URL canonicalization ([[graft.ops.Urls.canonicalize]]): scheme/
    * host lowercasing, `www.`/default-port strip, fragment drop,
    * tracking-parameter removal, trailing-slash strip — as a pure
    * codegen'd projection, oracle-replayed regexp-for-regexp.
    */
  val t77UrlCanonical = Q(
    "t77_url_canonical",
    (s, dir) => {
      import graft.ops.Urls
      Urls.syntheticUrls(docs(s, dir).filter(col("doc_id") < 50))
        .select(col("doc_id"), col("url"),
          Urls.canonicalize(col("url")).as("canonical_url"))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url
                        FROM documents WHERE doc_id < 50)
             SELECT doc_id, url, $urlCanonSql AS canonical_url
             FROM u ORDER BY doc_id"""))

  /** Canonical-URL dedup ([[graft.ops.Urls.urlDedup]]): the CCNet/
    * RefinedWeb first-pass dedup — group by canonical key, keep the
    * minimum-id document, count the crawl variants. Each synthetic
    * page collapses 5 spellings into exactly 2 canonical keys, so a
    * canonicalization slip changes group counts and hash-mismatches.
    */
  val d60UrlDedup = Q(
    "d60_url_dedup",
    (s, dir) => {
      import graft.ops.Urls
      Urls.urlDedup(Urls.syntheticUrls(docs(s, dir)))
        .orderBy(col("canonical_url"))
    },
    Some(s"""WITH u AS (SELECT doc_id, $urlSynthSql AS url FROM documents),
             c AS (SELECT doc_id, $urlCanonSql AS canonical_url FROM u)
             SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_dups,
                    CAST(min(doc_id) AS BIGINT) AS kept_id
             FROM c GROUP BY canonical_url ORDER BY canonical_url"""))

  /** WARC/WET ingestion ([[graft.sources.Warc]]): the gate builds a
    * real 4-archive mini-crawl — response records (HTTP head + HTML
    * body) and conversion (WET) records, two archives per-record-
    * gzipped, two plain — then runs the distributed file-per-task
    * scan, the HTTP head/body split, and the WET text decode, joining
    * both views per document. The oracle replays payload construction
    * from the documents table (UTF-8 octet lengths + md5), so a
    * framing slip, a member-boundary bug, or a head/body split error
    * all hash-mismatch. Fixture I/O is driver-side; the scan under
    * test is the executor path used at crawl scale.
    */
  val t79WarcIngest = Q(
    "t79_warc_ingest",
    (s, dir) => {
      import graft.sources.Warc
      val rows = docs(s, dir).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val tmp = QTables.gateTmp(s, "t79")
      val archives = (0 until 4).map { k =>
        val recs = rows.filter(_._1 % 4 == k).sortBy(_._1).toSeq
          .flatMap { case (id, text) =>
            val uri = s"http://crawl.test/doc/$id"
            val date = "2026-08-14T00:00:00Z"
            val html = s"<html><body>$text</body></html>".getBytes("UTF-8")
            val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
              .getBytes("US-ASCII") ++ html
            val wet = text.getBytes("UTF-8")
            Seq(
              Warc.WarcRecord("", "response", s"<urn:uuid:resp-$id>", uri, date,
                "application/http; msgtype=response", http.length.toLong, http),
              Warc.WarcRecord("", "conversion", s"<urn:uuid:conv-$id>", uri, date,
                "text/plain", wet.length.toLong, wet))
          }
        val ext = if (k % 2 == 0) "warc.gz" else "warc"
        val path = tmp.resolve(s"crawl-$k.$ext").toString
        Warc.writeArchive(path, recs)
        path
      }
      val recs = Warc.read(s, archives)
      val html = Warc.httpResponses(recs)
        .select(col("target_uri"), col("http_status"),
          length(col("body")).cast("bigint").as("html_len"),
          md5(col("body")).as("html_md5"))
      val wet = Warc.wetTexts(recs)
        .select(col("target_uri"),
          length(encode(col("text"), "UTF-8")).cast("bigint").as("wet_len"),
          md5(encode(col("text"), "UTF-8")).as("wet_md5"))
      html.join(wet, "target_uri")
        .withColumn("doc_id",
          regexp_extract(col("target_uri"), "doc/(\\d+)$", 1).cast("long"))
        .select(col("doc_id"), col("http_status"), col("html_len"),
          col("html_md5"), col("wet_len"), col("wet_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, CAST(200 AS INT) AS http_status,
            CAST(strlen('<html><body>' || text || '</body></html>') AS BIGINT)
              AS html_len,
            md5('<html><body>' || text || '</body></html>') AS html_md5,
            CAST(strlen(text) AS BIGINT) AS wet_len,
            md5(text) AS wet_md5
            FROM documents WHERE doc_id < 200 ORDER BY doc_id"""))

  /** HTML → text extraction ([[graft.ops.Html]]): each doc renders
    * into a full page (title, style + script elements with markup-
    * looking code inside, heading, escaped body text, a comment
    * hiding markup, a footer with named/decimal/hex entities); the
    * single-pass state machine must drop script/style/comments/tags,
    * decode entities, collapse ASCII whitespace, and emit block
    * boundaries as lines. The oracle replays the expected extract in
    * closed form — title and h1 lines, the body text (whitespace-
    * collapse replayed as the RE2 class the kernel mirrors), and the
    * decoded footer — so any state-machine slip hash-mismatches.
    */
  val t80HtmlExtract = Q(
    "t80_html_extract",
    (s, dir) => {
      import s.implicits._
      val pages = docs(s, dir).filter(col("doc_id") < 300)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val esc = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val html = s"<html><head><title>Doc $id</title>" +
            "<style>p > span { color: #333; }</style>" +
            "<script>if (a < b && c > d) { run('<div>'); }</script></head>" +
            s"""<body><h1 class="t">Doc $id</h1><p>$esc</p>""" +
            "<!-- <p>not text</p> --><div>footer &amp; caf&#233;&#x21;</div>" +
            "</body></html>"
          (id, html)
        }.toDF("doc_id", "html")
      graft.ops.Html.extract(s, pages)
        .select(col("doc_id"),
          md5(col("text")).as("extract_md5"),
          length(encode(col("text"), "UTF-8")).cast("bigint").as("extract_bytes"),
          size(split(col("text"), "\n", -1)).as("n_lines"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH x AS (
              SELECT doc_id,
                'Doc ' || doc_id || chr(10) || 'Doc ' || doc_id || chr(10) ||
                trim(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g')) || chr(10) ||
                'footer & café!' AS ext
              FROM documents WHERE doc_id < 300)
            SELECT doc_id, md5(ext) AS extract_md5,
                   CAST(strlen(ext) AS BIGINT) AS extract_bytes,
                   CAST(length(string_split(ext, chr(10))) AS INT) AS n_lines
            FROM x ORDER BY doc_id"""))

  /** Interpolated Kneser–Ney bigram perplexity
    * ([[graft.ops.LangModel.knPerplexity]]): the KenLM-default
    * smoothing production perplexity filters rank on — absolute
    * discount D=0.75 plus continuation-probability backoff — trained
    * on the doc_id<50 slice like t64's add-one twin so the two
    * smoothers are directly comparable on the same corpus. The oracle
    * replays every count table (all derived from the one bigram
    * aggregation), the continuation floor 1/(V+1), and the exact
    * IEEE expression shape; scores round to 6dp per house rules.
    */
  val t81KnPerplexity = Q(
    "t81_kn_perplexity",
    (s, dir) => graft.ops.LangModel.knPerplexity(docs(s, dir), trainMaxId = 50)
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            bg AS (SELECT doc_id,
                     unnest(list_transform(range(len(ws) - 1),
                       i -> struct_pack(a := ws[CAST(i + 1 AS INT)],
                                        b := ws[CAST(i + 2 AS INT)]))) AS p
                   FROM d WHERE len(ws) >= 2),
            g AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
            c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2n
                   FROM g WHERE doc_id < 50 GROUP BY a, b),
            lft AS (SELECT a, CAST(sum(c2n) AS BIGINT) AS c1n,
                           CAST(count(*) AS BIGINT) AS n1a
                    FROM c2 GROUP BY a),
            rgt AS (SELECT b, CAST(count(*) AS BIGINT) AS nb FROM c2 GROUP BY b),
            tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM c2),
            v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                  FROM (SELECT unnest(ws) AS w FROM d WHERE doc_id < 50)),
            sc AS (SELECT g.doc_id, c2.c2n, lft.c1n, lft.n1a,
                     CASE WHEN rgt.nb IS NOT NULL THEN CAST(rgt.nb AS DOUBLE) / tt.t
                          ELSE 1.0 / (v.v + 1) END AS pcb
                   FROM g LEFT JOIN c2 ON g.a = c2.a AND g.b = c2.b
                          LEFT JOIN lft ON g.a = lft.a
                          LEFT JOIN rgt ON g.b = rgt.b
                          CROSS JOIN tt CROSS JOIN v),
            lp AS (SELECT doc_id, c2n, c1n,
                     CASE WHEN c1n IS NOT NULL THEN
                       ln((greatest(CAST(COALESCE(c2n, 0) AS DOUBLE) - 0.75, 0.0)
                           + 0.75 * n1a * pcb) / c1n)
                     ELSE ln(pcb) END AS logp
                   FROM sc)
            SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
                   CAST(sum(CASE WHEN c2n IS NULL THEN 1 ELSE 0 END) AS INT) AS n_unseen,
                   CAST(sum(CASE WHEN c1n IS NULL THEN 1 ELSE 0 END) AS INT) AS n_backoff,
                   round(sum(logp) / count(*), 6) AS avg_logp,
                   round(exp(-sum(logp) / count(*)), 6) AS ppl
            FROM lp GROUP BY doc_id ORDER BY doc_id"""))

  /** robots.txt crawl-compliance filter ([[graft.ops.Robots]], RFC
    * 9309): six URL classes run the full decision surface — directory
    * disallow, deeper allow override, `*`/`$` wildcard disallow,
    * allow-over-shorter-disallow, longer-disallow-over-allow, and the
    * no-match default — against a fixed two-group policy (the agent
    * falls to the `*` group, so the wildcard rules are live). The
    * oracle pins each class's decision and winning rule, so a
    * matcher slip, a precedence inversion, or a group-selection bug
    * flips a class and hash-mismatches.
    */
  val t82RobotsFilter = Q(
    "t82_robots_filter",
    (s, dir) => {
      import graft.ops.Robots
      val robots =
        """User-agent: *
          |Disallow: /private/
          |Allow: /private/public/
          |Disallow: /*.pdf$
          |Allow: /articles/
          |Disallow: /articles/draft
          |
          |User-agent: graftbot
          |Disallow: /
          |""".stripMargin
      val urls = docs(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 6 === 0, concat(lit("/private/x"), col("doc_id")))
            .when(col("doc_id") % 6 === 1, concat(lit("/private/public/y"), col("doc_id")))
            .when(col("doc_id") % 6 === 2, concat(lit("/doc"), col("doc_id"), lit(".pdf")))
            .when(col("doc_id") % 6 === 3, concat(lit("/articles/"), col("doc_id")))
            .when(col("doc_id") % 6 === 4, concat(lit("/articles/draft"), col("doc_id")))
            .otherwise(concat(lit("/other/"), col("doc_id")))).as("path"))
      Robots.allowFilter(s, urls, robots, "otherbot")
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
            CASE doc_id % 6
              WHEN 0 THEN '/private/x' || CAST(doc_id AS VARCHAR)
              WHEN 1 THEN '/private/public/y' || CAST(doc_id AS VARCHAR)
              WHEN 2 THEN '/doc' || CAST(doc_id AS VARCHAR) || '.pdf'
              WHEN 3 THEN '/articles/' || CAST(doc_id AS VARCHAR)
              WHEN 4 THEN '/articles/draft' || CAST(doc_id AS VARCHAR)
              ELSE '/other/' || CAST(doc_id AS VARCHAR) END AS path,
            CASE doc_id % 6
              WHEN 1 THEN true WHEN 3 THEN true WHEN 5 THEN true
              ELSE false END AS allowed,
            CASE doc_id % 6
              WHEN 0 THEN '/private/'
              WHEN 1 THEN '/private/public/'
              WHEN 2 THEN '/*.pdf$'
              WHEN 3 THEN '/articles/'
              WHEN 4 THEN '/articles/draft'
              ELSE '' END AS rule
            FROM documents ORDER BY doc_id"""))

  /** Charset sniff + transcode ([[graft.ops.Charsets]]): six payload
    * classes run the whole WHATWG-core detection ladder — the three
    * BOMs (consumed, never decoded into text), a `<meta charset>`
    * Latin-1 page, a `charset=`-in-content-type Windows-1252 page
    * with curly quotes (bytes 0x93/0x94 — the cp1252-vs-Latin-1
    * distinguisher), and undeclared valid UTF-8. The oracle rebuilds
    * each decoded text and pins the canonical charset name, so a BOM
    * slip, a registry-alias miss, or a validation bug all
    * hash-mismatch.
    */
  val t83CharsetSniff = Q(
    "t83_charset_sniff",
    (s, dir) => {
      import s.implicits._
      import graft.ops.Charsets
      val media = docs(s, dir).select(col("doc_id")).as[Long].map { id =>
        val u = s"Grade $id αβγ café"
        val payload: Array[Byte] = (id % 6) match {
          case 0 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            u.getBytes("UTF-8")
          case 1 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++ u.getBytes("UTF-16LE")
          case 2 => Array[Byte](0xFE.toByte, 0xFF.toByte) ++ u.getBytes("UTF-16BE")
          case 3 => (s"""<meta charset="iso-8859-1">Grade $id caf""" + "é ±")
            .getBytes("ISO-8859-1")
          case 4 => (s"""<meta content="text/html; charset=windows-1252">Grade $id """ +
            "“café”").getBytes("windows-1252")
          case _ => u.getBytes("UTF-8")
        }
        (id, payload)
      }.toDF("doc_id", "media")
      Charsets.transcode(s, media)
        .select(col("doc_id"), col("charset"), md5(col("text")).as("text_md5"),
          length(col("text")).cast("int").as("n_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH x AS (SELECT doc_id,
              CASE doc_id % 6
                WHEN 3 THEN '<meta charset="iso-8859-1">Grade '
                  || CAST(doc_id AS VARCHAR) || ' café ±'
                WHEN 4 THEN '<meta content="text/html; charset=windows-1252">Grade '
                  || CAST(doc_id AS VARCHAR) || ' “café”'
                ELSE 'Grade ' || CAST(doc_id AS VARCHAR) || ' αβγ café' END AS text,
              CASE doc_id % 6
                WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'UTF-16LE' WHEN 2 THEN 'UTF-16BE'
                WHEN 3 THEN 'ISO-8859-1' WHEN 4 THEN 'windows-1252'
                ELSE 'UTF-8' END AS charset
              FROM documents)
            SELECT doc_id, charset, md5(text) AS text_md5,
                   CAST(length(text) AS INT) AS n_chars
            FROM x ORDER BY doc_id"""))

  /** Span-corruption sample generation ([[graft.ops.SpanCorrupt]]):
    * the T5 pretraining objective as a pure Column program — md5-
    * keyed deterministic masking (reproducible on any cluster or
    * partitioning), consecutive masked tokens merged into numbered
    * sentinels, target listing each sentinel's replaced tokens. The
    * oracle replays every mask decision, the span numbering window,
    * and both order-preserving reassemblies, so an off-by-one in
    * position keys, a span-merge slip, or a reassembly ordering bug
    * all hash-mismatch.
    */
  val t84SpanCorrupt = Q(
    "t84_span_corrupt",
    (s, dir) => graft.ops.SpanCorrupt.corrupt(
        docs(s, dir).filter(col("doc_id") < 300))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
                 FROM documents WHERE doc_id < 300),
            toks AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM (
                SELECT doc_id, unnest(list_transform(range(len(ws)), i ->
                  struct_pack(pos := CAST(i AS INT),
                              tok := ws[CAST(i + 1 AS INT)]))) AS u
                FROM d) x),
            m AS (SELECT doc_id, pos, tok,
                    substr(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(pos AS VARCHAR)), 1, 2) < '26' AS masked
                  FROM toks),
            st AS (SELECT doc_id, pos, tok, masked,
                     masked AND NOT COALESCE(lag(masked) OVER
                       (PARTITION BY doc_id ORDER BY pos), false) AS is_start
                   FROM m),
            sp AS (SELECT doc_id, pos, tok, masked, is_start,
                     sum(CASE WHEN is_start THEN 1 ELSE 0 END) OVER
                       (PARTITION BY doc_id ORDER BY pos) AS span_id
                   FROM st),
            p AS (SELECT doc_id, pos, masked, span_id,
                    CASE WHEN NOT masked THEN tok
                         WHEN is_start THEN '<extra_id_'
                           || CAST(span_id - 1 AS VARCHAR) || '>'
                         ELSE NULL END AS in_piece,
                    CASE WHEN masked AND is_start THEN '<extra_id_'
                           || CAST(span_id - 1 AS VARCHAR) || '> ' || tok
                         WHEN masked THEN tok ELSE NULL END AS tgt_piece
                  FROM sp)
            SELECT doc_id,
                   COALESCE(string_agg(in_piece, ' ' ORDER BY pos), '') AS masked_text,
                   COALESCE(string_agg(tgt_piece, ' ' ORDER BY pos), '') AS target_text,
                   CAST(count(*) AS INT) AS n_tokens,
                   CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS INT) AS n_masked,
                   CAST(max(span_id) AS INT) AS n_spans
            FROM p GROUP BY doc_id ORDER BY doc_id"""))

  /** WebDataset tar-shard export ([[graft.ops.Shards.writeTarShards]]):
    * the t78 layout materialized in the format multimodal training
    * loaders actually stream — one `shard-NNNNN.tar` per shard,
    * member `<pos>.<id>.txt` per document, deterministic ustar
    * headers (zero uid/gid/mtime) so identical input yields
    * byte-identical shards. The gate writes distributed, reads every
    * member back through the strict tar walker (one task per shard
    * file), and re-derives (shard, pos) from member names; the
    * oracle replays the shard hash, the within-shard order, and each
    * member's byte length + md5 from the documents table.
    */
  val t85WebdatasetShards = Q(
    "t85_webdataset_shards",
    (s, dir) => {
      import s.implicits._
      import graft.ops.Shards
      val tmp = QTables.gateTmp(s, "t85").toString
      Shards.writeTarShards(docs(s, dir), tmp, nShards = 8)
      val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
      val p = new org.apache.hadoop.fs.Path(tmp)
      val files = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq.map(_.getPath.toString)
        .filter(_.endsWith(".tar")).sorted
      s.createDataset(files).repartition(files.length)
        .flatMap { f =>
          val shard = f.split("shard-")(1).take(5).toInt
          Shards.readTarShard(f, hconf).map { case (name, bytes) =>
            val parts = name.split("\\.")
            (parts(1).toLong, shard, parts(0).toLong, bytes)
          }
        }.toDF("doc_id", "shard", "pos", "content")
        .select(col("doc_id"), col("shard"), col("pos"),
          length(col("content")).cast("bigint").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                     AS BIGINT) % 8 AS INT) AS shard,
                   CAST(row_number() OVER (
                     PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                       AS BIGINT) % 8
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos,
                   CAST(strlen(text) AS BIGINT) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents ORDER BY doc_id"""))

  /** Multimodal WebDataset samples
    * ([[graft.ops.Shards.writeTarSampleShards]]): each document ships
    * as TWO adjacent tar members sharing the `<pos>.<id>` key — a
    * `.txt` caption and a `.ppm` image — the grouping convention
    * multimodal loaders reassemble samples from. The gate writes
    * paired shards, reads every member back, and verifies key
    * adjacency (both members under one pos), caption md5, image byte
    * length, and binary image round-trip fidelity (read-back md5
    * equals the source blob's — computed Spark-side since the oracle
    * cannot build raw binary, then pinned as a boolean the oracle
    * asserts). Placement replays the t78 hash layout.
    */
  val t86WebdatasetMultimodal = Q(
    "t86_webdataset_multimodal",
    (s, dir) => {
      import s.implicits._
      import graft.ops.{Multimodal, Shards}
      val d = docs(s, dir).filter(col("doc_id") < 300)
      val media = Multimodal.syntheticPpm(d)
      val paired = d.select(col("doc_id"), col("text")).join(media, "doc_id")
      val tmp = QTables.gateTmp(s, "t86").toString
      Shards.writeTarSampleShards(paired, tmp,
        Seq("txt" -> "text", "ppm" -> "media"), nShards = 4)
      val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
      val p = new org.apache.hadoop.fs.Path(tmp)
      val files = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listStatus(p).toSeq.map(_.getPath.toString)
        .filter(_.endsWith(".tar")).sorted
      val members = s.createDataset(files).repartition(files.length)
        .flatMap { f =>
          Shards.readTarShard(f, hconf).map { case (name, bytes) =>
            val parts = name.split("\\.")
            (parts(1).toLong, parts(0).toLong, parts(2), bytes)
          }
        }.toDF("doc_id", "pos", "ext", "content")
      val txt = members.filter(col("ext") === "txt")
        .select(col("doc_id"), col("pos"), md5(col("content")).as("txt_md5"))
      val img = members.filter(col("ext") === "ppm")
        .select(col("doc_id"), col("pos").as("img_pos"),
          length(col("content")).cast("bigint").as("img_bytes"),
          md5(col("content")).as("img_md5_rb"))
      val src = media.select(col("doc_id"), md5(col("media")).as("img_md5_src"))
      txt.join(img, "doc_id").join(src, "doc_id")
        .select(col("doc_id"), col("pos"),
          (col("pos") === col("img_pos")).as("same_key"),
          col("txt_md5"), col("img_bytes"),
          (col("img_md5_rb") === col("img_md5_src")).as("img_roundtrip"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
                   CAST(row_number() OVER (
                     PARTITION BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                       AS BIGINT) % 4
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos,
                   true AS same_key,
                   md5(text) AS txt_md5,
                   CAST(83 AS BIGINT) AS img_bytes,
                   true AS img_roundtrip
            FROM documents WHERE doc_id < 300 ORDER BY doc_id"""))

  /** Asymmetric containment near-dup join
    * ([[graft.ops.TextDedup.containmentPairs]]): pairs where the
    * smaller shingle set is ≥ 75% contained in the larger — the
    * quote/wrapper duplication Jaccard misses (a doc quoted inside a
    * much longer one). τ = 0.75 is the operator's intended regime
    * (the d58 lesson): the prefix filter emits |A|−⌈τ|A|⌉+1 rarest
    * shingles per doc, so high τ IS the pruning — at τ→0 the prefix
    * degenerates to the whole set and the join reverts to d41's full
    * co-occurrence shape. The Spark side runs the prefix-filter join
    * (exact recall by pigeonhole); the oracle replays the SEMANTICS —
    * exact containment over every co-occurring pair — so a
    * prefix-filter recall bug (not just a verify bug) hash-mismatches.
    */
  val d62ContainmentPairs = Q(
    "d62_containment_neardup",
    (s, dir) => graft.ops.TextDedup.containmentPairs(docs(s, dir),
        minContainment = 0.75)
      .orderBy(col("doc_small"), col("doc_big")),
    Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            sets AS (SELECT doc_id, list_distinct(list_transform(range(len(ws) - 2),
                       i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
                     FROM d WHERE len(ws) >= 3),
            sh AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
            sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            it AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
            p AS (SELECT
                    CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND da < db)
                         THEN da ELSE db END AS doc_small,
                    CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND da < db)
                         THEN db ELSE da END AS doc_big,
                    CAST(inter AS BIGINT) AS inter,
                    CAST(least(sa.n, sb.n) AS BIGINT) AS size_small,
                    CAST(greatest(sa.n, sb.n) AS BIGINT) AS size_big
                  FROM it JOIN sz sa ON it.da = sa.doc_id
                          JOIN sz sb ON it.db = sb.doc_id)
            SELECT doc_small, doc_big, inter, size_small, size_big,
                   round(CAST(inter AS DOUBLE) / size_small, 6) AS containment
            FROM p WHERE inter * 1000000 >= 750000 * size_small
            ORDER BY doc_small, doc_big"""))

  /** CCNet-style perplexity bucket cut
    * ([[graft.ops.LangModel.perplexityBuckets]]): add-one bigram
    * perplexities (t64's exact scores) split into head/middle/tail
    * thirds by the EXACT discrete tertiles of the 6dp-quantized
    * perplexity — the two-phase-percentile threshold job, never a
    * global sort — keeping head+middle. The oracle replays the LM,
    * the micro-quantization, both integer-ceil tertile ranks, and the
    * tie-into-lower-bucket rule, so a threshold off-by-one, a rank
    * rounding slip, or a boundary-tie inversion all hash-mismatch.
    */
  val t87PplBuckets = Q(
    "t87_ppl_bucket_cut",
    (s, dir) => graft.ops.LangModel.perplexityBuckets(docs(s, dir), trainMaxId = 50)
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            bg AS (SELECT doc_id,
                     unnest(list_transform(range(len(ws) - 1),
                       i -> struct_pack(a := ws[CAST(i + 1 AS INT)],
                                        b := ws[CAST(i + 2 AS INT)]))) AS p
                   FROM d WHERE len(ws) >= 2),
            g AS (SELECT doc_id, p.a AS a, p.b AS b FROM bg),
            c2 AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c2n
                   FROM g WHERE doc_id < 50 GROUP BY a, b),
            c1 AS (SELECT a, CAST(count(*) AS BIGINT) AS c1n
                   FROM g WHERE doc_id < 50 GROUP BY a),
            v AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
                  FROM (SELECT unnest(ws) AS w FROM d WHERE doc_id < 50)),
            sc AS (SELECT g.doc_id,
                          ln(CAST(COALESCE(c2.c2n, 0) + 1 AS DOUBLE)
                             / (COALESCE(c1.c1n, 0) + v.v)) AS logp
                   FROM g LEFT JOIN c2 ON g.a = c2.a AND g.b = c2.b
                          LEFT JOIN c1 ON g.a = c1.a
                          CROSS JOIN v),
            o AS (SELECT doc_id, round(exp(-sum(logp) / count(*)), 6) AS ppl
                  FROM sc GROUP BY doc_id),
            om AS (SELECT doc_id, ppl, CAST(round(ppl * 1e6) AS BIGINT) AS pm FROM o),
            cm AS (SELECT pm, count(*) AS c FROM om GROUP BY pm),
            cc AS (SELECT pm, sum(c) OVER (ORDER BY pm) AS cum,
                          sum(c) OVER () AS cnt FROM cm),
            t1 AS (SELECT min(pm) AS v FROM cc
                   WHERE cum >= (333333 * cnt + 999999) // 1000000),
            t2 AS (SELECT min(pm) AS v FROM cc
                   WHERE cum >= (666667 * cnt + 999999) // 1000000)
            SELECT om.doc_id, om.ppl,
                   CASE WHEN om.pm <= t1.v THEN 'head'
                        WHEN om.pm <= t2.v THEN 'middle'
                        ELSE 'tail' END AS bucket,
                   om.pm <= t2.v AS keep
            FROM om CROSS JOIN t1 CROSS JOIN t2 ORDER BY om.doc_id"""))

  /** Host-level quality stats ([[graft.ops.Urls.hostStats]]): the
    * domain-filter aggregation. Seven synthetic hosts spelled three
    * crawl-variant ways (uppercase+www, plain http, https:443) so the
    * canonical-host extraction is live, then one host-key aggregate of
    * page counts, unique-text counts (md5 identity — the planted
    * exact dups depress uniqueness on their hosts), character mass,
    * and dup ratio. The oracle replays host derivation in closed form
    * plus the same aggregates, so a canonicalization slip, a distinct
    * under/over-count, or a ratio rounding bug all hash-mismatch.
    */
  val t88HostStats = Q(
    "t88_host_quality_stats",
    (s, dir) => {
      val url = concat(
        when(col("doc_id") % 3 === 0, lit("https://WWW.h"))
          .when(col("doc_id") % 3 === 1, lit("http://h"))
          .otherwise(lit("https://h")),
        (col("doc_id") % 7).cast("string"), lit(".Example.com"),
        when(col("doc_id") % 3 === 2, lit(":443")).otherwise(lit("")),
        lit("/p/"), col("doc_id").cast("string"))
      graft.ops.Urls.hostStats(docs(s, dir).withColumn("url", url))
        .orderBy(col("host"))
    },
    Some("""WITH h AS (SELECT doc_id, text,
                   'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
                 FROM documents)
            SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6)
                     AS dup_ratio
            FROM h GROUP BY host ORDER BY host"""))

  /** SQ8 scalar-quantized ANN ([[graft.ops.Similarity.sqTopK]]):
    * L2-normalize, quantize symmetrically to round(127·x̂),
    * exact-integer quantized-dot candidate generation
    * (bit-reproducible shortlists — no float ranking until the
    * rerank), float cosine rerank of the 4k-oversampled shortlist
    * only. The oracle replays the normalization, the quantization
    * rounding, the integer dot, the shortlist tiebreak, and the final
    * rerank, so a quantizer slip, an integer overflow, or a shortlist
    * boundary tie bug all hash-mismatch.
    */
  val s57SqAnn = Q(
    "s57_ann_sq8",
    (s, dir) => {
      val e = emb(s, dir)
      graft.ops.Similarity.sqTopK(e.filter(col("id") < 10), e, k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                       FROM embeddings),
            nv AS (SELECT vec_id, e,
                     sqrt(list_sum(list_transform(range(64), i -> e[i+1] * e[i+1]))) AS nrm
                   FROM v),
            q AS (SELECT vec_id, i AS pos,
                    CASE WHEN nrm = 0 THEN 0
                         ELSE CAST(round(127.0 * e[CAST(i + 1 AS INT)] / nrm) AS INT)
                    END AS qv
                  FROM nv CROSS JOIN range(64) t(i)),
            isc AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                      CAST(sum(a.qv * b.qv) AS BIGINT) AS iscore
                    FROM q a JOIN q b ON a.pos = b.pos
                      AND a.vec_id < 10 AND a.vec_id <> b.vec_id
                    GROUP BY 1, 2),
            sl AS (SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY iscore DESC, neighbor_id ASC) AS r
                   FROM isc),
            x AS (SELECT s.query_id, s.neighbor_id,
                    round(list_sum(list_transform(range(64), i -> q.e[i+1] * c.e[i+1]))
                      / (sqrt(list_sum(list_transform(range(64), i -> q.e[i+1] * q.e[i+1])))
                       * sqrt(list_sum(list_transform(range(64), i -> c.e[i+1] * c.e[i+1])))),
                      6) AS cos
                  FROM sl s JOIN v q ON q.vec_id = s.query_id
                       JOIN v c ON c.vec_id = s.neighbor_id
                  WHERE s.r <= 20),
            r AS (SELECT query_id, neighbor_id, cos,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id ASC) AS rank
                  FROM x)
            SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
            FROM r WHERE rank <= 5
            ORDER BY query_id, rank"""))

  /** The t89 WordPiece vocabulary — single source of truth for the
    * Spark side and the generated oracle. Chosen so the corpus
    * exercises every semantic branch: whole-word pieces (`batch`),
    * multi-piece splits (`tab`+`##le`, `cust`+`##omer`), greedy
    * longest-first preference (`scan` over `s`), single-char ladders
    * (`h ##a ##s ##h`), and exactly one UNK word (`big` — `b ##i`
    * then no `##g`, so the WHOLE word collapses to `[UNK]`).
    */
  private val wpVocab: Seq[String] = Seq(
    "a", "b", "col", "cust", "d", "data", "f", "g", "h", "batch", "fast",
    "join", "key", "line", "merge", "order", "part", "query", "row", "s",
    "scan", "sort", "spark", "stream", "tab", "the", "val", "vec", "win",
    "##a", "##all", "##dow", "##er", "##gg", "##h", "##i", "##l", "##le",
    "##m", "##o", "##omer", "##ow", "##r", "##s", "##t", "##tor", "##ue",
    "##umn", "##up")

  /** Generated oracle: the greedy longest-match loop unrolled into 8
    * chained CTE steps (corpus max word length, one consumed piece per
    * step), each picking the longest matching piece via a
    * length-descending CASE generated from [[wpVocab]]. Replays the
    * ALGORITHM, not a word→tokens lookup table, so a greedy slip, a
    * `##` prefix bug, or a partial-word-UNK bug all hash-mismatch.
    */
  private def wpOracleSql: String = {
    val first = wpVocab.filterNot(_.startsWith("##"))
    val cont = wpVocab.filter(_.startsWith("##")).map(_.stripPrefix("##"))
    def matchSql(ps: Seq[String]) = ps.sortBy(p => (-p.length, p))
      .map(p => s"WHEN substr(rem, 1, ${p.length}) = '$p' THEN '$p'").mkString(" ")
    val steps = (1 to 8).map { n =>
      s"""s$n AS (
         |  SELECT w,
         |    CASE WHEN rem = '' OR m IS NULL THEN '' ELSE substr(rem, len(m) + 1) END AS rem,
         |    CASE WHEN rem = '' THEN toks
         |         WHEN m IS NULL THEN ['[UNK]']
         |         WHEN fst THEN list_append(toks, m)
         |         ELSE list_append(toks, '##' || m) END AS toks,
         |    CASE WHEN rem <> '' AND m IS NULL THEN true ELSE unk END AS unk,
         |    false AS fst
         |  FROM (SELECT w, rem, toks, unk, fst,
         |          CASE WHEN rem = '' THEN NULL
         |               WHEN fst THEN CASE ${matchSql(first)} ELSE NULL END
         |               ELSE CASE ${matchSql(cont)} ELSE NULL END END AS m
         |        FROM s${n - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |           FROM documents),
       |occ AS (SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w FROM d),
       |dw AS (SELECT DISTINCT w FROM occ),
       |s0 AS (SELECT w, w AS rem, CAST([] AS VARCHAR[]) AS toks,
       |              false AS unk, true AS fst FROM dw),
       |$steps,
       |j AS (SELECT occ.doc_id, occ.pos, s8.toks, s8.unk
       |      FROM occ JOIN s8 ON occ.w = s8.w)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_words,
       |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS INT) AS n_unk,
       |       string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos) AS token_str
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** WordPiece greedy subword encode ([[graft.ops.WordPiece]]): the
    * BERT-family runtime tokenizer — greedy longest-match against a
    * shipped vocabulary, `##` continuations, whole-word `[UNK]` —
    * alongside t63's BPE (merge-order semantics). Distinct words
    * encode once and join back to occurrences; the full in-order
    * token string is the equality surface.
    */
  val t89Wordpiece = Q(
    "t89_wordpiece_encode",
    (s, dir) => graft.ops.WordPiece.tokenStats(docs(s, dir), wpVocab)
      .orderBy(col("doc_id")),
    Some(wpOracleSql))

  /** The t90 unigram-LM vocabulary: (piece, integer micro-nat cost).
    * Single letters (no `j` — `join` is the planted whole-word UNK)
    * plus multi-char pieces priced so Viterbi picks real
    * segmentations, including two exact-cost TIES that exercise the
    * deterministic tie-break: `data` = da+ta ≡ dat+a (1400, lex picks
    * da+ta) and `window` = win+dow ≡ wind+ow (1500, lex picks
    * win+dow).
    */
  private val ulVocab: Seq[(String, Long)] = {
    val singles = "abcdefghiklmnopqrstuvwy".map(ch =>
      ch.toString -> (if (ch == 'a') 500L else 1200L))
    val multi = Seq(
      "da" -> 700L, "ta" -> 700L, "dat" -> 900L, "tab" -> 900L, "le" -> 600L,
      "able" -> 1000L, "batch" -> 800L, "big" -> 800L, "agg" -> 800L,
      "dup" -> 800L, "fast" -> 800L, "the" -> 600L, "key" -> 800L,
      "line" -> 800L, "row" -> 700L, "scan" -> 800L, "sort" -> 800L,
      "part" -> 800L, "hash" -> 900L, "group" -> 900L, "merge" -> 900L,
      "order" -> 900L, "spark" -> 900L, "slow" -> 900L, "small" -> 900L,
      "stream" -> 900L, "filter" -> 1000L, "query" -> 800L, "qu" -> 700L,
      "cust" -> 900L, "omer" -> 1000L, "col" -> 800L, "umn" -> 900L,
      "val" -> 800L, "ue" -> 600L, "vec" -> 800L, "tor" -> 700L,
      "win" -> 800L, "dow" -> 700L, "wind" -> 900L, "ow" -> 600L)
    singles ++ multi
  }

  /** Generated oracle: the Viterbi DP unrolled position by position
    * (8 = corpus max word length). Each position keeps ONE state —
    * the minimum (cost, n_tokens, token_list) struct over all pieces
    * ending there — exactly the operator's per-prefix tie-break, so
    * the whole lattice, both planted ties, and the UNK rule replay
    * in exact integer/string arithmetic.
    */
  private def ulOracleSql: String = {
    val steps = (1 to 8).map { j =>
      val cands = ulVocab.filter(_._1.length <= j).map { case (p, c) =>
        val l = p.length
        s"""CASE WHEN c${j - l} IS NOT NULL AND substr(w, ${j - l + 1}, $l) = '$p'
           |     THEN struct_pack(c := c${j - l} + $c,
           |                      n := CAST(len(t${j - l}) + 1 AS BIGINT),
           |                      t := list_append(t${j - l}, '$p'))
           |     ELSE NULL END""".stripMargin
      }.mkString(",\n")
      s"""u$j AS (SELECT * EXCLUDE (b$j), b$j.c AS c$j, b$j.t AS t$j FROM (
         |  SELECT *, (list_sort(list_filter([
         |$cands
         |  ], x -> x IS NOT NULL)))[1] AS b$j
         |  FROM u${j - 1}))""".stripMargin
    }.mkString(",\n")
    val byLenC = (1 to 8).map(j => s"WHEN $j THEN c$j").mkString(" ")
    val byLenT = (1 to 8).map(j => s"WHEN $j THEN t$j").mkString(" ")
    s"""WITH d AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
       |           FROM documents),
       |occ AS (SELECT doc_id, unnest(range(len(ws))) AS pos, unnest(ws) AS w FROM d),
       |dw AS (SELECT DISTINCT w FROM occ),
       |u0 AS (SELECT w, CAST(0 AS BIGINT) AS c0, CAST([] AS VARCHAR[]) AS t0 FROM dw),
       |$steps,
       |res AS (SELECT w,
       |          CASE len(w) $byLenC END AS bc,
       |          CASE len(w) $byLenT END AS bt
       |        FROM u8),
       |fin AS (SELECT w,
       |          CASE WHEN bc IS NULL THEN ['[UNK]'] ELSE bt END AS toks,
       |          CASE WHEN bc IS NULL THEN 2000000 ELSE bc END AS cost,
       |          bc IS NULL AS unk
       |        FROM res),
       |j AS (SELECT occ.doc_id, occ.pos, fin.toks, fin.cost, fin.unk
       |      FROM occ JOIN fin ON occ.w = fin.w)
       |SELECT doc_id, CAST(count(*) AS INT) AS n_words,
       |       CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN unk THEN 1 ELSE 0 END) AS INT) AS n_unk,
       |       CAST(sum(cost) AS BIGINT) AS total_cost,
       |       string_agg(array_to_string(toks, ' '), ' ' ORDER BY pos) AS token_str
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Unigram-LM Viterbi subword encode ([[graft.ops.UnigramLm]]):
    * SentencePiece-default segmentation — minimum total piece cost in
    * exact integer micro-nats, per-prefix deterministic tie-break,
    * whole-word [UNK] — completing the tokenizer triple next to t63
    * (BPE merge-order) and t89 (WordPiece greedy).
    */
  val t90UnigramLm = Q(
    "t90_unigram_encode",
    (s, dir) => graft.ops.UnigramLm.tokenStats(docs(s, dir), ulVocab)
      .orderBy(col("doc_id")),
    Some(ulOracleSql))

  /** Corpus data-card report ([[graft.ops.CorpusReport]]): one row
    * per (source, lang) with counts, distinct-text counts, char/word
    * mass, the EXACT discrete median doc length (two-phase percentile
    * — never a per-group sort), and dup ratio. The oracle replays
    * every aggregate plus the integer-ceil median rank, so a distinct
    * undercount, a rank rounding slip, or a group-key aliasing bug
    * all hash-mismatch.
    */
  val t91CorpusReport = Q(
    "t91_corpus_report",
    (s, dir) => graft.ops.CorpusReport.bySourceLang(docs(s, dir))
      .orderBy(col("source"), col("lang")),
    Some("""WITH b AS (SELECT source, lang, text,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS BIGINT) AS nw
                 FROM documents),
            a AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique_texts,
                    CAST(sum(length(text)) AS BIGINT) AS total_chars,
                    CAST(sum(nw) AS BIGINT) AS total_words,
                    round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*), 6)
                      AS dup_ratio
                  FROM b GROUP BY source, lang),
            c AS (SELECT source, lang, nw, count(*) AS cfreq
                  FROM b GROUP BY source, lang, nw),
            cc AS (SELECT source, lang, nw,
                     sum(cfreq) OVER (PARTITION BY source, lang ORDER BY nw) AS cum,
                     sum(cfreq) OVER (PARTITION BY source, lang) AS cnt
                   FROM c),
            m AS (SELECT source, lang, CAST(min(nw) AS BIGINT) AS median_words
                  FROM cc WHERE cum >= (500000 * cnt + 999999) // 1000000
                  GROUP BY source, lang)
            SELECT a.source, a.lang, n_docs, n_unique_texts, total_chars,
                   total_words, median_words, dup_ratio
            FROM a JOIN m ON a.source = m.source AND a.lang = m.lang
            ORDER BY a.source, a.lang"""))

  /** Fill-in-the-middle transform ([[graft.ops.Fim]]): half the
    * corpus (md5 rate gate) splits at two md5-derived word
    * boundaries and reassembles under PSM or SPM sentinel order
    * (alternating by hash); the rest passes through. The oracle
    * replays the gate, both split points, the mode choice, and both
    * reassemblies in closed form, so a boundary off-by-one, an
    * empty-segment join bug, or a sentinel-order slip all
    * hash-mismatch.
    */
  val t92Fim = Q(
    "t92_fim_transform",
    (s, dir) => graft.ops.Fim.transform(docs(s, dir))
      .orderBy(col("doc_id")),
    Some("""WITH d AS (SELECT doc_id, text,
                   list_filter(string_split(text, ' '), x -> x <> '') AS ws
                 FROM documents),
            b AS (SELECT doc_id, text, ws, CAST(len(ws) AS INT) AS n,
                    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim0'), 1, 14)
                      AS BIGINT) % 1000 AS gate,
                    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim1'), 1, 14)
                      AS BIGINT) AS h1,
                    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim2'), 1, 14)
                      AS BIGINT) AS h2,
                    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':fim3'), 1, 14)
                      AS BIGINT) AS h3
                  FROM d),
            sp AS (SELECT *, (n >= 3 AND gate < 500) AS fim,
                     CAST(h1 % (n - 1) + 1 AS INT) AS a
                   FROM b),
            sp2 AS (SELECT *, CAST(a + h2 % (n - a + 1) AS INT) AS bb FROM sp),
            m AS (SELECT doc_id, n, fim, a, bb,
                    CASE WHEN NOT fim THEN 'none'
                         WHEN h3 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
                    COALESCE(array_to_string(ws[1:a], ' '), '') AS pre,
                    COALESCE(array_to_string(ws[a+1:bb], ' '), '') AS mid,
                    COALESCE(array_to_string(ws[bb+1:n], ' '), '') AS suf,
                    text
                  FROM sp2)
            SELECT doc_id, mode, n AS n_words,
                   CASE WHEN fim THEN a ELSE -1 END AS split_a,
                   CASE WHEN fim THEN bb ELSE -1 END AS split_b,
                   CASE WHEN mode = 'psm'
                          THEN '<PRE> ' || pre || ' <SUF> ' || suf || ' <MID> ' || mid
                        WHEN mode = 'spm'
                          THEN '<SUF> ' || suf || ' <PRE> ' || pre || ' <MID> ' || mid
                        ELSE text END AS fim_text
            FROM m ORDER BY doc_id"""))

  /** Chat-template SFT rendering ([[graft.ops.ChatTemplate]]): each
    * doc becomes a 5-turn conversation (system, user, assistant,
    * user, assistant) flattened into one ChatML-shaped training
    * string with loss-mask character spans over the two assistant
    * contents. The oracle reconstructs the ENTIRE rendered string and
    * every mask offset in closed form from the document length, so a
    * sentinel slip, a turn-order bug, or a one-character mask
    * off-by-one all hash-mismatch.
    */
  val t93ChatTemplate = Q(
    "t93_chat_template",
    (s, dir) => {
      val turns = docs(s, dir).select(col("doc_id").as("conv_id"), explode(array(
        struct(lit(0).as("turn"), lit("system").as("role"),
          lit("You are helpful.").as("content")),
        struct(lit(1).as("turn"), lit("user").as("role"),
          col("text").as("content")),
        struct(lit(2).as("turn"), lit("assistant").as("role"),
          concat(lit("Echo: "), col("text")).as("content")),
        struct(lit(3).as("turn"), lit("user").as("role"),
          lit("More.").as("content")),
        struct(lit(4).as("turn"), lit("assistant").as("role"),
          concat(lit("Also: "), col("doc_id").cast("string")).as("content"))
      )).as("t"))
        .select(col("conv_id"), col("t.turn").as("turn"),
          col("t.role").as("role"), col("t.content").as("content"))
      graft.ops.ChatTemplate.render(turns)
        .select(col("conv_id"), col("n_turns"), col("n_assistant_turns"),
          col("text"),
          array_join(col("mask_starts").cast("array<string>"), ",").as("mask_starts_csv"),
          array_join(col("mask_ends").cast("array<string>"), ",").as("mask_ends_csv"),
          col("mask_chars"))
        .orderBy(col("conv_id"))
    },
    Some("""WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS l,
                   CAST(length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS dl
                 FROM documents)
            SELECT doc_id AS conv_id, CAST(5 AS INT) AS n_turns,
                   CAST(2 AS INT) AS n_assistant_turns,
                   '<|system|>' || chr(10) || 'You are helpful.<|end|>' || chr(10) ||
                   '<|user|>' || chr(10) || text || '<|end|>' || chr(10) ||
                   '<|assistant|>' || chr(10) || 'Echo: ' || text || '<|end|>' || chr(10) ||
                   '<|user|>' || chr(10) || 'More.<|end|>' || chr(10) ||
                   '<|assistant|>' || chr(10) || 'Also: ' || CAST(doc_id AS VARCHAR)
                     || '<|end|>' || chr(10) AS text,
                   CAST(66 + l AS VARCHAR) || ',' || CAST(116 + 2*l AS VARCHAR)
                     AS mask_starts_csv,
                   CAST(72 + 2*l AS VARCHAR) || ',' || CAST(122 + 2*l + dl AS VARCHAR)
                     AS mask_ends_csv,
                   CAST(12 + l + dl AS BIGINT) AS mask_chars
            FROM d ORDER BY conv_id"""))

  /** DPO preference pairs ([[graft.ops.Preference.dpoPairs]]): four
    * md5-scored synthetic responses per prompt reduce to one
    * (chosen, rejected) pair via two struct aggregates — never a
    * window — with exact integer milli-scores, id tie-breaks, and
    * zero-margin pairs dropped. The oracle replays scores and both
    * argmax/argmin rankings, so a tie-break inversion, a margin
    * boundary slip, or an aggregation ordering bug all hash-mismatch.
    */
  val t94DpoPairs = Q(
    "t94_dpo_pairs",
    (s, dir) => {
      val resp = docs(s, dir).select(col("doc_id"), explode(
        array((0 until 4).map(lit): _*)).as("r"))
        .select(col("doc_id").as("prompt_id"), col("r").as("resp_id"),
          concat(lit("r"), col("r"), lit(" for "), col("doc_id")).as("text"),
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING) || ':dpo' || " +
            "CAST(r AS STRING)), 1, 14), 16, 10) AS BIGINT) % 1000").as("score_milli"))
      graft.ops.Preference.dpoPairs(resp).orderBy(col("prompt_id"))
    },
    Some("""WITH r AS (SELECT doc_id AS prompt_id, t.r AS resp_id,
                   'r' || CAST(t.r AS VARCHAR) || ' for ' || CAST(doc_id AS VARCHAR) AS text,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dpo'
                     || CAST(t.r AS VARCHAR)), 1, 14) AS BIGINT) % 1000 AS s
                 FROM documents CROSS JOIN range(4) t(r)),
            c AS (SELECT prompt_id, resp_id, text, s,
                    row_number() OVER (PARTITION BY prompt_id
                      ORDER BY s DESC, resp_id ASC) AS rn
                  FROM r),
            j AS (SELECT prompt_id, resp_id, text, s,
                    row_number() OVER (PARTITION BY prompt_id
                      ORDER BY s ASC, resp_id ASC) AS rn
                  FROM r)
            SELECT c.prompt_id, CAST(c.resp_id AS BIGINT) AS chosen_id,
                   CAST(j.resp_id AS BIGINT) AS rejected_id,
                   c.text AS chosen_text, j.text AS rejected_text,
                   CAST(c.s - j.s AS BIGINT) AS margin_milli
            FROM c JOIN j ON c.prompt_id = j.prompt_id
            WHERE c.rn = 1 AND j.rn = 1 AND c.s - j.s > 0
            ORDER BY c.prompt_id"""))

  /** Best-of-n rejection sampling ([[graft.ops.Preference.bestOfN]]):
    * per prompt, the single highest-scored of its 4 candidate
    * responses, with the exact-integer selection margin
    * n·best − Σscores. Same synthesized reward scores as t94; the
    * oracle replays selection via row_number and the margin in closed
    * form — a tie-break inversion or an off-by-one in the margin
    * hash-mismatches.
    */
  val t95BestOfN = Q(
    "t95_best_of_n",
    (s, dir) => {
      val resp = docs(s, dir).select(col("doc_id"), explode(
        array((0 until 4).map(lit): _*)).as("r"))
        .select(col("doc_id").as("prompt_id"), col("r").as("resp_id"),
          concat(lit("r"), col("r"), lit(" for "), col("doc_id")).as("text"),
          expr("CAST(conv(substring(md5(CAST(doc_id AS STRING) || ':bon' || " +
            "CAST(r AS STRING)), 1, 14), 16, 10) AS BIGINT) % 1000").as("score_milli"))
      graft.ops.Preference.bestOfN(resp).orderBy(col("prompt_id"))
    },
    Some("""WITH r AS (SELECT doc_id AS prompt_id, t.r AS resp_id,
                   'r' || CAST(t.r AS VARCHAR) || ' for ' || CAST(doc_id AS VARCHAR) AS text,
                   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':bon'
                     || CAST(t.r AS VARCHAR)), 1, 14) AS BIGINT) % 1000 AS s
                 FROM documents CROSS JOIN range(4) t(r)),
            b AS (SELECT prompt_id, resp_id, text, s,
                    row_number() OVER (PARTITION BY prompt_id
                      ORDER BY s DESC, resp_id ASC) AS rn
                  FROM r),
            a AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(s) AS BIGINT) AS sum_milli
                  FROM r GROUP BY prompt_id)
            SELECT a.prompt_id, n, CAST(b.resp_id AS BIGINT) AS best_id,
                   b.text AS best_text, CAST(b.s AS BIGINT) AS best_milli,
                   sum_milli, CAST(n * b.s - sum_milli AS BIGINT) AS margin_x_n_milli
            FROM a JOIN b ON a.prompt_id = b.prompt_id AND b.rn = 1
            ORDER BY a.prompt_id"""))

  /** Longest-contaminated-run screen ([[TextDedup.overlapRun]]): the
    * contiguous-span overlap metric (GPT-3/4-style substring
    * decontamination) over the same corpus/benchmark split as t54.
    * The oracle replays positional grams, the hit join, and the
    * gaps-and-islands run computation — a run merged across a gap or
    * an off-by-one in the span conversion hash-mismatches.
    */
  val t96OverlapRun = Q(
    "t96_overlap_run",
    (s, dir) => {
      val d = docs(s, dir)
      TextDedup.overlapRun(
          d.filter(col("source") =!= "src0"), d.filter(col("source") === "src0"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id, source,
                  list_filter(string_split(text, ' '), x -> x <> '') AS ws
                FROM documents),
            g AS (SELECT doc_id, source,
                    unnest(list_transform(range(len(ws) - 7),
                      i -> struct_pack(pos := i,
                        ng := array_to_string(ws[i+1:i+8], ' ')))) AS p
                  FROM d WHERE len(ws) >= 8),
            pg AS (SELECT doc_id, source, CAST(p.pos AS BIGINT) AS pos, p.ng AS ng FROM g),
            bench AS (SELECT DISTINCT ng FROM pg WHERE source = 'src0'),
            hit AS (SELECT doc_id, pos FROM pg JOIN bench USING (ng)
                    WHERE source <> 'src0'),
            runs AS (SELECT doc_id, count(*) AS run
                     FROM (SELECT doc_id,
                             pos - row_number() OVER (PARTITION BY doc_id
                               ORDER BY pos) AS grp
                           FROM hit)
                     GROUP BY doc_id, grp),
            mx AS (SELECT doc_id, CAST(max(run) AS BIGINT) AS max_run,
                     CAST(sum(run) AS BIGINT) AS n_hit_grams
                   FROM runs GROUP BY doc_id),
            tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                    FROM pg WHERE source <> 'src0' GROUP BY doc_id)
            SELECT t.doc_id, n_grams,
                   COALESCE(n_hit_grams, 0) AS n_hit_grams,
                   COALESCE(max_run, 0) AS max_run,
                   CASE WHEN COALESCE(max_run, 0) > 0
                        THEN COALESCE(max_run, 0) + 7 ELSE 0 END AS max_overlap_tokens,
                   (CASE WHEN COALESCE(max_run, 0) > 0
                         THEN COALESCE(max_run, 0) + 7 ELSE 0 END) >= 16 AS flagged
            FROM tot t LEFT JOIN mx ON t.doc_id = mx.doc_id
            ORDER BY t.doc_id"""))

  /** Tokenizer-fit report ([[graft.ops.Bpe.fertility]]): per-source
    * fertility (tokens/word) and compression (chars/token) under the
    * frozen t63 merge list — the table vocabulary selection reads.
    * The oracle replays the Sennrich apply-order encode per distinct
    * word (t63's chained-replace representation) and both exact
    * floor-division milli ratios.
    */
  val t97TokenizerFertility = Q(
    "t97_tokenizer_fertility",
    (s, dir) => graft.ops.Bpe.fertility(docs(s, dir), bpeMerges)
      .orderBy(col("source")),
    Some {
      val repr = bpeMerges.foldLeft(
        "'|' || array_to_string(list_transform(range(len(w)), " +
          "i -> substr(w, CAST(i + 1 AS INT), 1)), '||') || '|'") {
        case (acc, (a, b)) => s"replace($acc, '|$a||$b|', '|$a$b|')"
      }
      s"""WITH d AS (SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ws
                     FROM documents),
          occ AS (SELECT source, unnest(ws) AS w FROM d),
          enc AS (SELECT source, w, $repr AS repr FROM occ),
          tok AS (SELECT source, len(string_split(repr, '||')) AS n_toks,
                    len(w) AS n_chars
                  FROM enc)
          SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                 CAST(sum(n_chars) AS BIGINT) AS n_chars,
                 (CAST(sum(n_toks) AS BIGINT) * 1000) // CAST(count(*) AS BIGINT)
                   AS fertility_milli,
                 (CAST(sum(n_chars) AS BIGINT) * 1000) // CAST(sum(n_toks) AS BIGINT)
                   AS chars_per_token_milli
          FROM tok GROUP BY source ORDER BY source"""
    })

  /** Data-constrained epoch allocation ([[graft.ops.Mixture.epochAllocate]]):
    * a 27k-token budget at a 1.0-epoch repeat cap over the per-source
    * token masses — parameters chosen so the gate exercises all three
    * allocation states on this corpus (9 sources capped, 6 clipped
    * during the spill round, 5 free). The oracle replays the weight
    * quantization, both floor-division allocation rounds, and the
    * epoch conversion exactly.
    */
  val t98EpochPlan = Q(
    "t98_epoch_plan",
    (s, dir) => graft.ops.Mixture.epochAllocate(docs(s, dir),
        budgetTokens = 27000L, capMilliEpochs = 1000L)
      .orderBy(col("source")),
    Some("""WITH t AS (SELECT source,
                  CAST(sum(len(list_filter(string_split(text, ' '),
                    x -> x <> ''))) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source),
            w AS (SELECT source, n_tokens,
                    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000.0)
                      AS BIGINT) AS w_micro,
                    (n_tokens * 1000) // 1000 AS cap_tokens
                  FROM t),
            tot AS (SELECT CAST(sum(w_micro) AS BIGINT) AS w_total FROM w),
            r1 AS (SELECT w.source, w.n_tokens, w.w_micro, w.cap_tokens,
                     (27000 * w_micro) // w_total AS ideal_tokens,
                     (27000 * w_micro) // w_total > cap_tokens AS capped,
                     least((27000 * w_micro) // w_total, cap_tokens) AS alloc1
                   FROM w CROSS JOIN tot),
            sp AS (SELECT 27000 - CAST(sum(alloc1) AS BIGINT) AS leftover,
                     CAST(sum(CASE WHEN NOT capped THEN w_micro ELSE 0 END)
                       AS BIGINT) AS w_uncapped
                   FROM r1),
            f AS (SELECT r1.*, CASE WHEN capped OR w_uncapped = 0 THEN alloc1
                     ELSE least(cap_tokens,
                       alloc1 + (leftover * w_micro) // w_uncapped) END
                     AS alloc_tokens
                  FROM r1 CROSS JOIN sp)
            SELECT source, n_tokens, w_micro, ideal_tokens, cap_tokens, capped,
                   alloc_tokens, (alloc_tokens * 1000) // n_tokens AS epochs_milli
            FROM f ORDER BY source"""))

  /** Good–Turing count-of-counts ([[graft.ops.LangModel.goodTuring]]):
    * the frequency-of-frequencies table with Turing-smoothed adjusted
    * counts in exact milli. The oracle replays the histogram, the
    * second aggregation, the r+1 lookup, and the floor division.
    */
  val t99GoodTuring = Q(
    "t99_good_turing",
    (s, dir) => graft.ops.LangModel.goodTuring(docs(s, dir))
      .orderBy(col("r")),
    Some("""WITH t AS (SELECT unnest(list_filter(string_split(text, ' '),
                         x -> x <> '')) AS w
                       FROM documents),
            hist AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM t GROUP BY w),
            coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
                    FROM hist GROUP BY r)
            SELECT a.r, a.n_r, COALESCE(b.n_r, 0) AS n_r_plus_1,
                   ((a.r + 1) * COALESCE(b.n_r, 0) * 1000) // a.n_r AS r_star_milli
            FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
            ORDER BY a.r"""))

  /** Obfuscation-robust blocklist screen
    * ([[graft.ops.TextStats.blocklistScreen]]): every third doc gets
    * planted leet obfuscations (`Sp4rk j01n`) that the lowercase +
    * confusable fold must collapse onto the canonical blocklist; the
    * other docs exercise natural word-exact hits. The oracle replays
    * the fold as a replace chain plus the hit aggregation.
    */
  val t100Blocklist = Q(
    "t100_blocklist_screen",
    (s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" Sp4rk j01n"))).otherwise(col("text")))
      graft.ops.TextStats.blocklistScreen(planted,
          Seq("spark", "join", "window"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH p AS (SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN text || ' Sp4rk j01n'
                       ELSE text END AS text
                FROM documents),
            f AS (SELECT doc_id, list_filter(string_split(
                    replace(replace(replace(replace(replace(replace(replace(
                      replace(replace(lower(text),
                      '0','o'),'1','i'),'3','e'),'4','a'),'5','s'),'7','t'),
                      '@','a'),'$','s'),'!','i'),
                    ' '), x -> x <> '') AS ws
                  FROM p),
            t AS (SELECT doc_id, unnest(ws) AS term FROM f),
            h AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                    array_to_string(list_sort(list_distinct(list(term))), ',')
                      AS hit_terms
                  FROM t WHERE term IN ('spark', 'join', 'window')
                  GROUP BY doc_id)
            SELECT f.doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
                   COALESCE(n_hits, 0) AS n_hits,
                   COALESCE(hit_terms, '') AS hit_terms,
                   COALESCE(n_hits, 0) > 0 AS flagged
            FROM f LEFT JOIN h ON f.doc_id = h.doc_id
            ORDER BY f.doc_id"""))

  /** Aho–Corasick blocklist scan ([[org.apache.spark.sql.graftext
    * .MultiPatternMatch]]): ONE linear pass per document finds all 10
    * phrases simultaneously (codegen'd native expression; the
    * automaton ships to executors as a reference object) — the
    * K-independent screen shape, vs K `contains` scans per row. The
    * pattern list deliberately contains suffix-overlapping entries
    * ("batch" / "merge batch", "scan" / "scan query"): those exercise
    * the fail-link output merging that naive trie matching gets
    * wrong. The oracle replays each pattern as an independent LIKE.
    */
  val t103MultiMatch = Q(
    "t103_multi_match",
    (s, dir) => {
      val pats = Seq("batch", "merge batch", "slow filter", "customer query",
        "vector", "scan", "scan query", "hash value", "spark", "window")
      val arr = org.apache.spark.sql.graftext.MultiPatternMatch
        .multiMatch(col("text"), pats)
      docs(s, dir).select(col("doc_id"), arr.as("m"))
        .select(col("doc_id"), size(col("m")).as("n_matched"),
          concat_ws(",", expr("transform(m, x -> cast(x AS string))")).as("matched_csv"))
        .filter(col("n_matched") > 0)
        .orderBy(col("doc_id"))
    },
    Some("""WITH m AS (SELECT doc_id,
              (text LIKE '%batch%')::INT AS h0,
              (text LIKE '%merge batch%')::INT AS h1,
              (text LIKE '%slow filter%')::INT AS h2,
              (text LIKE '%customer query%')::INT AS h3,
              (text LIKE '%vector%')::INT AS h4,
              (text LIKE '%scan%')::INT AS h5,
              (text LIKE '%scan query%')::INT AS h6,
              (text LIKE '%hash value%')::INT AS h7,
              (text LIKE '%spark%')::INT AS h8,
              (text LIKE '%window%')::INT AS h9
            FROM documents)
            SELECT doc_id,
                   h0 + h1 + h2 + h3 + h4 + h5 + h6 + h7 + h8 + h9 AS n_matched,
                   concat_ws(',',
                     CASE WHEN h0 = 1 THEN '0' END, CASE WHEN h1 = 1 THEN '1' END,
                     CASE WHEN h2 = 1 THEN '2' END, CASE WHEN h3 = 1 THEN '3' END,
                     CASE WHEN h4 = 1 THEN '4' END, CASE WHEN h5 = 1 THEN '5' END,
                     CASE WHEN h6 = 1 THEN '6' END, CASE WHEN h7 = 1 THEN '7' END,
                     CASE WHEN h8 = 1 THEN '8' END, CASE WHEN h9 = 1 THEN '9' END) AS matched_csv
            FROM m WHERE h0 + h1 + h2 + h3 + h4 + h5 + h6 + h7 + h8 + h9 > 0
            ORDER BY doc_id"""))

  /** Count-Min sketch frequency estimates ([[graft.ops.Cms]]): the
    * depth-4 × width-512 sketch built in ONE capped aggregation, then
    * point-queried for the exact top-20 words. Because the hash
    * family is the portable md5 idiom, the oracle rebuilds the whole
    * sketch relationally and the gate compares ESTIMATED VALUES
    * bit-exactly (plus the never-undercount invariant via
    * `overcount`), not just error bands.
    */
  val t104CmsEstimate = Q(
    "t104_cms_estimate",
    (s, dir) => {
      val toks = docs(s, dir)
        .select(explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      // r12 optimization-round shape: aggregate the token stream to its
      // histogram ONCE, then build the sketch from (token, count)
      // weights — the md5 hash family runs per distinct token instead
      // of per occurrence, and the exact top-20 reads the same
      // histogram (its exchange is reused). Bucket counts are
      // bit-identical (Σ multiplicities either way) — oracle unchanged.
      val hist = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      val sk = graft.ops.Cms.sketchWeighted(hist, "token", "exact_n",
        depth = 4, width = 512)
      val exact = hist.orderBy(desc("exact_n"), col("token")).limit(20)
      val est = graft.ops.Cms.estimate(sk, exact.select("token"), depth = 4, width = 512)
      exact.join(est, "token")
        .select(col("token"), col("exact_n"), col("est_n"),
          (col("est_n") - col("exact_n")).as("overcount"))
        .orderBy(desc("exact_n"), col("token"))
    },
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token
                          FROM documents),
            t AS (SELECT token FROM toks WHERE length(token) > 0),
            seeds AS (SELECT seed FROM range(4) s(seed)),
            sk AS (SELECT seed,
                     CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || token), 1, 14)
                       AS BIGINT) % 512 AS bucket,
                     count(*) AS n
                   FROM t CROSS JOIN seeds GROUP BY 1, 2),
            exact AS (SELECT token, count(*) AS exact_n FROM t GROUP BY token
                      ORDER BY exact_n DESC, token LIMIT 20),
            est AS (SELECT e.token, min(sk.n) AS est_n
                    FROM exact e CROSS JOIN seeds s
                    JOIN sk ON sk.seed = s.seed
                     AND sk.bucket = CAST('0x' || substr(md5(CAST(s.seed AS VARCHAR)
                           || ':' || e.token), 1, 14) AS BIGINT) % 512
                    GROUP BY e.token)
            SELECT e.token, e.exact_n, est.est_n, est.est_n - e.exact_n AS overcount
            FROM exact e JOIN est ON e.token = est.token
            ORDER BY exact_n DESC, e.token"""))

  /** Schema-generic column profiler ([[graft.ops.Profile.profile]]):
    * the ANALYZE sweep over four orders columns — exactly two jobs
    * for any column count (one no-groupBy typed aggregate + one
    * melted (col, value) aggregation). min/max order on the NATIVE
    * type before rendering; the dominant value breaks ties by value.
    * The oracle rebuilds each column's stats independently, so a
    * melt/typing mistake on any single column hash-mismatches.
    */
  val t105TableProfile = Q(
    "t105_table_profile",
    (s, dir) => {
      graft.ops.Profile.profile(
        graft.Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
        .orderBy(col("col_name"))
    },
    Some("""WITH vals AS (
              SELECT 'o_orderkey' AS col_name, CAST(o_orderkey AS VARCHAR) AS v
              FROM orders WHERE o_orderkey IS NOT NULL
              UNION ALL SELECT 'o_orderstatus', o_orderstatus
              FROM orders WHERE o_orderstatus IS NOT NULL
              UNION ALL SELECT 'o_orderpriority', o_orderpriority
              FROM orders WHERE o_orderpriority IS NOT NULL
              UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR)
              FROM orders WHERE o_orderdate IS NOT NULL),
            byv AS (SELECT col_name, v, count(*) AS vn FROM vals GROUP BY 1, 2),
            topv AS (SELECT col_name, v AS top_val, vn AS top_n,
                       row_number() OVER (PARTITION BY col_name
                                          ORDER BY vn DESC, v ASC) AS rk
                     FROM byv),
            dist AS (SELECT col_name, count(*) AS n_distinct FROM byv GROUP BY 1),
            basic AS (
              SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                     count(*) - count(o_orderkey) AS n_nulls,
                     CAST(min(o_orderkey) AS VARCHAR) AS min_s,
                     CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM orders
              UNION ALL SELECT 'o_orderstatus', count(*),
                     count(*) - count(o_orderstatus),
                     CAST(min(o_orderstatus) AS VARCHAR),
                     CAST(max(o_orderstatus) AS VARCHAR) FROM orders
              UNION ALL SELECT 'o_orderpriority', count(*),
                     count(*) - count(o_orderpriority),
                     CAST(min(o_orderpriority) AS VARCHAR),
                     CAST(max(o_orderpriority) AS VARCHAR) FROM orders
              UNION ALL SELECT 'o_orderdate', count(*),
                     count(*) - count(o_orderdate),
                     CAST(min(o_orderdate) AS VARCHAR),
                     CAST(max(o_orderdate) AS VARCHAR) FROM orders)
            SELECT b.col_name, b.n_rows, b.n_nulls, d.n_distinct,
                   b.min_s, b.max_s, t.top_val, t.top_n
            FROM basic b JOIN dist d ON b.col_name = d.col_name
            JOIN topv t ON t.col_name = b.col_name AND t.rk = 1
            ORDER BY b.col_name"""))

  /** Vocabulary coverage curve over word bigrams — the vocab-budget
    * question tokenizer design actually answers: at candidate vocab
    * size k (types ranked by frequency, ties by gram), what
    * milli-fraction of corpus TOKENS is covered? One frequency agg +
    * one ranked window + a tiny candidate-k join; coverage is exact
    * floor division.
    */
  val t107VocabCoverage = Q(
    "t107_vocab_coverage",
    (s, dir) => {
      import s.implicits._
      val ks = Seq(10, 50, 100, 300, 600)
      val ksDf = ks.toDF("k")
      val grams = docs(s, dir)
        .select(expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), i -> " +
            "concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")).as("gram"))
      val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("gram").asc)
      val ranked = freq
        .withColumn("rn", row_number().over(w))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val total = freq.agg(sum(col("n")).as("total"))
      ranked.crossJoin(broadcast(total))
        .crossJoin(broadcast(ksDf))
        .filter(col("rn") <= col("k"))
        .groupBy(col("k"))
        .agg(max(col("rn")).as("vocab_used"),
          expr("(max(cum) * 1000) div max(total)").as("coverage_milli"))
        .orderBy(col("k"))
    },
    Some("""WITH d AS (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            g AS (SELECT ws[i+1] || ' ' || ws[i+2] AS gram
                  FROM d, unnest(range(len(ws) - 1)) AS u(i)),
            f AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY gram),
            r AS (SELECT gram, n,
                    row_number() OVER (ORDER BY n DESC, gram) AS rn,
                    CAST(sum(n) OVER (ORDER BY n DESC, gram
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                  FROM f),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
            ks AS (SELECT unnest([10, 50, 100, 300, 600]) AS k)
            SELECT k, CAST(max(rn) AS BIGINT) AS vocab_used,
                   CAST(max(cum) * 1000 // max(total) AS BIGINT) AS coverage_milli
            FROM r CROSS JOIN tot CROSS JOIN ks
            WHERE rn <= k
            GROUP BY k ORDER BY k"""))

  /** Per-document n-gram novelty — the corpus-staleness curve: what
    * milli-fraction of a document's trigram TYPES had never appeared
    * in any earlier (smaller-id) document? A crawl that keeps
    * re-fetching the same content shows novelty collapsing toward
    * zero. One gram-key window exchange serves the first-seen
    * computation (no separate build+join), then a doc-key aggregate.
    */
  val t108NgramNovelty = Q(
    "t108_ngram_novelty",
    (s, dir) => {
      val g = docs(s, dir)
        .select(col("doc_id"), expr("filter(split(text, ' '), x -> x <> '')").as("ws"))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ws) - 2), i -> concat(element_at(ws, i), ' ', " +
            "element_at(ws, i + 1), ' ', element_at(ws, i + 2)))")).as("gram"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gram"))
      g.withColumn("first_doc", min(col("doc_id")).over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
        .select(col("doc_id"), col("n_grams"), col("n_novel"),
          expr("(n_novel * 1000) div n_grams").as("novelty_milli"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH d AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '') AS ws
                       FROM documents),
            g AS (SELECT DISTINCT doc_id,
                    ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
                  FROM d, unnest(range(len(ws) - 2)) AS u(i)),
            fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
            SELECT g.doc_id AS doc_id, count(*) AS n_grams,
                   CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                   CAST(sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)
                     * 1000 // count(*) AS BIGINT) AS novelty_milli
            FROM g JOIN fs ON g.gram = fs.gram
            GROUP BY g.doc_id ORDER BY doc_id"""))

  /** Train/val/test split LEAKAGE audit — the eval bug dedup exists
    * to prevent, checked directly: documents with identical content
    * hashes landing in different hash splits ([[graft.ops.Splits
    * .hashSplit]] ∘ exact dedup). One content-hash exchange; the
    * output is the per-(splitA, splitB) leak matrix plus the leaked
    * group count, so a single cross-split duplicate anywhere moves a
    * hash-checked number.
    */
  val t109SplitLeakage = Q(
    "t109_split_leakage",
    (s, dir) => {
      // the base corpus is duplicate-free, so plant the hazard the
      // auditor exists for (t102's synthesis precedent): every 5th
      // doc re-enters under a new id — exactly what a re-crawl that
      // skipped dedup produces; the id-hash split then scatters the
      // copies across train/val/test
      val base = docs(s, dir)
      val corpus = base.select(col("doc_id"), col("text"))
        .union(base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      val sp = graft.ops.Splits.hashSplit(corpus)
        .select(col("doc_id"), md5(col("text")).as("th"), col("split"))
      val pairs = sp.as("a").join(sp.as("b"),
        col("a.th") === col("b.th") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.th").as("th"),
          least(col("a.split"), col("b.split")).as("split_lo"),
          greatest(col("a.split"), col("b.split")).as("split_hi"))
        .filter(col("split_lo") =!= col("split_hi"))
      pairs.groupBy(col("split_lo"), col("split_hi"))
        .agg(count(lit(1)).as("n_leaky_pairs"),
          countDistinct(col("th")).as("n_leaky_groups"))
        .orderBy(col("split_lo"), col("split_hi"))
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0),
            sp AS (SELECT doc_id, md5(text) AS th,
                   CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                          AS BIGINT) % 1000 < 800 THEN 'train'
                        WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                          AS BIGINT) % 1000 < 900 THEN 'val'
                        ELSE 'test' END AS split
                 FROM corpus),
            pairs AS (SELECT a.th,
                        least(a.split, b.split) AS split_lo,
                        greatest(a.split, b.split) AS split_hi
                      FROM sp a JOIN sp b
                        ON a.th = b.th AND a.doc_id < b.doc_id
                      WHERE a.split <> b.split)
            SELECT split_lo, split_hi, count(*) AS n_leaky_pairs,
                   CAST(count(DISTINCT th) AS BIGINT) AS n_leaky_groups
            FROM pairs GROUP BY 1, 2 ORDER BY split_lo, split_hi"""))

  /** Content-defined chunking dedup — the insertion-robust variant of
    * the fixed-window chunk dedup (d48): boundaries fall where the
    * word-trigram hash ≡ 0 (mod 8), so a one-word PREFIX insertion
    * (planted here on every 5th doc) re-synchronizes after the first
    * boundary and the shifted copy still shares almost all its chunks
    * with the original — fixed windows lose every alignment. Output:
    * corpus chunk mass vs distinct chunk mass and the duplicated
    * fraction, exact integers. One (doc,pos) window + one chunk-hash
    * aggregation.
    */
  val t110CdcChunks = Q(
    "t110_cdc_chunks",
    (s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val corpus = base.union(
        base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"),
            concat(lit("zzz "), col("text")).as("text")))
      val words = corpus
        .select(col("doc_id"), posexplode(expr("filter(split(text, ' '), x -> x <> '')"))
          .as(Seq("pos", "w")))
      val flagged = words.withColumn("boundary",
        when(col("pos") >= 2 &&
          expr("CAST(conv(substring(md5(concat(" +
            "lag(w, 2) over (partition by doc_id order by pos), ' ', " +
            "lag(w, 1) over (partition by doc_id order by pos), ' ', w)), 1, 14), 16, 10) " +
            "AS BIGINT) % 8") === 0, 1L).otherwise(0L))
      val seg = flagged.withColumn("seg",
        expr("sum(boundary) over (partition by doc_id order by pos)"))
      val chunks = seg.groupBy(col("doc_id"), col("seg"))
        .agg(count(lit(1)).as("n_words"),
          md5(expr("array_join(transform(array_sort(collect_list(struct(pos, w))), " +
            "x -> x.w), ' ')")).as("ch"))
      chunks.agg(
        count(lit(1)).as("n_chunks"),
        countDistinct(col("ch")).as("n_distinct_chunks"),
        sum(col("n_words")).as("total_words"))
        .select(col("n_chunks"), col("n_distinct_chunks"), col("total_words"),
          expr("((n_chunks - n_distinct_chunks) * 1000) div n_chunks").as("dup_chunk_milli"))
    },
    Some("""WITH corpus AS (SELECT doc_id, text FROM documents
                 UNION ALL
                 SELECT doc_id + 10000, 'zzz ' || text FROM documents
                 WHERE doc_id % 5 = 0),
            w AS (SELECT doc_id, ws[i+1] AS w, CAST(i AS BIGINT) + 1 AS pos
                  FROM (SELECT doc_id,
                          list_filter(string_split(text, ' '), x -> x <> '') AS ws
                        FROM corpus),
                       unnest(range(len(ws))) AS u(i)),
            f AS (SELECT doc_id, w, pos,
                    CASE WHEN pos >= 3 AND
                      CAST('0x' || substr(md5(
                        lag(w, 2) OVER dw || ' ' || lag(w, 1) OVER dw || ' ' || w),
                        1, 14) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS boundary
                  FROM w
                  WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
            seg AS (SELECT doc_id, w, pos,
                      sum(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS seg
                    FROM f),
            chunks AS (SELECT doc_id, seg, count(*) AS n_words,
                         md5(string_agg(w, ' ' ORDER BY pos)) AS ch
                       FROM seg GROUP BY doc_id, seg)
            SELECT count(*) AS n_chunks,
                   CAST(count(DISTINCT ch) AS BIGINT) AS n_distinct_chunks,
                   CAST(sum(n_words) AS BIGINT) AS total_words,
                   (count(*) - count(DISTINCT ch)) * 1000 // count(*) AS dup_chunk_milli
            FROM chunks"""))

  /** Snapshot diff ([[graft.ops.SnapshotDiff.diff]]): old = the full
    * corpus; new = the corpus with every 7th doc removed, every 5th
    * surviving doc edited, and fresh docs appended — all four
    * statuses exercised with deterministic membership. The oracle
    * replays the synthetic new snapshot and the content-hash
    * classification.
    */
  val t102SnapshotDiff = Q(
    "t102_snapshot_diff",
    (s, dir) => {
      val d = docs(s, dir)
      val neu = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 10000L).as("doc_id"),
            concat(lit("new doc "), col("text")).as("text"),
            col("lang"), col("source"), col("n_chars")))
      graft.ops.SnapshotDiff.diff(d, neu).orderBy(col("doc_id"))
    },
    Some("""WITH old AS (SELECT doc_id, md5(text) AS old_hash FROM documents),
            neu AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                               ELSE text END) AS new_hash
                    FROM documents WHERE doc_id % 7 <> 0
                    UNION ALL
                    SELECT doc_id + 10000, md5('new doc ' || text)
                    FROM documents WHERE doc_id % 11 = 0)
            SELECT COALESCE(old.doc_id, neu.doc_id) AS doc_id,
                   old_hash, new_hash,
                   CASE WHEN old_hash IS NULL THEN 'added'
                        WHEN new_hash IS NULL THEN 'removed'
                        WHEN old_hash = new_hash THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
            ORDER BY doc_id"""))

  /** Weighted sampling without replacement
    * ([[graft.ops.Splits.weightedSample]], Efraimidis–Spirakis A-ES):
    * a 100-doc quality-weighted draw with w = n_chars. The oracle
    * replays the md5-uniform, the ln(u)/w keys at 6dp, and the global
    * top-k ranking with id tie-breaks.
    */
  val t101WeightedSample = Q(
    "t101_weighted_sample",
    (s, dir) => graft.ops.Splits.weightedSample(
        docs(s, dir), k = 100, weightCol = "n_chars")
      .orderBy(col("doc_id")),
    Some("""WITH s AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
                  round(ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14)
                      AS BIGINT) % 1000000 + 0.5) / 1000000.0)
                    / CAST(n_chars AS DOUBLE), 6) AS key6
                FROM documents WHERE n_chars > 0),
            r AS (SELECT doc_id, w, key6,
                    row_number() OVER (ORDER BY key6 DESC, doc_id ASC) AS rank
                  FROM s)
            SELECT doc_id, w, key6, CAST(rank AS INT) AS rank
            FROM r WHERE rank <= 100
            ORDER BY doc_id"""))

  /** Integer HITS ([[graft.ops.Graphs.hits]]) over the same 2-out
    * graph as g01 — the hub/authority split with exact max
    * normalization. The oracle unrolls both rounds (four half-rounds)
    * in SQL; a normalization or join-direction slip hash-mismatches.
    */
  val g02Hits = Q(
    "g02_hits",
    (s, dir) => {
      val d = docs(s, dir)
      val edges = d.select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 17 + 7) % 500,
          (col("doc_id") * 31 + 3) % 500)).as("dst"))
      graft.ops.Graphs.hits(edges, d.select(col("doc_id").as("id")), iters = 2)
        .orderBy(col("id"))
    },
    Some("""WITH v AS (SELECT doc_id AS id FROM documents),
            e AS (SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, (doc_id*17+7) % 500 AS dst FROM documents
                    UNION ALL
                    SELECT doc_id, (doc_id*31+3) % 500 FROM documents)
                  WHERE src <> dst),
            a0 AS (SELECT id, CAST(1000000 AS BIGINT) AS s FROM v),
            hr1 AS (SELECT e.src AS id, CAST(sum(a0.s) AS BIGINT) AS raw
                    FROM e JOIN a0 ON e.dst = a0.id GROUP BY e.src),
            h1 AS (SELECT v.id, CAST(COALESCE((raw * 1000000)
                     // (SELECT max(raw) FROM hr1), 0) AS BIGINT) AS s
                   FROM v LEFT JOIN hr1 ON v.id = hr1.id),
            ar1 AS (SELECT e.dst AS id, CAST(sum(h1.s) AS BIGINT) AS raw
                    FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst),
            a1 AS (SELECT v.id, CAST(COALESCE((raw * 1000000)
                     // (SELECT max(raw) FROM ar1), 0) AS BIGINT) AS s
                   FROM v LEFT JOIN ar1 ON v.id = ar1.id),
            hr2 AS (SELECT e.src AS id, CAST(sum(a1.s) AS BIGINT) AS raw
                    FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
            h2 AS (SELECT v.id, CAST(COALESCE((raw * 1000000)
                     // (SELECT max(raw) FROM hr2), 0) AS BIGINT) AS s
                   FROM v LEFT JOIN hr2 ON v.id = hr2.id),
            ar2 AS (SELECT e.dst AS id, CAST(sum(h2.s) AS BIGINT) AS raw
                    FROM e JOIN h2 ON e.src = h2.id GROUP BY e.dst),
            a2 AS (SELECT v.id, CAST(COALESCE((raw * 1000000)
                     // (SELECT max(raw) FROM ar2), 0) AS BIGINT) AS s
                   FROM v LEFT JOIN ar2 ON v.id = ar2.id)
            SELECT h2.id, h2.s AS hub_micro, a2.s AS auth_micro
            FROM h2 JOIN a2 ON h2.id = a2.id
            ORDER BY h2.id"""))

  /** Multi-source BFS shortest hops ([[graft.ops.Graphs.bfsHops]])
    * over the same 2-out affine link graph as g01/g02, from the five
    * doc_id ≡ 0 (mod 100) seeds — frontier expansion, one
    * join+anti-join round per level, lineage truncated each round.
    * The oracle replays reachability as a depth-bounded recursive
    * path enumeration and takes min(hops) per vertex.
    */
  val g04BfsHops = Q(
    "g04_bfs_hops",
    (s, dir) => {
      val d = docs(s, dir)
      val edges = d.select(col("doc_id").as("src"),
          explode(array((col("doc_id") * 17 + 7) % 500,
            (col("doc_id") * 31 + 3) % 500)).as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      graft.ops.Graphs.bfsHops(edges,
          d.filter(col("doc_id") % 100 === 0).select(col("doc_id").as("id")),
          maxHops = 10)
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, (doc_id*17+7) % 500 AS dst FROM documents
                    UNION ALL
                    SELECT doc_id, (doc_id*31+3) % 500 FROM documents)
                  WHERE src <> dst),
            walk(id, hops) AS (
              SELECT doc_id, 0 FROM documents WHERE doc_id % 100 = 0
              UNION ALL
              SELECT e.dst, w.hops + 1 FROM walk w
              JOIN e ON e.src = w.id WHERE w.hops < 10)
            SELECT id, CAST(min(hops) AS INT) AS hops
            FROM walk GROUP BY id ORDER BY id"""))

  /** k-core membership ([[graft.ops.Graphs.kCore]], k = 11) over the
    * g01 link graph PLUS a planted 25-clique and a 10-node "house of
    * cards" chain (each chain node: 7 clique edges + the next chain
    * node): the chain nodes hold degree ≥ 11 only through their
    * successors, so the peel cascades SIX rounds before the fixpoint
    * — a one-shot degree filter (the classic wrong implementation)
    * keeps all 35 nodes and hash-mismatches. The oracle unrolls
    * eight relational peel rounds (two more than needed, idempotent
    * at the fixpoint).
    */
  val g05Kcore = Q(
    "g05_kcore",
    (s, dir) => {
      val d = docs(s, dir)
      val baseE = d.select(col("doc_id").as("src"),
        explode(array((col("doc_id") + 1) % 500, (col("doc_id") + 2) % 500,
          (col("doc_id") * 17 + 7) % 500)).as("dst"))
      val ids = d.filter(col("doc_id") < 25).select(col("doc_id"))
      val clique = ids.as("a").join(ids.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
      val chainClique = s.range(10).select((col("id") + 25).as("src"))
        .crossJoin(s.range(7).select(col("id").as("dst")))
      val chainNext = s.range(9).select((col("id") + 25).as("src"),
        (col("id") + 26).as("dst"))
      graft.ops.Graphs.kCore(
          baseE.union(clique).union(chainClique).union(chainNext), k = 11)
        .orderBy(col("id"))
    },
    Some {
      val peels = (1 to 8).map { r =>
        // MATERIALIZED: default CTE inlining re-expands e(r-1) ~5× per
        // round — exponential scans by round 8 (observed as an
        // fd-exhaustion failure); materialization makes it 8 linear passes
        s"""d$r AS MATERIALIZED (SELECT id, count(*) AS deg FROM (
           |        SELECT u AS id FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1})
           |      GROUP BY id),
           |e$r AS MATERIALIZED (SELECT p.u, p.v FROM e${r - 1} p
           |        JOIN d$r du ON du.id = p.u JOIN d$r dv ON dv.id = p.v
           |        WHERE du.deg >= 11 AND dv.deg >= 11)""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (SELECT doc_id AS a, (doc_id+1) % 500 AS b FROM documents
         |      UNION ALL SELECT doc_id, (doc_id+2) % 500 FROM documents
         |      UNION ALL SELECT doc_id, (doc_id*17+7) % 500 FROM documents
         |      UNION ALL SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b
         |        ON a.doc_id < b.doc_id AND b.doc_id < 25
         |      UNION ALL SELECT 25 + t, c FROM range(10) r(t) CROSS JOIN range(7) c(c)
         |      UNION ALL SELECT 25 + t, 26 + t FROM range(9) r(t)),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
         |       FROM raw WHERE a <> b),
         |$peels
         |SELECT id, CAST(count(*) AS BIGINT) AS core_deg FROM (
         |  SELECT u AS id FROM e8 UNION ALL SELECT v FROM e8)
         |GROUP BY id ORDER BY id""".stripMargin
    })

  /** Exact per-vertex triangle counts ([[graft.ops.Graphs
    * .triangleCounts]]) over a cycle+chord+affine link graph — the
    * link-farm / community-density signal (triangle density is what
    * separates organic link neighborhoods from spam rings, and
    * clustering-coefficient features build directly on it). The
    * degree-ordered orientation means each triangle is found exactly
    * once from its lowest-(deg, id) apex; the oracle replays the same
    * orientation and both joins relationally, so an orientation tie
    * break or double count anywhere hash-mismatches.
    */
  val g03Triangles = Q(
    "g03_triangles",
    (s, dir) => {
      val d = docs(s, dir)
      val edges = d.select(col("doc_id").as("src"),
        explode(array((col("doc_id") + 1) % 500, (col("doc_id") + 2) % 500,
          (col("doc_id") * 17 + 7) % 500)).as("dst"))
      graft.ops.Graphs.triangleCounts(edges)
        .orderBy(col("id"))
    },
    Some("""WITH raw AS (SELECT doc_id AS a, (doc_id+1) % 500 AS b FROM documents
                  UNION ALL SELECT doc_id, (doc_id+2) % 500 FROM documents
                  UNION ALL SELECT doc_id, (doc_id*17+7) % 500 FROM documents),
            und AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                    FROM raw WHERE a <> b),
            deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
                    FROM (SELECT u AS id FROM und UNION ALL SELECT v FROM und)
                    GROUP BY id),
            keyed AS (SELECT u, v,
                        du.deg * 4294967296 + u AS ku,
                        dv.deg * 4294967296 + v AS kv
                      FROM und JOIN deg du ON du.id = u
                               JOIN deg dv ON dv.id = v),
            o AS (SELECT CASE WHEN ku < kv THEN u ELSE v END AS s,
                         CASE WHEN ku < kv THEN v ELSE u END AS t,
                         greatest(ku, kv) AS tk
                  FROM keyed),
            tri AS (SELECT a.s AS apex, a.t AS x0, b.t AS y0
                    FROM o a JOIN o b ON a.s = b.s AND a.tk < b.tk
                    JOIN o c ON c.s = a.t AND c.t = b.t)
            SELECT id, CAST(count(*) AS BIGINT) AS triangles
            FROM (SELECT apex AS id FROM tri UNION ALL
                  SELECT x0 FROM tri UNION ALL SELECT y0 FROM tri)
            GROUP BY id ORDER BY id"""))

  /** ORC sink + source round-trip: the documents table written as ORC
    * by distributed tasks, read back through the ORC reader with a
    * pushed predicate and pruned columns, and aggregated — source/
    * sink breadth next to the parquet/csv/json/omezarr scans (q37,
    * q38, §2.7). The oracle computes the same aggregate over the
    * original parquet, so any ORC encode/decode corruption or
    * pushdown-semantics drift hash-mismatches.
    */
  val q53OrcRoundtrip = Q(
    "q53_orc_roundtrip",
    (s, dir) => {
      // applicationId-keyed path (like q55/q67): repeated bench runs
      // overwrite in place instead of accumulating /tmp ORC copies
      val tmp = QTables.appTmp(s, "q53_orc", dir)
      docs(s, dir).write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .filter(col("n_chars") >= 200)
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          min(col("doc_id")).cast("long").as("min_doc"))
        .orderBy(col("source"))
    },
    Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(min(doc_id) AS BIGINT) AS min_doc
            FROM documents WHERE n_chars >= 200
            GROUP BY source ORDER BY source"""))

  /** Integer PageRank ([[graft.ops.Graphs.pageRank]]) over a
    * deterministic 2-out link graph on the document ids — the
    * crawl-frontier importance score. Three message-passing rounds,
    * every step exact floor-division integers; the oracle unrolls the
    * identical three iterations in SQL, so a single rank bit off
    * anywhere in the cascade hash-mismatches.
    */
  val g01PageRank = Q(
    "g01_pagerank",
    (s, dir) => {
      val d = docs(s, dir)
      val edges = d.select(col("doc_id").as("src"),
        explode(array((col("doc_id") * 17 + 7) % 500,
          (col("doc_id") * 31 + 3) % 500)).as("dst"))
      graft.ops.Graphs.pageRank(edges, d.select(col("doc_id").as("id")),
          iters = 3)
        .orderBy(col("id"))
    },
    Some("""WITH v AS (SELECT doc_id AS id FROM documents),
            e AS (SELECT DISTINCT src, dst FROM (
                    SELECT doc_id AS src, (doc_id*17+7) % 500 AS dst FROM documents
                    UNION ALL
                    SELECT doc_id, (doc_id*31+3) % 500 FROM documents)
                  WHERE src <> dst),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src),
            r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM v),
            c1 AS (SELECT e.dst AS id, CAST(sum(r0.r // od.outdeg) AS BIGINT) AS s
                   FROM e JOIN r0 ON e.src = r0.id JOIN od ON e.src = od.src
                   GROUP BY e.dst),
            r1 AS (SELECT v.id, 150000 + (850 * COALESCE(c1.s, 0)) // 1000 AS r
                   FROM v LEFT JOIN c1 ON v.id = c1.id),
            c2 AS (SELECT e.dst AS id, CAST(sum(r1.r // od.outdeg) AS BIGINT) AS s
                   FROM e JOIN r1 ON e.src = r1.id JOIN od ON e.src = od.src
                   GROUP BY e.dst),
            r2 AS (SELECT v.id, 150000 + (850 * COALESCE(c2.s, 0)) // 1000 AS r
                   FROM v LEFT JOIN c2 ON v.id = c2.id),
            c3 AS (SELECT e.dst AS id, CAST(sum(r2.r // od.outdeg) AS BIGINT) AS s
                   FROM e JOIN r2 ON e.src = r2.id JOIN od ON e.src = od.src
                   GROUP BY e.dst),
            r3 AS (SELECT v.id, 150000 + (850 * COALESCE(c3.s, 0)) // 1000 AS r
                   FROM v LEFT JOIN c3 ON v.id = c3.id)
            SELECT id, CAST(r AS BIGINT) AS rank_micro FROM r3 ORDER BY id"""))
}
