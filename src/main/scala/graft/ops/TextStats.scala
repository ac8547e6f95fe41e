package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: per-document
  * statistics / quality scoring, n-gram-lexicon language ID, token
  * counting (whitespace + BPE-ish regex), and bag-of-words document
  * fingerprinting. Everything is built from codegen'd built-ins so
  * the hot path stays inside whole-stage codegen; ratios are emitted
  * as raw doubles from exact integer counts (bit-identical across
  * engines).
  */
object TextStats {

  import TextDedup.words

  /** Per-doc stats: token counts, distinct tokens, char sums,
    * type-token ratio, average word length, and a deterministic
    * quality score combining them.
    */
  def stats(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // split once; the tokenization lambda is the expensive part
    docs.select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .select(
        col("doc_id"),
        size(col("ws")).as("n_words"),
        size(array_distinct(col("ws"))).as("n_distinct"),
        aggregate(col("ws"), lit(0), (acc, w) => acc + length(w)).as("sum_word_len"))
      .withColumn("avg_word_len", col("sum_word_len").cast("double") / col("n_words"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_words"))
      .withColumn("quality_score",
        col("ttr") * (least(col("n_words"), lit(100)).cast("double") / 100.0))
  }

  /** Stopword lexicons for the heuristic language classifier. Order
    * fixes the argmax tiebreak.
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "en" -> Seq("the", "of", "and", "to", "in", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "wo3", "you3"))

  /** Heuristic language ID: per-language stopword-hit scores, argmax
    * with first-in-`lexicons`-order tiebreak, "und" (undetermined)
    * when no lexicon hits at all. The text splits once; each lexicon
    * scores over the shared token array.
    */
  def langId(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withWs = docs.withColumn("_ws", words(col(textCol)))
    val scored = lexicons.foldLeft(withWs) { case (d, (lang, lex)) =>
      d.withColumn(s"score_$lang", size(filter(col("_ws"), w => w.isInCollection(lex))))
    }.drop("_ws")
    val maxScore = greatest(lexicons.map { case (l, _) => col(s"score_$l") }: _*)
    val predicted = lexicons.foldRight(lit("und")) { case ((lang, _), els) =>
      when(col(s"score_$lang") === maxScore && maxScore > 0, lang).otherwise(els)
    }
    // foldRight keeps lexicon order precedence: de wins ties over en, etc.
    scored.withColumn("predicted_lang", predicted)
  }

  /** Token counts: whitespace tokens and BPE-ish regex tokens
    * (runs of lowercase letters or digits over the lowercased text).
    */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      size(words(col(textCol))).as("ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"))

  /** Canonical bag-of-words fingerprint: md5 of the sorted distinct
    * token list — documents that are permutations/repetitions of the
    * same vocabulary collide, giving cheap near-dup clusters.
    */
  /** PII scrub: redact emails and phone-shaped tokens with typed
    * placeholders and count what was removed. Patterns stay in the
    * common Java-regex/RE2 subset (no backrefs, no lookaround) so a
    * SQL oracle replays them verbatim; all codegen'd built-ins.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}-\\d{4}\\b"

  def redactPii(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      regexp_count(col(textCol), lit(EmailPattern)).as("n_emails"),
      regexp_count(col(textCol), lit(PhonePattern)).as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), lit(EmailPattern), lit("<EMAIL>")),
        lit(PhonePattern), lit("<PHONE>")).as("redacted"))

  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(words(text)))))

  /** Leet/confusable fold used by [[blocklistScreen]]: the common
    * digit/symbol substitutions collapse onto their letter (1→i,
    * 3→e, 4→a, …) AFTER lowercasing, so `Sp4rk`/`j01n` match a
    * canonical blocklist. A `translate` is one codegen'd pass; the
    * char pairs are public knowledge (classic leetspeak table).
    */
  val LeetFrom = "013457@$!"
  val LeetTo = "oieastasi"

  /** Obfuscation-robust blocklist screen — the safety-filter pass a
    * training pipeline runs with its unsafe-term lists: lowercase →
    * leet fold → word-exact match against the blocklist. Word-exact
    * (not substring) so "class" never matches "ass" — substring
    * blocklists are the classic Scunthorpe failure.
    *
    * Scale shape: the blocklist joins BROADCAST (term lists are
    * kilobytes even in production); per-doc counts are one
    * map-side-combinable aggregation over the (tiny) hit rows. Docs
    * without hits never shuffle — only matched tokens leave the scan.
    *
    * Output: (doc_id, n_tokens, n_hits, hit_terms, flagged) for every
    * doc; `hit_terms` is the sorted distinct matched list.
    */
  def blocklistScreen(docs: DataFrame, blocklist: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = broadcast(blocklist.toDF("term"))
    val folded = docs.select(col(idCol).as("doc_id"),
      words(translate(lower(col(textCol)), LeetFrom, LeetTo)).as("ws"))
    val hits = folded
      .select(col("doc_id"), explode(col("ws")).as("term"))
      .join(bl, "term")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_hits"),
        array_join(array_sort(collect_set(col("term"))), ",").as("hit_terms"))
    folded.select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("hit_terms"), lit("")).as("hit_terms"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("flagged"))
  }

  /** Corpus word-frequency profile per document — the cheap
    * perplexity proxy: a doc made of corpus-common words scores high
    * median/mean token frequency, rare-gibberish docs score low.
    * Two map-side-combinable aggregations (corpus term frequencies,
    * then per-doc stats over the joined frequencies) and one join on
    * the token — no driver state, no pair enumeration. All outputs
    * are exact integers (discrete median at position ceil(n/2),
    * floor-division milli mean), so parity is exact by construction.
    *
    * Output: (doc_id, n_tokens, median_wf, max_wf, mean_wf_milli).
    */
  def wordFreqStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // deliberately NOT persisted: both consumers re-run the cheap
    // codegen'd tokenize+explode; caching the token table measured
    // slower than recomputing it (columnar cache build dominates)
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("wf"))
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wf"))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val out = toks.join(freq, "w")
      .withColumn("rn", row_number().over(w1))
      .withColumn("cnt", count(lit(1)).over(wc))
      .groupBy(col("doc_id"))
      .agg(
        max(col("cnt")).as("n_tokens"),
        expr("max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN wf END)").as("median_wf"),
        max(col("wf")).as("max_wf"),
        expr("(sum(wf) * 1000) div max(cnt)").as("mean_wf_milli"))
    out
  }

  /** Text normalization — the canonicalization step that runs before
    * hashing/dedup in a training-data pipeline: lowercase, strip
    * every character outside [a-z0-9 ], collapse whitespace runs,
    * trim. All codegen'd built-ins (lower/regexp_replace/trim) in the
    * common regex subset, so a SQL oracle replays it verbatim.
    *
    * Output: (doc_id, normalized, n_chars, n_norm_chars).
    */
  def normalize(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), "  +", " "))
    docs.select(
      col(idCol).as("doc_id"),
      norm.as("normalized"),
      length(col(textCol)).as("n_chars"),
      length(norm).as("n_norm_chars"))
  }

  /** Stopword list for the quality gate's stopword-fraction rule
    * (order-independent membership test, distinct from the lang-ID
    * lexicons above).
    */
  val qualityStopwords: Seq[String] =
    Seq("the", "a", "of", "to", "in", "is", "and", "for", "on", "with")

  /** Gopher-style document quality gate (Rae et al. 2021 §A1.1
    * heuristics, re-expressed relationally): per-document word count,
    * mean word length, symbol-character ratio, stopword fraction and
    * top-bigram repetition fraction, plus the combined pass/fail
    * flag. Everything except the bigram mode is a single codegen'd
    * projection; the bigram mode is one explode + two map-side
    * combinable aggregations joined back on doc_id — linear at any
    * corpus size. Ratios are raw doubles of exact integer counts so
    * any SQL engine reproduces them bit-identically.
    *
    * Output: (doc_id, n_words, mean_word_len, symbol_ratio,
    * stopword_frac, top_bigram_frac, quality_pass:int).
    */
  def qualityRules(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-doc counting runs in ONE typed kernel pass: the column-
    // expression form spent its time in interpreted higher-order
    // lambdas (aggregate/filter over the token array) and a cached
    // token table; counting in JVM code over the raw text measured
    // faster than either. Semantics identical: code-point lengths
    // (Spark length()/DuckDB len()), symbol = any char outside
    // [A-Za-z0-9 ], stopword hits with multiplicity.
    val stopSet = qualityStopwords.toSet
    val base = docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, text) =>
        if (text == null) Iterator.empty else Iterator.single {
        val ws = text.split(' ').filter(_.nonEmpty)
        var sumLen = 0
        var stop = 0
        ws.foreach { w =>
          sumLen += w.codePointCount(0, w.length)
          if (stopSet(w)) stop += 1
        }
        var sym = 0
        var nChars = 0
        var i = 0
        while (i < text.length) {
          val cp = text.codePointAt(i)
          val ok = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
            (cp >= '0' && cp <= '9') || cp == ' '
          if (!ok) sym += 1
          nChars += 1
          i += Character.charCount(cp)
        }
        (id, ws.length, sumLen, nChars, sym, stop)
      }})
      .toDF("doc_id", "n_words", "sum_word_len", "n_chars",
        "n_symbol_chars", "n_stopwords")
    // typed bigram kernel over the raw text (a second JVM split is
    // cheaper than the per-position interpreted lambda chain of a
    // transform(sequence(...)) explode over a cached token array)
    val bigrams = TextDedup.ngramRows(docs, idCol, textCol, 2)
      .withColumnRenamed("ng", "bg")
    val topBigram = bigrams.groupBy(col("doc_id"), col("bg")).count()
      .groupBy(col("doc_id")).agg(max(col("count")).as("top_bigram_n"))
    val m = base.join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"),
        (col("sum_word_len").cast("double") / col("n_words")).as("mean_word_len"),
        (col("n_symbol_chars").cast("double") / col("n_chars")).as("symbol_ratio"),
        (col("n_stopwords").cast("double") / col("n_words")).as("stopword_frac"),
        when(col("n_words") > 1,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") / (col("n_words") - 1))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
    m.withColumn("quality_pass",
      (col("n_words") >= 50 && col("n_words") <= 100000 &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") < 0.1 &&
        col("stopword_frac") > 0.02 &&
        col("top_bigram_frac") < 0.2).cast("int"))
  }

  /** Within-document repetition profile (the Gopher §A1.1 "repeated
    * n-gram" family): for each document with ≥ n words, the word
    * n-gram occurrence count, the distinct n-gram count, the
    * duplicate-occurrence fraction (total − distinct)/total, and the
    * most-repeated n-gram's count. A templated/looping document (the
    * failure mode this filter removes from training corpora) shows a
    * high dup fraction even when no OTHER document duplicates it —
    * complementary to the cross-document dedup family.
    *
    * Shape: one explode + two map-side-combinable aggregations keyed
    * by (doc_id, ngram) then doc_id — linear at any corpus size, no
    * self-joins. Fractions are raw doubles of exact integer counts.
    *
    * Output: (doc_id, n_ngrams, n_distinct, dup_frac, max_repeat).
    */
  def repetitionStats(docs: DataFrame, n: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // typed n-gram kernel: the per-position interpreted lambda chain
    // of a transform(sequence(...)) explode measured ~2× slower
    val ngrams = TextDedup.ngramRows(docs, idCol, textCol, n)
    ngrams.groupBy(col("doc_id"), col("ng")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_ngrams"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("max_repeat"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        ((col("n_ngrams") - col("n_distinct")).cast("double") / col("n_ngrams"))
          .as("dup_frac"),
        col("max_repeat"))
  }

  /** Within-document duplicate-LINE profile (the Gopher §A1.1 line
    * rules, next to [[repetitionStats]]'s n-gram family): per doc the
    * line-occurrence count, the distinct-line count, the fraction of
    * line occurrences that are duplicates, and the fraction of line
    * CHARACTERS sitting in duplicated lines (every occurrence of a
    * line that appears more than once) — the signal that catches
    * templated headers/footers and chat-log boilerplate inside one
    * document even when no other document shares it. Exact integer
    * milli (floor division) so an oracle replays bit-for-bit; empty
    * lines drop like whitespace words elsewhere.
    *
    * Shape: one explode + two map-side-combinable aggregations keyed
    * by (doc_id, line) then doc_id — linear at any corpus size.
    *
    * Output: (doc_id, n_lines, n_distinct_lines, dup_line_frac_milli,
    * dup_char_frac_milli).
    */
  def lineProfile(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(filter(split(col(textCol), "\n"), l => length(l) > 0)).as("line"))
    val perLine = lines.groupBy(col("doc_id"), col("line"))
      .agg(count(lit(1)).as("n"))
      .select(col("doc_id"), col("n"), length(col("line")).as("len"))
    perLine.groupBy(col("doc_id"))
      .agg(
        sum(col("n")).as("n_lines"),
        count(lit(1)).as("n_distinct_lines"),
        sum(col("n") * col("len")).as("total_chars"),
        sum(when(col("n") > 1, col("n") * col("len")).otherwise(0L)).as("dup_chars"))
      .select(col("doc_id"),
        col("n_lines").cast("int").as("n_lines"),
        col("n_distinct_lines").cast("int").as("n_distinct_lines"),
        expr("(n_lines - n_distinct_lines) * 1000 div n_lines")
          .as("dup_line_frac_milli"),
        expr("CASE WHEN total_chars = 0 THEN 0 " +
          "ELSE dup_chars * 1000 div total_chars END").as("dup_char_frac_milli"))
  }

  /** Model-based quality scoring: a hashing-trick linear classifier
    * (the fastText-style quality filter production corpora run after
    * rule gates — GPT-3's quality classifier regime). Words hash into
    * `weights.length` buckets via md5 (cross-engine reproducible, the
    * d43 precedent); the doc's normalized bucket histogram dots a
    * FROZEN weight vector through a sigmoid. Training happens offline
    * — applying the frozen model at corpus scale is the distributed
    * op, and it is a pure projection: built-ins end-to-end, one
    * shuffle on doc_id for the histogram, no UDF.
    *
    * `score` rounds to 6dp before the keep threshold on BOTH engines
    * (sum order across buckets differs at ulp level).
    */
  def qualityClassifier(docs: DataFrame, weights: Seq[Double], bias: Double,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val k = weights.length
    // 8 md5 hex chars = 32 hash bits: buckets stay uniform (and all
    // reachable) for any realistic weight-vector width
    require(k >= 1 && k <= (1 << 20), s"weight vector of $k buckets out of range")
    val d = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(words(col(textCol))).as("w"))
      .select(col("doc_id"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long") % k)
          .cast("int").as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
    val wExpr = element_at(array(weights.map(lit): _*), col("bucket") + 1) * col("n")
    d.groupBy("doc_id")
      .agg(sum(col("n")).cast("int").as("n_words"),
        sum(wExpr).as("dot"))
      .select(col("doc_id"), col("n_words"),
        round(lit(1.0) / (lit(1.0) + exp(-(lit(bias) + col("dot") / col("n_words")))), 6)
          .as("score"))
      .withColumn("keep", col("score") >= 0.5)
  }

  /** Character-level Shannon entropy per document — the cheap
    * compressibility proxy that catches degenerate generator output
    * (key-mash, single-char floods, base64 walls register as extreme
    * entropy in either direction) before any model-based scoring.
    * H = log2(n) − (Σ c·log2 c)/n over the per-character counts c,
    * evaluated in that algebraic form on BOTH engines so the only
    * float ops are a bounded number of log2 calls; emitted
    * micro-quantized with the keep decision made on the INTEGER
    * micro value (lowEntropy ≤ H ≤ highEntropy), so the filter flag
    * is deterministic.
    *
    * Execution shape: characters explode to (doc, char) rows and
    * collapse through two map-side-combinable hash aggregations
    * (per-(doc, char) counts, then per-doc entropy) — O(total chars),
    * alphabet-bounded intermediate, no windows, no driver math.
    *
    * Output: (doc_id, n_chars2, n_distinct, entropy_micro, keep).
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", lowEntropy: Double = 2.0,
      highEntropy: Double = 8.0): DataFrame = {
    val counts = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), "")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
    val lo = math.round(lowEntropy * 1e6)
    val hi = math.round(highEntropy * 1e6)
    counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_chars2"),
        count(lit(1)).cast("long").as("n_distinct"),
        sum(col("c") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_chars2"), col("n_distinct"),
        expr("CAST(round((log2(n_chars2) - clog / n_chars2) * 1e6) AS BIGINT)")
          .as("entropy_micro"))
      .withColumn("keep", col("entropy_micro") >= lo && col("entropy_micro") <= hi)
  }

  /** Heaps'-law vocabulary growth curve: at each checkpoint n,
    * (n_tokens, vocab) = total tokens and distinct vocabulary over
    * the first n documents in doc-id order — the corpus-planning
    * curve behind "how much more data until the vocabulary
    * saturates". V(n) rides the FIRST-OCCURRENCE trick: one
    * word-keyed aggregation computes min(doc_id) per word, then
    * every checkpoint is a conditional sum over that (vocab-sized)
    * table — never a distinct-per-prefix re-scan, so the cost is one
    * corpus pass + one vocab pass regardless of checkpoint count.
    *
    * Output: (n_docs, n_tokens, vocab), one row per checkpoint.
    */
  def vocabGrowth(docs: DataFrame, checkpoints: Seq[Long],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(checkpoints.nonEmpty, "need at least one checkpoint")
    val w = docs.select(col(idCol).cast("long").as("doc_id"),
      explode(filter(split(col(textCol), " "), x => x =!= "")).as("w"))
    val tokAggs = checkpoints.map(cp =>
      sum(when(col("doc_id") < cp, 1L).otherwise(0L)).as(s"t$cp"))
    val tokRow = w.agg(tokAggs.head, tokAggs.tail: _*)
    val firstOcc = w.groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
    val vocAggs = checkpoints.map(cp =>
      sum(when(col("first_doc") < cp, 1L).otherwise(0L)).as(s"v$cp"))
    val vocRow = firstOcc.agg(vocAggs.head, vocAggs.tail: _*)
    val stack = checkpoints.map(cp => s"${cp}L, t$cp, v$cp").mkString(", ")
    tokRow.crossJoin(vocRow)
      .selectExpr(s"stack(${checkpoints.length}, $stack) AS (n_docs, n_tokens, vocab)")
  }
}
