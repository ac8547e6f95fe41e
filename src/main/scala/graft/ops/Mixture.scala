package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Temperature-flattened mixture sampling — the standard multilingual
  * / multi-domain rebalancing step (the τ=0.5 "temperature sampling"
  * of the mBERT/XLM-R recipes): domain d gets target share
  * ∝ n_d^τ, which upweights small domains relative to proportional
  * sampling without letting any single domain dominate. Complements
  * the proportional token-budget sampler ([[BudgetSample]]) and the
  * composition report the weights come from.
  *
  * Everything is deterministic and engine-replayable:
  *  - per-domain acceptance rates derive from exact integer counts;
  *    the one irrational step (√n at τ = 0.5) is quantized to micro
  *    units BEFORE the cross-domain sum, so the total is an integer
  *    sum — immune to double summation order across partitions;
  *  - acceptance itself is the established md5 milli-bucket of the id
  *    (the [[Splits]] construction): a pure projection, so membership
  *    is reproducible from the id alone under any partitioning.
  *
  * Scale shape: one count aggregation (map-side combinable, output =
  * |domains| rows), a 2-value global total on those rows, then a
  * broadcast join of kilobyte rates back onto the corpus — the corpus
  * itself never shuffles.
  */
object Mixture {

  /** Per-domain acceptance rates at τ = 0.5: (domain, n_docs,
    * target_total, p_milli). `targetMilli` is the overall sampled
    * fraction target in millis (500 = keep ~half the corpus,
    * redistributed toward small domains).
    */
  def temperatureRates(docs: DataFrame, domainCol: String = "source",
      targetMilli: Int = 500): DataFrame = {
    require(targetMilli > 0 && targetMilli <= 1000,
      s"targetMilli must be in (0, 1000], got $targetMilli")
    val counts = docs.groupBy(col(domainCol)).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).as("total"),
      // √n quantized to micro units per domain, THEN summed: integer
      // sum, so the denominator is independent of reduce order
      sum(floor(sqrt(col("n_docs").cast("double")) * lit(1000000.0)).cast("long"))
        .as("s_micro"))
    counts.crossJoin(broadcast(tot))
      .withColumn("target_total",
        floor(col("total") * lit(targetMilli) / lit(1000.0)).cast("long"))
      .withColumn("p_milli",
        least(lit(1000L),
          floor(lit(1000.0) * col("target_total")
            * sqrt(col("n_docs").cast("double")) * lit(1000000.0)
            / col("s_micro") / col("n_docs")).cast("long")))
      .select(col(domainCol), col("n_docs"), col("target_total"), col("p_milli"))
  }

  /** Sample the corpus at per-domain rates (usually
    * [[temperatureRates]]): keep a row iff its id's milli-bucket clears
    * its domain's acceptance rate `p_milli`.
    */
  def sampleAtRates(docs: DataFrame, rates: DataFrame,
      idCol: String = "doc_id", domainCol: String = "source"): DataFrame = {
    val bucket = expr(
      s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 14), 16, 10) AS BIGINT) % 1000")
    docs.join(broadcast(rates.select(col(domainCol), col("p_milli"))), domainCol)
      .where(bucket < col("p_milli"))
      .drop("p_milli")
  }

  /** Epoch allocation under repeat caps — the data-constrained
    * scaling planner (Muennighoff et al. 2023, arXiv:2305.16264:
    * repeating data beyond ~4 epochs yields rapidly decaying returns,
    * so a budget that exceeds a source's capped capacity must spill
    * to the others): given a global token budget and a per-source
    * repeat cap, realize a temperature-flattened (τ = 0.5, over
    * TOKENS) target mixture as per-source token allocations and
    * epoch counts.
    *
    *  1. ideal_s = budget · w_s, with w_s ∝ √T_s quantized to micro
    *     units before the cross-source sum (integer denominator,
    *     reduce-order-proof — the [[temperatureRates]] discipline);
    *  2. sources whose ideal exceeds cap·T_s are CAPPED there;
    *  3. the leftover budget redistributes over the uncapped sources
    *     in ONE proportional round (again clipped at their caps) —
    *     the standard single waterfilling step, fixed at one round so
    *     the plan is closed-form replayable.
    *
    * All arithmetic is exact integers (floor divisions, micro/milli
    * units). Scale shape: one map-side-combinable token aggregation
    * (output = |sources| rows); everything after operates on that
    * kilobyte table via broadcast totals — the corpus never shuffles.
    *
    * Output per source: (source, n_tokens, w_micro, ideal_tokens,
    * cap_tokens, capped, alloc_tokens, epochs_milli).
    */
  def epochAllocate(docs: DataFrame, budgetTokens: Long,
      capMilliEpochs: Long = 4000L, domainCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(capMilliEpochs > 0, s"capMilliEpochs must be positive, got $capMilliEpochs")
    val toks = docs.groupBy(col(domainCol))
      .agg(sum(size(filter(split(col(textCol), "\\s+"), w => length(w) > 0)))
        .cast("long").as("n_tokens"))
      .withColumn("w_micro",
        floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0)).cast("long"))
      .withColumn("cap_tokens", expr(s"(n_tokens * $capMilliEpochs) div 1000"))
    val tot = toks.agg(sum(col("w_micro")).as("w_total"))
    val r1 = toks.crossJoin(broadcast(tot))
      .withColumn("ideal_tokens",
        expr(s"($budgetTokens * w_micro) div w_total"))
      .withColumn("capped", col("ideal_tokens") > col("cap_tokens"))
      .withColumn("alloc1", least(col("ideal_tokens"), col("cap_tokens")))
    // one redistribution round: leftover over the uncapped weight mass
    val spill = r1.agg(
      (lit(budgetTokens) - sum(col("alloc1"))).as("leftover"),
      sum(when(!col("capped"), col("w_micro")).otherwise(lit(0L)))
        .as("w_uncapped"))
    r1.crossJoin(broadcast(spill))
      .withColumn("alloc_tokens",
        when(col("capped") || col("w_uncapped") === 0L, col("alloc1"))
          .otherwise(least(col("cap_tokens"),
            col("alloc1") + expr("(leftover * w_micro) div w_uncapped"))))
      .withColumn("epochs_milli", expr("(alloc_tokens * 1000) div n_tokens"))
      .select(col(domainCol), col("n_tokens"), col("w_micro"),
        col("ideal_tokens"), col("cap_tokens"), col("capped"),
        col("alloc_tokens"), col("epochs_milli"))
  }
}
