package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** TWO-PHASE exact discrete percentiles over integer-quantized
  * values: the value AT position ceil(q·n) per group, computed
  * without ever dragging a group's whole value set through one task.
  *
  *  1. a map-side-combinable aggregation into coarse buckets
  *     (`value div bucketWidth`) + a tiny per-group window locates
  *     the bucket containing each target rank;
  *  2. a second scan keeps only rows inside located buckets
  *     (broadcast semi-filter) and runs the fine cumulative pick
  *     over at most `bucketWidth` distinct values per (group, q).
  *
  * Both phases are fully parallel; the only windowed structures are
  * the bucket table (|domain| / bucketWidth rows per group) and the
  * located-bucket interiors. Note the bucket spanning zero: `div`
  * truncates toward zero, so bucket 0 covers (−bucketWidth,
  * bucketWidth) — up to 2·bucketWidth−1 distinct values; intervals
  * stay ordered and disjoint (truncated division is monotone), so
  * results are unaffected and the fine-scan bound is 2·bucketWidth.
  * Identical results to the single-window form by construction —
  * same ranks, same cumulative order — which `PercentilesSpec`
  * fuzzes, boundary cases included.
  */
object Percentiles {

  /** Long-form result: one row per (group, q) with the exact
    * discrete percentile of `valueCol` (an integral column).
    * Output columns: (groupCol, q, value). Quantiles must be
    * representable in micro units (q·1e6 integral — ranks compute in
    * exact integer arithmetic so engines with decimal literals
    * agree at exact-multiple group counts).
    */
  def twoPhaseDiscrete(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double], bucketWidth: Int = 4096): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    require(qs.forall(q => (q * 1e6).isWhole),
      s"quantiles must be exact in micro units (q*1e6 integral), got $qs — " +
        "a q like 1/3 would silently compute the rounded micro-quantile")
    // integral values only — a silent cast of a fractional column
    // would truncate data without warning (quantize upstream, like
    // q42's cent prices)
    val vType = df.schema(valueCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(vType.typeName),
      s"$valueCol must be an integral column, got $vType (quantize first)")
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol)
    val priced = df.select(g, col(valueCol).cast("long").as("_v"))

    val wb = Window.partitionBy(g).orderBy(col("bucket"))
    val wf = Window.partitionBy(g)
    val buckets = priced
      .groupBy(g, expr(s"_v div $bucketWidth").as("bucket"))
      .agg(count(lit(1)).as("bc"))
      .withColumn("cumb", sum(col("bc")).over(wb))
      .withColumn("cnt", sum(col("bc")).over(wf))

    // one row per (group, q): the minimum bucket whose cumulative
    // count reaches rank = ceil(q·cnt), and the count BEFORE it.
    // The rank is EXACT integer arithmetic on micro-quantized q:
    // ceil(q·cnt) via double math reads ceil(0.1·60) = 7 (0.1 has no
    // binary representation, 0.1·60 → 6.000000000000001) where the
    // rational value is 6 — and a DECIMAL-arithmetic oracle (DuckDB
    // parses 0.10 as DECIMAL) computes the rational 6, so every group
    // whose count is an exact multiple of 1/q would diverge.
    val targets = buckets
      .crossJoin(qs.toDF("q"))
      .withColumn("rank",
        expr("(CAST(round(q * 1e6) AS BIGINT) * cnt + 999999) div 1000000"))
      .filter(col("cumb") >= col("rank"))
      .groupBy(g, col("q"))
      .agg(min(struct(col("bucket"), (col("cumb") - col("bc")).as("base"))).as("t"),
        max(col("rank")).as("rank"))
      .select(g, col("q"), col("t.bucket").as("bucket"),
        col("t.base").as("base"), col("rank"))

    val wq = Window.partitionBy(g, col("q")).orderBy(col("_v"))
    priced.as("f")
      .join(broadcast(targets.as("tg")),
        col(s"f.$groupCol") === col(s"tg.$groupCol") &&
          expr(s"f._v div $bucketWidth") === col("tg.bucket"))
      .groupBy(col(s"f.$groupCol").as(groupCol), col("tg.q").as("q"),
        col("f._v").as("_v"), col("tg.base").as("base"), col("tg.rank").as("rank"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cumf", col("base") + sum(col("c")).over(wq))
      .filter(col("cumf") >= col("rank"))
      .groupBy(g, col("q"))
      .agg(min(col("_v")).as("value"))
  }
}
