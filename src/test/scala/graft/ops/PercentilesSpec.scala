package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PercentilesSpec extends SparkSpec {

  import spark.implicits._

  private def run(rows: Seq[(String, Long)], qs: Seq[Double], bw: Int) = {
    val df = rows.toDF("g", "v").repartition(3)
    val got = Percentiles.twoPhaseDiscrete(df, "g", "v", qs, bw)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val want = PercentilesSpec.windowDiscrete(df, "g", "v", qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    (got, want)
  }

  test("hand cases: boundary ranks, duplicates, single-value groups") {
    // group a: 1..10 → p50 = value at rank ceil(5)=5, p100 = 10
    // group b: all the same value
    // group c: one value
    val rows = (1L to 10L).map("a" -> _) ++
      Seq.fill(7)("b" -> 42L) ++ Seq("c" -> -3L)
    val (got, want) = run(rows, Seq(0.5, 0.9, 1.0), bw = 4)
    assert(got == want)
    assert(got(("a", 0.5)) == 5L && got(("a", 1.0)) == 10L)
    assert(got(("b", 0.9)) == 42L)
    assert(got(("c", 0.5)) == -3L)
  }

  test("exact-multiple group counts: rank is the rational ceil, not the double one") {
    // 20 values with q=0.10: rational ceil(2.0) = 2 → value 2. The
    // double form reads ceil(0.1·20 = 2.0000000000000004) = 3 → 3,
    // which diverges from any decimal-arithmetic oracle.
    val rows = (1L to 20L).map("a" -> _) ++ (1L to 60L).map("b" -> _)
    val (got, want) = run(rows, Seq(0.1, 0.9), bw = 8)
    assert(got == want)
    assert(got(("a", 0.1)) == 2L)
    assert(got(("b", 0.1)) == 6L)
    assert(got(("a", 0.9)) == 18L)
    assert(got(("b", 0.9)) == 54L)
  }

  test("fuzz: two-phase equals the window form across distributions") {
    val r = new scala.util.Random(2026)
    for (round <- 0 until 6) {
      val nGroups = 1 + r.nextInt(4)
      val rows = (0 until 500 + r.nextInt(1500)).map { _ =>
        val g = s"g${r.nextInt(nGroups)}"
        val v = r.nextInt(4) match {
          case 0 => r.nextInt(50).toLong              // heavy duplicates
          case 1 => r.nextInt(1000000).toLong          // spread
          case 2 => (r.nextInt(3) * 4096).toLong       // exactly on bucket edges
          case _ => r.nextGaussian().abs.*(10000).toLong // skewed
        }
        (g, v)
      }
      val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
      val bw = Seq(16, 256, 4096)(r.nextInt(3))
      val (got, want) = run(rows, qs, bw)
      assert(got == want, s"round $round bw=$bw")
    }
  }

  test("negative values and a bucket width larger than the domain") {
    val rows = Seq("x" -> -10L, "x" -> -5L, "x" -> 0L, "x" -> 5L, "x" -> 10L)
    val (got, want) = run(rows, Seq(0.2, 0.5, 0.8), bw = 1000000)
    assert(got == want)
    assert(got(("x", 0.2)) == -10L)
  }

  test("non-micro-exact quantiles refuse loudly instead of silently rounding") {
    val rows = Seq("x" -> 1L, "x" -> 2L, "x" -> 3L)
    val e = intercept[IllegalArgumentException](run(rows, Seq(1.0 / 3.0), bw = 16))
    assert(e.getMessage.contains("micro"))
  }
}

object PercentilesSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window

  /** Single-window reference form (serializes each group through one
    * task — the shape the two-phase algorithm replaces; kept as the
    * verification kernel).
    */
  def windowDiscrete(df: DataFrame, groupCol: String, valueCol: String,
      qs: Seq[Double]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val g = col(groupCol)
    val w = Window.partitionBy(g).orderBy(col("_v"))
    val wc = Window.partitionBy(g)
    df.select(g, col(valueCol).cast("long").as("_v"))
      .groupBy(g, col("_v")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("cnt", sum(col("c")).over(wc))
      .crossJoin(qs.toDF("q"))
      .withColumn("rank",
        expr("(CAST(round(q * 1e6) AS BIGINT) * cnt + 999999) div 1000000"))
      .filter(col("cum") >= col("rank"))
      .groupBy(g, col("q"))
      .agg(min(col("_v")).as("value"))
  }
}
