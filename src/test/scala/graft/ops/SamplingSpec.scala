package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Deterministic sampling (Sampling.scala) — the traps: quota
  * exactness, layout independence, salt sensitivity, fraction
  * determinism.
  */
class SamplingSpec extends SparkSpec {

  import spark.implicits._

  private def df(parts: Int) = spark.createDataset(
    (0L until 100L).map(i => (i, s"s${i % 4}")))
    .repartition(parts).toDF("id", "src")

  test("stratified: exact quota per stratum, small strata kept whole") {
    val out = Sampling.stratified(df(4), "src", "id", quota = 10)
    val sizes = out.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes == Map("s0" -> 10L, "s1" -> 10L, "s2" -> 10L, "s3" -> 10L))
    // a stratum smaller than the quota comes back complete
    val tiny = Sampling.stratified(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "src"), "src", "id", 10)
    assert(tiny.count() == 3)
    assert(tiny.filter(col("src") === "b").count() == 1)
  }

  test("stratified: identical sample regardless of partition layout; salt changes it") {
    def ids(parts: Int, salt: String) =
      Sampling.stratified(df(parts), "src", "id", 5, salt)
        .select("id").as[Long].collect().sorted.toSeq
    assert(ids(1, "x") == ids(13, "x"), "sample depends on partitioning")
    assert(ids(4, "x") != ids(4, "y"), "salt had no effect")
    // ranks are 1..quota within each stratum
    val ranks = Sampling.stratified(df(4), "src", "id", 5)
      .groupBy("src").agg(collect_list("sample_rank").as("rks")).collect()
    ranks.foreach(r => assert(
      r.getAs[scala.collection.Seq[Int]]("rks").sorted.toSeq == Seq(1, 2, 3, 4, 5)))
  }
}
