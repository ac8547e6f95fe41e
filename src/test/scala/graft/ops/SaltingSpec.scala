package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SaltingSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join at runtime (the no-code skew path)") {
    import spark.implicits._
    // the no-code skew strategy: AQE detects the oversized
    // post-shuffle partition and splits it — this test pins that the
    // engine's conf surface actually triggers it
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")

      // one key carries ~99% of the left side
      val left = spark.range(200000)
        .select(
          when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 1000).as("k"),
          col("id").as("v"))
        .withColumn("pad", concat_ws("", Seq.fill(8)(md5(col("v").cast("string"))): _*))
      val right = spark.range(1000).select(col("id").as("k"), col("id").as("w"))
      val joined = left.join(right, "k")
      // drive THIS query execution (count() would plan a separate one
      // and leave this AdaptiveSparkPlan unexecuted / non-final)
      val rows = joined.queryExecution.toRdd.count()
      assert(rows == 200000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
