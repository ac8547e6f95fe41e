package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The q67/q68 write paths must actually produce the pruning-friendly
  * layout: partition directories on disk, the partition predicate in
  * PartitionFilters (not a data filter), and a scan that touches ONLY
  * the matching directory's files.
  */
class PartitionedWriteSpec extends SparkSpec {

  test("partition predicate prunes directories, not rows") {
    import spark.implicits._
    val tmp = tempDir("partspec").toString
    (0L until 1000L).map(i => (i, s"p${i % 4}", i * 3))
      .toDF("id", "part", "payload")
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    // hive layout on disk
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("part=p0", "part=p1", "part=p2", "part=p3"))

    val q = spark.read.parquet(tmp).filter(col("part") === "p2")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("p2"), plan)
    assert(q.collect().length == 250)
    // file-level proof: the scan's numFiles metric must equal the
    // matching directory's file count, not the table's
    // (df.inputFiles is the PRE-pruning listing — useless here).
    // Read the metric off the SAME execution that just ran, through
    // the adaptive wrapper.
    val p2Files = new java.io.File(tmp, "part=p2")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val allFiles = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val finalPlan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scanned = finalPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numFiles").value
    }
    assert(scanned.contains(p2Files.toLong),
      s"scanned $scanned files, expected $p2Files of $allFiles")
    assert(p2Files < allFiles)
  }

  test("dynamic partition overwrite replaces only the written partition") {
    import spark.implicits._
    val tmp = tempDir("dynspec").toString
    (0L until 100L).map(i => (i, s"d${i % 2}"))
      .toDF("id", "part")
      .write.mode("overwrite").partitionBy("part").parquet(tmp)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // overwrite d1 with a SINGLE row; d0 must be untouched
      Seq((9999L, "d1")).toDF("id", "part")
        .write.mode("overwrite").partitionBy("part").parquet(tmp)
    } finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val back = spark.read.parquet(tmp)
    assert(back.filter(col("part") === "d0").count() == 50L)
    val d1 = back.filter(col("part") === "d1").collect()
    assert(d1.length == 1 && d1.head.getLong(0) == 9999L)
  }
}
