package omezarrbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, sum}

/** The reference job: a fixed Spark SQL aggregation over `spark.range`
  * that calls no engine code. The loop runs it after every step, so it
  * meets the same load from the host's other tenants as the steps next
  * to it; op latencies are reported as multiples of its median latency.
  * On a shared host absolute times of the same code move by up to 80%
  * with the neighbours' load, and the ratio cancels most of that.
  */
final class Reference(spark: SparkSession, cores: Int, rows: Long, tracer: Tracer) {
  val kind = "reference"
  private val groups = 64L

  /** One run of the job, timed as a `reference` op; false when its
    * result is wrong.
    */
  def run(): Boolean = {
    val res = tracer.op(kind, traced = false) {
      spark.range(0L, rows, 1L, cores).selectExpr(s"id % $groups as k", "id as v")
        .groupBy("k").agg(count("v").as("n"), sum("v").as("s")).collect()
    }
    res.length == groups && res.map(_.getLong(1)).sum == rows &&
      res.map(_.getLong(2)).sum == rows * (rows - 1) / 2
  }
}
