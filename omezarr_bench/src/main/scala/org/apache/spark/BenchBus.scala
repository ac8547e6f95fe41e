package org.apache.spark

/** Drains Spark's asynchronous listener bus, so that every job, task and
  * query event of the run has reached the benchmark's listeners before
  * their counts are read. The bus is package-private to Spark, hence
  * this one-line accessor in Spark's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
