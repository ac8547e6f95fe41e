package graft.queries

/** Regenerates the pinned per-gate shuffle-budget table for
  * `PlanInvariantsSpec`. Run with
  * `sbt "Test/runMain graft.queries.ShuffleBudgetGen"` and paste the
  * printed rows over the `budgets` map. AQE is disabled so the
  * executed plan is a plain tree and the count is the number of
  * `ShuffleExchangeExec` nodes Catalyst actually planned — the
  * static shuffle shape, independent of runtime coalescing.
  */
object ShuffleBudgetGen {
  def main(args: Array[String]): Unit = {
    val spark = graft.zarr.SparkSessions.local(4, "graft-shuffle-budget-gen")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    graft.SparkEntry.all.sortBy(_.name).foreach { q =>
      val n = PlanInvariantsSpec.countShuffles(q.run(spark, sfDir))
      println(s"""      "${q.name}" -> $n,""")
    }
    spark.stop()
  }
}
