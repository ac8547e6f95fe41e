package graft

import graft.zarr.SparkSessions

/** Standalone runner for one at-scale rehearsal, by its [[Bench]] key:
  * the same [[Rehearsals]] entry, sizes and session config the bench
  * runs, in a fresh JVM with no query suite ahead of it, so a
  * tail-context reading can be told apart from a plan regression.
  *
  *   runMain graft.Rehearse <bench-key>     (e.g. i_ccl16m, t_dedup200k_skew)
  *
  * Sizes follow the bench's `SPARK_GRAFT_BENCH_*` overrides and cores
  * follow `SPARK_GRAFT_CPUS`. Prints one `{"rehearsal":key,"sec":t}`
  * JSON line (a phased key prints the phase sum); a failed invariant
  * (checksum, recall, arming) throws and exits non-zero.
  */
object Rehearse {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, s"usage: Rehearse <${Rehearsals.keys.mkString("|")}>")
    val rehearsal = Rehearsals(args(0))
    val spark = SparkSessions.local(SparkSessions.cpus, "graft-rehearse")
    val sec = try rehearsal.run(spark).sum finally spark.stop()
    println(s"""{"rehearsal":"${rehearsal.key}","sec":${BigDecimal(sec)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP)}}""")
  }
}
