package graft.tools

import graft.zarr.SparkSessions

/** Dump the REAL pre-checkpoint plan of the salted hot-bucket LSH
  * candidate pipeline (plan-diff evidence for the skew-path work: the
  * operator's eager localCheckpoint erases the logical plan, so the
  * explain must run inside the flow — see GRAFT_LSH_EXPLAIN in
  * [[graft.ops.TextDedup.lshCandidatesWithDecision]]). The corpus is
  * the DedupSpec skew shape: a boilerplate clique big enough to trip
  * the AUTO hot-bucket threshold, plus unique filler docs.
  *
  *   GRAFT_LSH_EXPLAIN=1 sbt "runMain graft.tools.LshPlanDump" > plan.txt
  */
object LshPlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSessions.local(8, "graft-lsh-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 400L).map { i =>
      if (i < 200) (i, boiler)
      else (i, s"unique document $i with its own words ${i * 31} ${i * 17} ${i % 7}")
    }.toDF("doc_id", "text")
    val sig = graft.ops.TextDedup.minHashSignatures(docs)
    val (cands, armed) = graft.ops.TextDedup.lshCandidatesWithDecision(
      sig, hotBucketThreshold = -1, saltGroups = 8)
    System.err.println(s"armed=$armed candidate_pairs=${cands.count()}")
    spark.stop()
  }
}
