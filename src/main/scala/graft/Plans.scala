package graft

import graft.zarr.SparkSessions

/** Dump `explain("formatted")` for a set of gate queries — the
  * regenerator for PLANS.md. Usage:
  *   runMain graft.Plans <sfDir> [name ...]   (default: flagship set)
  */
object Plans {
  val DefaultSet: Seq[String] = Seq(
    "q01_agg_pricing", "q03_join_topk_revenue", "q10_range_join",
    "q11_broadcast_star_join", "d42_minhash_lsh_neardup",
    "d45_embedding_neardup", "d46_simhash_banded", "s46_cosine_topk",
    "s47_ann_lsh", "t52_redact_pii",
    "q39_asof_join", "t54_contamination", "d47_dup_clusters",
    "q42_percentile_disc", "d60_url_dedup", "d61_collapsed_clusters",
    "t76_temperature_sample", "i71_scanner_volume",
    "m60_image_dhash_neardup", "t79_warc_ingest", "t81_kn_perplexity",
    "t80_html_extract", "d62_containment_neardup", "s57_ann_sq8",
    "t87_ppl_bucket_cut", "t90_unigram_encode", "t96_overlap_run",
    "t98_epoch_plan", "q52_cohort_retention",
    "q58_regional_revenue", "g03_triangles", "i74_label_components",
    "t103_multi_match", "t104_cms_estimate", "q56_k_anonymity",
    "q60_rolling_mad", "q67_partitioned_scan", "t108_ngram_novelty")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultSet
    // 8 cores pinned: PLANS.md's shuffle partition counts stay put
    val spark = SparkSessions.local(8, "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    names.foreach { n =>
      val q = byName.getOrElse(n, sys.error(s"unknown query $n"))
      println(s"===== $n =====")
      // explain goes to stdout; logs go to stderr, so redirection is clean
      q.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
