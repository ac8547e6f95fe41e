package graft

import graft.zarr.SparkSessions

class RehearsalsSpec extends SparkSpec {

  test("SparkSessions.local: local[cpus], tuned local FS, partitions = cpus, UTC, nanosAsLong, no UI, WARN") {
    val s = SparkSessions.local(4, "graft-test")
    assert(s eq spark)
    assert(s.sparkContext.master == "local[4]")
    assert(s.sparkContext.getConf.get(SparkSessions.tunedLocalFs._1) == SparkSessions.localFsImpl)
    assert(s.sparkContext.hadoopConfiguration.get(SparkSessions.localFsKey) == SparkSessions.localFsImpl)
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
  }

  test("registry: the 18 bench keys in bench run order, medianed set and reported JSON keys") {
    assert(Rehearsals.keys == Seq(
      "i_pyramid512", "i_pyramid512_gauss", "t_dedup200k", "t_dedup200k_skew",
      "t_dedup200k_skew_collapsed", "x_ioshuffle4m", "t_crawl200k", "m_imgdedup1m",
      "t_decon200k", "i_ccl16m", "i_edt16m", "i_fill16m", "g_kcore1m", "s_ann1m",
      "t_bpe200k", "h_plate384", "s_cov1m", "i_dicom256"))
    assert(Rehearsals.all.filter(_.medianed).map(_.key) == Seq(
      "t_dedup200k_skew", "t_dedup200k_skew_collapsed", "x_ioshuffle4m", "t_crawl200k",
      "m_imgdedup1m", "s_ann1m", "h_plate384"))
    val reported = Rehearsals.all.flatMap(_.reportKeys)
    assert(reported.size == 20 && reported.distinct == reported)
    assert(Rehearsals("t_crawl200k").reportKeys ==
      Seq("t_crawl200k", "t_crawl200k_write", "t_crawl200k_read"))
  }

  test("registry: an unknown key fails and lists the known keys") {
    val e = intercept[IllegalArgumentException](Rehearsals("i_ccl"))
    assert(e.getMessage.contains("unknown rehearsal 'i_ccl'"))
    Rehearsals.keys.foreach(k => assert(e.getMessage.contains(k), k))
  }

  test("registry: i_ccl16m runs at a small side through its size override") {
    val secs = Rehearsals("i_ccl16m").run(spark, Map("SPARK_GRAFT_BENCH_CCL_SIDE" -> "512"))
    assert(secs.size == 1 && secs.head > 0)
    // the override really reaches the rehearsal: an off-grid side is refused
    val e = intercept[IllegalArgumentException](
      Rehearsals("i_ccl16m").run(spark, Map("SPARK_GRAFT_BENCH_CCL_SIDE" -> "100")))
    assert(e.getMessage.contains("side 100"))
  }
}
