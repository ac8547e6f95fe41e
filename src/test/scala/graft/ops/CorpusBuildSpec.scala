package graft.ops

import graft.SparkSpec
import graft.sources.CrawlRehearsal
import org.apache.spark.sql.functions.col

/** The one-call crawl→shards facade over the rehearsal's synthetic
  * crawl: every funnel count is predictable from the plant, and the
  * shards it writes stream back in plan order.
  */
class CorpusBuildSpec extends SparkSpec {

  private def writeCrawl(n: Long): String = {
    val dir = tempDir("cbuild").toString
    CrawlRehearsal.writeCrawl(spark, dir, n, nArchives = 4)
    dir
  }

  test("funnel counts match the planted crawl structure") {
    val n = 400L
    val dir = writeCrawl(n)
    val out = tempDir("cbuild_out").toString
    val report = CorpusBuild.fromCrawl(spark,
        graft.sources.Warc.listArchives(spark, dir), out,
        nShards = 4, boilerplateMinDocs = 50, qualityGate = false)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(report("fetched") === n)
    assert(report("http_200") === n)
    // distinct URLs (no canonical collisions planted)
    assert(report("robots_and_url_dedup") === n)
    assert(report("extracted_nonempty") === n)
    assert(report("quality_gate") === n) // gate off
    // id%10==9 pages are exact copies of id-1 -> n/10 drop
    assert(report("exact_dedup_sharded") === n - n / 10)
    // the shards exist and carry exactly the final docs
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    val members = (0 until 4).flatMap { k =>
      val p = f"$out/shard-$k%05d.tar"
      if (new java.io.File(p).exists) Shards.readTarShard(p, hconf).toList else Nil
    }
    assert(members.size === (n - n / 10))
  }

  test("robots path extraction: root URLs map to '/', schemes are case-insensitive") {
    import spark.implicits._
    val got = Seq(
      "http://example.com", // no path: Disallow:/ must still see "/"
      "HTTP://EXAMPLE.COM/x", // uppercase scheme must still strip
      "https://h.test/a/b?q=1")
      .toDF("url").select(CorpusBuild.urlPath(col("url")).as("p"))
      .as[String].collect().toSeq
    assert(got === Seq("/", "/x", "/a/b?q=1"))
  }

  test("the quality gate drops stopword-free synthetic text; robots can veto all") {
    val n = 100L
    val dir = writeCrawl(n)
    val out1 = tempDir("cbuild_q").toString
    val r1 = CorpusBuild.fromCrawl(spark,
        graft.sources.Warc.listArchives(spark, dir), out1,
        nShards = 2, boilerplateMinDocs = 50, qualityGate = true)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // the rehearsal's "w12345" body has zero stopwords -> all gated out
    assert(r1("quality_gate") === 0L)
    assert(r1("exact_dedup_sharded") === 0L)

    val out2 = tempDir("cbuild_r").toString
    val r2 = CorpusBuild.fromCrawl(spark,
        graft.sources.Warc.listArchives(spark, dir), out2,
        nShards = 2, boilerplateMinDocs = 50,
        robots = Some(("User-agent: *\nDisallow: /\n", "graftbot")),
        qualityGate = false)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(r2("robots_and_url_dedup") === 0L)
    assert(r2("exact_dedup_sharded") === 0L)
  }
}
