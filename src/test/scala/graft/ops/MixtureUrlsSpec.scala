package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mixture (temperature sampling) and Urls (canonicalization/dedup)
  * unit behavior beyond the oracle gates: the rebalancing direction
  * of τ = 0.5 (small domains gain share, large lose), rate
  * determinism, and the canonicalization table of crawl-variant
  * spellings.
  */
class MixtureUrlsSpec extends SparkSpec {

  import spark.implicits._

  test("temperature rates upweight small domains and bound p_milli at 1000") {
    // 800 docs in 'big', 200 in 'small': proportional sampling at 50%
    // would keep 400/100; temperature τ=0.5 shifts share toward small
    val df = (0 until 1000).map(i =>
      (i.toLong, if (i < 800) "big" else "small")).toDF("doc_id", "source")
    val rates = Mixture.temperatureRates(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    val (nBig, pBig) = rates("big")
    val (nSmall, pSmall) = rates("small")
    assert(nBig == 800 && nSmall == 200)
    // small domain's acceptance rate strictly exceeds the big one's,
    // and exceeds the proportional 500‰; big falls below it
    assert(pSmall > pBig)
    assert(pSmall > 500 && pBig < 500)
    assert(pSmall <= 1000)
    // no domain capped here, so Σ n_d·p_d/1000 lands on the target
    // (floor rounding only); a 9:1 split would cap the small domain
    // at 1000‰ and truncate the mass — that is the intended
    // no-oversampling behavior, not redistribution
    val mass = nBig * pBig / 1000.0 + nSmall * pSmall / 1000.0
    assert(math.abs(mass - 500.0) < 5.0, s"sampled mass $mass")
    // capped case: p_milli never exceeds 1000
    val skew = (0 until 1000).map(i =>
      (i.toLong, if (i < 990) "big" else "tiny")).toDF("doc_id", "source")
    val capped = Mixture.temperatureRates(skew).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(capped("tiny") == 1000L && capped("big") < 500L)
  }

  test("epochAllocate: caps bind, spill redistributes, budget is respected") {
    // 'big' has 4000 tokens, 'small' 250: √-flattening gives small an
    // ideal share far above a 2.0-epoch cap, so it caps at 500 tokens
    // and the leftover spills to big.
    val df = ((0 until 40).map(i => (s"b$i", "big", Seq.fill(100)("w").mkString(" "))) ++
      (0 until 10).map(i => (s"s$i", "small", Seq.fill(25)("w").mkString(" "))))
      .toDF("id", "source", "text")
    val out = Mixture.epochAllocate(df, budgetTokens = 3000L,
        capMilliEpochs = 2000L).collect()
      .map(r => r.getString(0) -> r).toMap
    val big = out("big"); val small = out("small")
    assert(big.getAs[Long]("n_tokens") == 4000L &&
      small.getAs[Long]("n_tokens") == 250L)
    // exact replay of the closed-form plan
    val wBig = math.floor(math.sqrt(4000.0) * 1e6).toLong
    val wSmall = math.floor(math.sqrt(250.0) * 1e6).toLong
    val idealSmall = 3000L * wSmall / (wBig + wSmall)
    assert(small.getAs[Long]("ideal_tokens") == idealSmall)
    assert(idealSmall > 500L && small.getAs[Boolean]("capped"))
    assert(small.getAs[Long]("alloc_tokens") == 500L) // 2.0 epochs × 250
    assert(small.getAs[Long]("epochs_milli") == 2000L)
    val idealBig = 3000L * wBig / (wBig + wSmall)
    val leftover = 3000L - idealBig - 500L
    assert(!big.getAs[Boolean]("capped"))
    assert(big.getAs[Long]("alloc_tokens") == idealBig + leftover * wBig / wBig)
    // allocation never exceeds the budget
    val total = out.values.map(_.getAs[Long]("alloc_tokens")).sum
    assert(total <= 3000L && total > 2900L)
  }

  test("epochAllocate: infeasible budget caps everything, allocates cap mass") {
    val df = (0 until 10).map(i => (s"d$i", s"src${i % 2}",
      Seq.fill(50)("w").mkString(" "))).toDF("id", "source", "text")
    // 500 tokens total; a 1.0-epoch cap cannot absorb a 5000 budget
    val out = Mixture.epochAllocate(df, budgetTokens = 5000L,
        capMilliEpochs = 1000L).collect()
    out.foreach { r =>
      assert(r.getAs[Boolean]("capped"))
      assert(r.getAs[Long]("alloc_tokens") == r.getAs[Long]("cap_tokens"))
      assert(r.getAs[Long]("epochs_milli") == 1000L)
    }
  }

  test("sampling is a pure function of the id (stable across reruns)") {
    val df = (0 until 500).map(i => (i.toLong, s"s${i % 3}")).toDF("doc_id", "source")
    def sample(d: DataFrame) =
      Mixture.sampleAtRates(d, Mixture.temperatureRates(d))
        .select("doc_id").as[Long].collect().sorted
    val a = sample(df)
    val b = sample(df.repartition(7))
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("URL canonicalization collapses the crawl-variant table") {
    val cases = Seq(
      "HTTPS://Example.COM/a?utm_source=feed&id=7" -> "https://example.com/a?id=7",
      "https://www.example.com/a?id=7" -> "https://example.com/a?id=7",
      "https://example.com:443/a#top" -> "https://example.com/a",
      "https://example.com/a/" -> "https://example.com/a",
      "http://example.com:80/b" -> "http://example.com/b",
      "https://example.com/a?id=7&utm_campaign=x" -> "https://example.com/a?id=7",
      "https://example.com/a?fbclid=abc" -> "https://example.com/a",
      // non-default port and non-tracking params survive
      "https://example.com:8443/a?q=1&r=2" -> "https://example.com:8443/a?q=1&r=2")
    val got = cases.map(_._1).toDF("url")
      .select(Urls.canonicalize(col("url"))).as[String].collect()
    got.zip(cases).foreach { case (g, (in, want)) => assert(g == want, in) }
  }

  test("urlDedup groups variants and keeps the minimum id") {
    val df = Urls.syntheticUrls((0L until 10L).toDF("doc_id"))
    val got = Urls.urlDedup(df).orderBy("canonical_url").collect()
    // ids 0..9 are pages 0 and 1, each with canonical keys {base, base?id=g}
    assert(got.length == 4)
    val byUrl = got.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byUrl("https://example.com/articles/0") == ((2L, 2L)))  // variants 2,3
    assert(byUrl("https://example.com/articles/0?id=0") == ((3L, 0L))) // 0,1,4
    assert(byUrl("https://example.com/articles/1") == ((2L, 7L)))
    assert(byUrl("https://example.com/articles/1?id=1") == ((3L, 5L)))
  }
}
