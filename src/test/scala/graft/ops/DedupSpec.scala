package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  test("exact dedup partitions the corpus: sum of copies = row count") {
    val total = docs.count()
    val agg = TextDedup.exact(docs).agg(sum("n_copies")).head.getLong(0)
    assert(agg == total)
  }

  test("exact jaccard: identical docs have jaccard 1.0, self-pairs excluded") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w v")).toDF("doc_id", "text")
    val pairs = TextDedup.exactJaccardPairs(df, k = 3).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Double]("jaccard") == 1.0)
  }

  test("minhash+LSH finds every high-jaccard pair (recall at 0.7)") {
    val exact = TextDedup.exactJaccardPairs(docs, minJaccard = 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextDedup.minHashNearDups(docs, minJaccard = 0.7)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test corpus should contain planted near-dups")
    // LSH output is verified against exact jaccard, so it can only miss
    // (banding collision failure), never add false positives
    assert(lsh.subsetOf(exact))
    assert(lsh.size >= (exact.size * 0.9).toInt, s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("salted hot-bucket LSH: identical pairs, hot bucket split across group-pair tasks") {
    import spark.implicits._
    // skewed corpus: 50% boilerplate copies (one band bucket holds
    // them ALL in every band), 50% distinct docs
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val skewed = (0L until 200L).map { i =>
      if (i < 100) (i, boiler)
      else (i, s"unique document $i with its own words ${i * 31} ${i * 17} ${i % 7}")
    }.toDF("doc_id", "text")
    val plain = TextDedup.minHashNearDups(skewed, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.minHashNearDups(skewed, minJaccard = 0.5,
        hotBucketThreshold = 20, saltGroups = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == salted, "skew path must not change the candidate/verified pair set")
    assert(plain.size == 100 * 99 / 2, "all boilerplate pairs should verify at jaccard 1.0")
    // the mechanism: the hot bucket's pair space is spread over
    // g(g+1)/2 = 10 (lo, hi) task keys instead of 1 — no single task
    // enumerates all B²/2 pairs
    val sig = TextDedup.minHashSignatures(skewed)
    val cands = TextDedup.lshCandidatesWithDecision(sig, hotBucketThreshold = 20,
      saltGroups = 4)._1
    assert(cands.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      == TextDedup.lshCandidatesWithDecision(sig)._1.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("min-band hot-pair ownership keeps the pair set exact under mixed hot/cold sharing") {
    import spark.implicits._
    // r13 skew-path change: a hot pair is emitted only from its
    // earliest shared band. This corpus makes pairs that collide in
    // hot AND cold buckets at different band indices: the variants
    // share their boilerplate prefix's shingles with the 120-doc
    // clique (those bands' buckets are HOT) while each 10-doc variant
    // group is internally identical (its own buckets stay COLD at
    // threshold 20) — the suppression must neither lose a pair whose
    // earliest shared band is cold nor double-count one shared both
    // ways. The plain path is the ground truth.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 240L).map { i =>
      if (i < 120) (i, boiler)
      else if (i < 160) (i, s"$boiler tail group ${i % 4} shared marker words here")
      else (i, s"unique document $i with its own words ${i * 31} ${i * 17} ${i % 7}")
    }.toDF("doc_id", "text")
    val plain = TextDedup.minHashNearDups(docs, minJaccard = 0.3)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = TextDedup.minHashNearDups(docs, minJaccard = 0.3,
        hotBucketThreshold = 20, saltGroups = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain, "min-band ownership changed the verified pair set")
    // candidate level too, so the verify stage can't mask a drift
    val sig = TextDedup.minHashSignatures(docs)
    val salCands = TextDedup.lshCandidatesWithDecision(sig, hotBucketThreshold = 20,
        saltGroups = 4)._1
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(salCands.length == salCands.toSet.size,
      "duplicate candidate rows escaped the distinct")
    assert(salCands.toSet == TextDedup.lshCandidatesWithDecision(sig)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      "salted candidate set diverged from the plain path")
  }

  test("auto skew mode: arms on the skewed corpus, stays plain on the flat one") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val skewed = (0L until 200L).map { i =>
      if (i < 100) (i, boiler)
      else (i, s"unique document $i with its own words ${i * 31} ${i * 17} ${i % 7}")
    }.toDF("doc_id", "text")
    // identical pair set with auto (threshold derived, salted path armed)
    val plain = TextDedup.minHashNearDups(skewed, minJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = TextDedup.minHashNearDups(skewed, minJaccard = 0.5,
        hotBucketThreshold = -1, saltGroups = 4)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == plain, "auto skew path must not change the verified pair set")
    // arming decision: on on the skewed corpus, off on the flat one.
    // (The armed result is checkpointed to free the banded cache, so
    // the salted-join plan is no longer inspectable — the operator
    // returns the decision alongside the candidates instead.)
    val (_, armedSkewed) = TextDedup.lshCandidatesWithDecision(
      TextDedup.minHashSignatures(skewed), hotBucketThreshold = -1, saltGroups = 4)
    assert(armedSkewed,
      "auto must arm the salted path on the skewed corpus")
    val (_, armedFlat) = TextDedup.lshCandidatesWithDecision(
      TextDedup.minHashSignatures(docs), hotBucketThreshold = -1)
    assert(!armedFlat,
      "auto must stay on the plain join for the flat corpus")
  }

  test("banded simhash pairs == all-pairs at the same distance (pigeonhole exactness)") {
    import spark.implicits._
    val sh = TextDedup.simHash(docs)
    val allPairs = sh.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b")),
        col("doc_a") < col("doc_b"))
      .withColumn("hamming", TextDedup.hammingDistance(col("sh_a"), col("sh_b")).cast("int"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val banded = TextDedup.simHashNearDups(docs, maxDist = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(allPairs.nonEmpty, "test corpus should contain planted near-dups")
    // band join is exact: any pair at distance <= maxDist shares a band
    assert(banded == allPairs)
  }

  test("connected components match a local union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val n = 200
    // random sparse graph + a long chain (stresses the O(log n) rounds
    // claim — label propagation would need ~60 rounds on the chain)
    val chain = (300L until 360L).sliding(2).map(s => (s(0), s(1))).toSeq
    val randomEdges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
    val edges = (randomEdges ++ chain).distinct
    val vertices = ((0L until n.toLong) ++ (300L until 360L)).toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")

    // local union-find oracle
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    val expected = vertices.as[Long].collect()
      .map(v => v -> find(v)).toMap

    val got = TextDedup.connectedComponents(pairs, vertices)
      .as[(Long, Long)].collect().toMap
    assert(got.size == expected.size)
    // same partition into components with min-id representatives
    assert(got == expected)
  }

  test("connected components on a skewed edge set (hub + chains) stay correct") {
    import spark.implicits._
    // one hub vertex touching half the graph (band-collision hot key),
    // plus disjoint chains — exercises the per-partition union-find
    // stage with very unbalanced component shapes
    val hub = (1L to 5000L).map(v => (0L, v))
    val chains = (0 until 50).flatMap { c =>
      val base = 10000L + c * 100L
      (base until base + 99L).map(v => (v, v + 1))
    }
    val pairs = (hub ++ chains).toDF("doc_a", "doc_b").repartition(16)
    val vertices = ((0L to 5000L) ++ (10000L until 15000L)).toDF("doc_id")
    val got = TextDedup.connectedComponents(pairs, vertices)
      .as[(Long, Long)].collect().toMap
    assert((0L to 5000L).forall(got(_) == 0L))
    (0 until 50).foreach { c =>
      val base = 10000L + c * 100L
      assert((base to base + 99L).forall(got(_) == base), s"chain $c")
    }
  }

  test("caller's checkpoint-backed pairs survive connectedComponents (no foreign unpersist)") {
    import spark.implicits._
    // minHashNearDups returns an eager localCheckpoint; clustering its
    // output must not free the caller's blocks — the pairs DataFrame
    // has no lineage to recompute from, so a foreign unpersist would
    // make this second action throw or silently return nothing
    val near = TextDedup.minHashNearDups(docs, minJaccard = 0.7)
    val before = near.count()
    TextDedup.connectedComponents(near, docs.select("doc_id")).count()
    assert(near.count() == before && before > 0)
  }

  test("canonicalDocs keeps exactly one max-content representative per cluster") {
    import spark.implicits._
    // three exact-dup families with different lengths + singletons
    val fam = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // same tokens as 0/1 (so it clusters) but one more CHARACTER:
      // the canonical pick keys on content size, not token identity
      (2L, "alpha beta gamma delta epsilon zeta eta theta "),
      (10L, "one two three four five six seven eight nine ten"),
      (11L, "one two three four five six seven eight nine ten"),
      (20L, "a singleton document with its own distinct words entirely"))
    val docs = fam.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextDedup.canonicalDocs(docs, maxDist = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    // cluster {0,1,2}: doc 2 has the most chars → canonical
    assert(out(0L)._2 == 2L && !out(0L)._3)
    assert(out(1L)._2 == 2L && !out(1L)._3)
    assert(out(2L)._2 == 2L && out(2L)._3)
    // cluster {10,11}: equal length → lowest id wins
    assert(out(10L)._2 == 10L && out(10L)._3)
    assert(out(11L)._2 == 10L && !out(11L)._3)
    // singleton keeps itself
    assert(out(20L)._2 == 20L && out(20L)._3)
    // exactly one keeper per cluster
    val keepers = TextDedup.canonicalDocs(docs, maxDist = 3)
      .filter(col("keep")).groupBy(col("cluster_id")).count().collect()
    assert(keepers.forall(_.getLong(1) == 1L))
  }

  test("simhash: near-identical docs land at small hamming distance") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "entirely different words compose this unrelated document here now")).toDF("doc_id", "text")
    val sh = TextDedup.simHash(df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(2L)) <= 12)
  }

  test("simhash drops token-less and null-text docs (no zero-fingerprint collisions)") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("real words here")),
      (2L, Option("")),        // empty
      (3L, Option("   ")),     // whitespace only
      (4L, Option.empty[String])) // null text
      .toDF("doc_id", "text")
    val sh = TextDedup.simHash(df).collect().map(_.getLong(0)).toSet
    assert(sh == Set(1L)) // oracle's unnest CTE produces no row for 2-4
  }

  test("dupSpans merges overlapping gram hits into maximal spans") {
    import spark.implicits._
    // doc 1 and 2 share a 10-word passage; with n=4 that is 7 gram
    // alignments, all overlapping, which must merge into ONE span of
    // exactly 10 tokens. doc 3 is clean. doc 4 is shorter than n.
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, s"unique1 prefix1 $passage suffix1 tail1"),
      (2L, s"other2 lead2 start2 $passage end2"),
      (3L, "nothing here repeats anywhere in this small corpus at all"),
      (4L, "too few")).toDF("doc_id", "text")
    val out = TextDedup.dupSpans(df, n = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 4)
    for (id <- Seq(1L, 2L)) {
      val r = out(id)
      assert(r.getAs[Long]("n_spans") == 1L, s"doc $id spans")
      assert(r.getAs[Long]("dup_tokens") == 10L, s"doc $id dup_tokens")
      assert(r.getAs[Long]("n_dup_grams") == 7L, s"doc $id dup grams")
    }
    assert(out(3L).getAs[Long]("n_spans") == 0L)
    assert(out(3L).getAs[Double]("dup_frac") == 0.0)
    assert(out(4L).getAs[Long]("n_grams") == 0L)
    assert(out(4L).getAs[Long]("dup_tokens") == 0L)
  }

  test("overlapRun: scattered hits vs one contiguous quote rank differently") {
    import spark.implicits._
    // bench holds two separate 8-gram phrases plus a long passage.
    // docA quotes 12 consecutive benchmark tokens (5 consecutive gram
    // hits → run 5 → overlap 12); docB contains the two SCATTERED
    // 8-gram phrases (2 hits each in two runs of 1 → overlap 8).
    // The bag-of-grams fraction would call docB more contaminated
    // (2 distinct hits vs docA's 5 positional ones); the run metric
    // must rank docA as the leak.
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val phraseA = "a1 a2 a3 a4 a5 a6 a7 a8"
    val phraseB = "b1 b2 b3 b4 b5 b6 b7 b8"
    val bench = Seq((100L, s"$passage filler1 $phraseA filler2 $phraseB"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"lead1 lead2 $passage tail1 tail2"),
      (2L, s"x1 $phraseA mid1 mid2 $phraseB x2"),
      (3L, "clean doc with no benchmark overlap at all whatsoever here"))
      .toDF("doc_id", "text")
    val out = TextDedup.overlapRun(corpus, bench, n = 8, flagTokens = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("max_run") == 5L)
    assert(out(1L).getAs[Long]("max_overlap_tokens") == 12L)
    assert(out(1L).getAs[Boolean]("flagged"))
    assert(out(2L).getAs[Long]("max_run") == 1L)
    assert(out(2L).getAs[Long]("max_overlap_tokens") == 8L)
    assert(!out(2L).getAs[Boolean]("flagged"))
    assert(out(2L).getAs[Long]("n_hit_grams") == 2L)
    assert(out(3L).getAs[Long]("max_run") == 0L &&
      out(3L).getAs[Long]("max_overlap_tokens") == 0L)
  }

  test("softDedupWeights: cluster mass sums to one doc, singletons keep 1e6") {
    val out = TextDedup.softDedupWeights(docs).collect()
    assert(out.length == docs.count())
    val bySize = out.groupBy(_.getAs[Long]("cluster_size"))
    assert(bySize.keySet.exists(_ > 1L), "corpus should contain near-dup clusters")
    out.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      val w = r.getAs[Long]("weight_micro")
      assert(w == 1000000L / size, s"weight must be exact floor division for size $size")
      val nt = r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("weighted_tokens_micro") == nt * 1000000L / size)
    }
    // a cluster's total weight ≈ 10⁶ (one effective doc, floor slack < size)
    out.groupBy(_.getAs[Long]("cluster_id")).foreach { case (_, rs) =>
      val total = rs.map(_.getAs[Long]("weight_micro")).sum
      assert(total <= 1000000L && total > 1000000L - rs.length,
        s"cluster weight mass $total out of envelope for size ${rs.length}")
    }
  }

  test("dupSpans catches an intra-document repeat at every alignment") {
    import spark.implicits._
    // one doc, a 5-word phrase repeated twice with a separator: the
    // phrase recurs within the SAME document, so both occurrences are
    // duplicated spans (2 spans, 10 dup tokens of 11 total).
    val df = Seq(
      (1L, "red orange yellow green blue sep red orange yellow green blue"))
      .toDF("doc_id", "text")
    val r = TextDedup.dupSpans(df, n = 5).head()
    assert(r.getAs[Long]("n_spans") == 2L)
    assert(r.getAs[Long]("dup_tokens") == 10L)
    assert(math.abs(r.getAs[Double]("dup_frac") - 10.0 / 11.0) < 1e-12)
  }

  test("dedupCut deletes the duplicated passage from BOTH documents") {
    import spark.implicits._
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val df = Seq(
      (1L, s"unique1 prefix1 $passage suffix1 tail1"),
      (2L, s"other2 lead2 start2 $passage end2"),
      (3L, "nothing  here   repeats anywhere in this small corpus at all"),
      (4L, s"$passage")).toDF("doc_id", "text")
    val out = TextDedup.dedupCut(df, n = 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[String]("clean_text") == "unique1 prefix1 suffix1 tail1")
    assert(out(1L).getAs[Long]("n_tokens_kept") == 4L)
    assert(out(2L).getAs[String]("clean_text") == "other2 lead2 start2 end2")
    // untouched doc passes through whitespace-normalized
    assert(out(3L).getAs[String]("clean_text") ==
      "nothing here repeats anywhere in this small corpus at all")
    assert(out(3L).getAs[Long]("n_tokens_kept") == out(3L).getAs[Long]("n_tokens"))
    // doc 4 IS the passage: fully duplicated, cut to empty
    assert(out(4L).getAs[String]("clean_text") == "")
    assert(out(4L).getAs[Long]("n_tokens_kept") == 0L)
  }

  test("lineDedup drops corpus-frequent lines, keeps order, handles all-boilerplate docs") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one\nCOOKIE BANNER\nunique two\nFOOTER"),
      (2L, "COOKIE BANNER\nother text\nFOOTER"),
      (3L, "COOKIE BANNER\nFOOTER"),
      (4L, "standalone line")).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(df, minDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") == 4L)
    assert(out(1L).getAs[Long]("n_kept") == 2L)
    assert(out(1L).getAs[String]("clean_text") == "unique one\nunique two")
    assert(out(2L).getAs[String]("clean_text") == "other text")
    // every line boilerplate: empty doc survives as a row
    assert(out(3L).getAs[Long]("n_kept") == 0L)
    assert(out(3L).getAs[String]("clean_text") == "")
    // a line in ONE doc only is never boilerplate
    assert(out(4L).getAs[String]("clean_text") == "standalone line")
  }

  test("lineDedup null text keeps nothing: n_kept 0, clean_text empty") {
    import spark.implicits._
    val df = Seq[(Long, String)](
      (1L, "COOKIE BANNER\nbody one"),
      (2L, "COOKIE BANNER\nbody two"),
      (3L, null)).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(df, minDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    // boxed read: a null n_kept must not unbox to a passing 0
    assert(out(3L).getAs[java.lang.Long]("n_kept") == 0L)
    assert(out(3L).getAs[String]("clean_text") == "")
    assert(out(1L).getAs[String]("clean_text") == "body one")
  }

  test("lineDedup within-doc repeats do not arm the corpus threshold") {
    import spark.implicits._
    // "SAME" appears 3 times but only in one distinct document
    val df = Seq(
      (1L, "SAME\nSAME\nSAME\nend"),
      (2L, "totally different")).toDF("doc_id", "text")
    val out = TextDedup.lineDedup(df, minDocs = 2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_kept") == 4L)
    assert(out(1L).getAs[String]("clean_text") == "SAME\nSAME\nSAME\nend")
  }
}
