package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based cross-checks (ScalaCheck generators, fixed seed so
  * failures reproduce): each property generates a few hundred cases
  * and evaluates them in ONE Spark pass, comparing two independent
  * implementations or an algebraic invariant.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sample list from a Gen (fixed seed → same corpus
    * every run; bump `n` freely, the cost is one Spark job).
    */
  private def samples[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(42L))

  // word chars beyond ASCII letters: digits, punctuation, a non-ASCII
  // letter — everything except the space separator itself
  private val wordGen: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf(('a' to 'z') ++ ('0' to '9') ++ "._-é"))
        .map(_.mkString))

  private val textGen: Gen[String] =
    for {
      nWords <- Gen.chooseNum(0, 12)
      words <- Gen.listOfN(nWords, wordGen)
      // random separator runs: single and multiple spaces, leading +
      // trailing space noise
      seps <- Gen.listOfN(nWords + 1, Gen.chooseNum(0, 3).map(" " * _))
    } yield seps.zipAll(words, "", "").map { case (s, w) => s + w }.mkString

  test("shinglesOf kernel == the wordShingles Column expression on random texts") {
    import spark.implicits._
    val texts = samples(textGen, 300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    for (k <- Seq(2, 3, 5)) {
      val viaColumn = df.select(col("doc_id"),
          PropertySpec.wordShingles(col("text"), k).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      val viaKernel = TextDedup.shingleSets(df, "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
      assert(viaColumn.keySet == viaKernel.keySet)
      viaColumn.foreach { case (id, sh) =>
        assert(sh == viaKernel(id), s"k=$k doc $id text '${texts(id.toInt)._2}'")
      }
    }
  }

  private val urlGen: Gen[String] =
    for {
      scheme <- Gen.oneOf("http", "https", "HTTPS", "Http")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("example.com", "Sub.Example.ORG", "a-b.net")
      port <- Gen.oneOf("", ":443", ":80", ":8080")
      path <- Gen.oneOf("", "/", "/a", "/a/b", "/a/b/")
      query <- Gen.oneOf("", "?id=7", "?utm_source=x", "?utm_source=x&id=7",
        "?id=7&utm_campaign=y&q=2", "?fbclid=z", "?gclid=1&gclid=2")
      frag <- Gen.oneOf("", "#", "#top", "#a?b=1")
    } yield s"$scheme://$www$host$port$path$query$frag"

  test("URL canonicalization is idempotent and scheme/host-lowercasing") {
    import spark.implicits._
    val urls = samples(urlGen, 400).distinct.toDF("url")
    val once = urls.select(col("url"), Urls.canonicalize(col("url")).as("c1"))
    val twice = once.select(col("url"), col("c1"),
      Urls.canonicalize(col("c1")).as("c2")).collect()
    twice.foreach { r =>
      val (u, c1, c2) = (r.getString(0), r.getString(1), r.getString(2))
      assert(c1 == c2, s"not idempotent: '$u' -> '$c1' -> '$c2'")
      val hostPart = c1.substring(c1.indexOf("://") + 3)
        .takeWhile(ch => ch != '/' && ch != '?')
      assert(c1.take(c1.indexOf("://")) == c1.take(c1.indexOf("://")).toLowerCase)
      assert(hostPart == hostPart.toLowerCase, s"host not lowered in '$c1'")
      assert(!hostPart.startsWith("www."), s"www. survives in '$c1'")
      assert(!c1.contains("#"), s"fragment survives in '$c1'")
      assert(!c1.contains("utm_") && !c1.contains("fbclid") && !c1.contains("gclid"),
        s"tracking param survives in '$c1'")
    }
  }

  test("hash-split buckets stay in [0,1000) and are independent of partitioning") {
    import spark.implicits._
    val ids = samples(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2), 500)
      .distinct
    val df = ids.toDF("doc_id")
    val a = Splits.hashSplit(df).select("doc_id", "bucket_milli")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Splits.hashSplit(df.repartition(13)).select("doc_id", "bucket_milli")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a.values.forall(v => v >= 0 && v < 1000))
  }

  test("PassJoin edit-distance join has exact recall on random short strings") {
    import spark.implicits._
    val strGen = Gen.chooseNum(0, 9).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val strs = samples(strGen, 120).distinct.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("doc_id", "text")
    val d = 2
    val got = EditJoin.editJoin(df, col("text"), d = d)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val expected = (for {
      (ia, sa) <- strs; (ib, sb) <- strs
      if ia < ib && lev(sa, sb) <= d
    } yield (ia, ib)).toSet
    assert(got == expected,
      s"missing ${(expected -- got).take(5)}; extra ${(got -- expected).take(5)}")
  }

  test("HTML escape -> wrap -> extract inverts to whitespace-collapsed text") {
    // For ANY text: escaping &<>, wrapping in <p>, and extracting must
    // return the ASCII-ws-collapsed trim of the original — the
    // algebraic contract the t80 oracle leans on.
    def collapse(s: String): String =
      s.replaceAll("[ \t\n\r\f]+", " ").replaceAll("^ | $", "")
    val noisy = for {
      base <- textGen
      inject <- Gen.listOfN(3, Gen.oneOf("&", "<", ">", "&amp;-looking", "\t", "\n"))
    } yield base + inject.mkString(" ")
    samples(noisy, 400).foreach { t =>
      val esc = t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      assert(Html.extractText(s"<p>$esc</p>") === collapse(t), s"text '$t'")
    }
  }

  test("robots decisions are always witnessed by a matching rule") {
    // For random rule sets and paths: an (allow, rule) verdict must
    // cite a rule that actually matches, with no LONGER matching rule
    // of the opposite polarity — the precedence contract stated
    // operationally.
    val pathGen = for {
      segs <- Gen.listOfN(3, Gen.oneOf("a", "b", "ab", "x1"))
      tail <- Gen.oneOf("", ".pdf", "/")
    } yield "/" + segs.mkString("/") + tail
    val ruleGen = for {
      allow <- Gen.oneOf(true, false)
      p <- Gen.oneOf("/a/", "/a/b", "/*.pdf$", "/b", "/x1*", "/a/*/ab")
    } yield Robots.Rule(allow, p)
    val cases = samples(Gen.zip(Gen.listOfN(4, ruleGen), pathGen), 400)
    cases.foreach { case (rules, path) =>
      val (allowed, rule) = Robots.decide(rules, path)
      if (rule.isEmpty) {
        assert(allowed, s"default must allow: $rules $path")
        assert(!rules.exists(r => Robots.pathMatches(r.path, path)))
      } else {
        val winner = rules.find(r => r.path == rule && r.allow == allowed)
        assert(winner.isDefined, s"verdict cites no rule: $rules $path")
        assert(Robots.pathMatches(rule, path), s"winner doesn't match: $rule $path")
        rules.filter(r => Robots.pathMatches(r.path, path)).foreach { r =>
          assert(r.path.length < rule.length ||
            (r.path.length == rule.length) || r.allow == allowed,
            s"longer opposite-polarity rule ignored: $r vs $rule on $path")
        }
      }
    }
  }

  test("span corruption is a bijection: splice(target into input) == text") {
    val docGen = for {
      n <- Gen.chooseNum(1, 80)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    import spark.implicits._
    val docs = samples(docGen, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val rows = SpanCorrupt.corrupt(docs.toDF("doc_id", "text"))
      .as[(Long, String, String, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    docs.foreach { case (id, text) =>
      val (_, in, tgt, _, _, _) = rows(id)
      val spans = scala.collection.mutable.Map.empty[Int, List[String]]
      var cur = -1
      tgt.split(" ").filter(_.nonEmpty).foreach {
        case s if s.startsWith("<extra_id_") =>
          cur = s.stripPrefix("<extra_id_").stripSuffix(">").toInt
          spans(cur) = Nil
        case t => spans(cur) = spans(cur) :+ t
      }
      val rebuilt = in.split(" ").filter(_.nonEmpty).flatMap {
        case s if s.startsWith("<extra_id_") && s.endsWith(">") &&
          s.stripPrefix("<extra_id_").stripSuffix(">").forall(_.isDigit) =>
          spans(s.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        case t => Seq(t)
      }.mkString(" ")
      assert(rebuilt === text, s"doc $id")
    }
  }

  test("overlapRun matches a local longest-run reference on random corpora") {
    import spark.implicits._
    // small vocabulary + n=2 grams so overlap is common and runs form
    val smallWord = Gen.oneOf("a", "b", "c", "d", "e")
    val shortText = Gen.chooseNum(2, 14)
      .flatMap(n => Gen.listOfN(n, smallWord).map(_.mkString(" ")))
    val bench = samples(shortText, 30).zipWithIndex
      .map { case (t, i) => (1000L + i, t) }
    val corpus = samples(shortText, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val n = 2
    val benchGrams = bench.flatMap { case (_, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      ws.sliding(n).filter(_.length == n).map(_.mkString(" "))
    }.toSet
    val expected = corpus.flatMap { case (id, t) =>
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < n) None
      else {
        val hits = ws.sliding(n).map(g => benchGrams(g.mkString(" "))).toArray
        var best = 0; var cur = 0
        hits.foreach { h => if (h) { cur += 1; best = math.max(best, cur) } else cur = 0 }
        Some(id -> (hits.length.toLong, hits.count(identity).toLong, best.toLong))
      }
    }.toMap
    val got = TextDedup.overlapRun(corpus.toDF("doc_id", "text"),
        bench.toDF("doc_id", "text"), n = n, flagTokens = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit_grams"),
          r.getAs[Long]("max_run"), r.getAs[Long]("max_overlap_tokens")))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (ng, nh, run)) =>
      val (gng, gnh, grun, gspan) = got(id)
      assert((gng, gnh, grun) == ((ng, nh, run)), s"doc $id")
      assert(gspan == (if (run > 0) run + n - 1 else 0L), s"doc $id span")
    }
  }

  test("epochAllocate invariants: alloc ≤ cap, Σalloc ≤ budget, feasible budgets fill") {
    import spark.implicits._
    val corpora = Seq(
      samples(Gen.chooseNum(5, 200), 12).zipWithIndex.map { case (n, i) =>
        (s"s$i", Seq.fill(n)("w").mkString(" "))
      })
    for (docs <- corpora; budget <- Seq(100L, 500L, 2000L);
         cap <- Seq(500L, 1000L, 3000L)) {
      val total = docs.map(_._2.split(" ").length).sum.toLong
      val out = Mixture.epochAllocate(docs.toDF("source", "text"),
        budgetTokens = budget, capMilliEpochs = cap).collect()
      var sumAlloc = 0L
      out.foreach { r =>
        val alloc = r.getAs[Long]("alloc_tokens")
        val capT = r.getAs[Long]("cap_tokens")
        val nt = r.getAs[Long]("n_tokens")
        assert(alloc >= 0L && alloc <= capT, s"alloc $alloc vs cap $capT")
        assert(r.getAs[Long]("epochs_milli") == alloc * 1000 / nt)
        sumAlloc += alloc
      }
      assert(sumAlloc <= budget, s"Σalloc $sumAlloc > budget $budget")
      // comfortably feasible budgets place ≥ (1 − 1/1000·|sources|) of
      // the mass within the one spill round (floor slack only)
      if (budget * 2 <= total * cap / 1000)
        assert(sumAlloc > budget - 2L * out.length,
          s"feasible budget $budget left ${budget - sumAlloc} unplaced (cap $cap)")
    }
  }
}

object PropertySpec {
  import org.apache.spark.sql.Column
  import TextDedup.words

  /** Distinct word k-shingles ("w1 w2 w3") of `text`. Documents with
    * fewer than k words produce an empty set.
    */
  def wordShingles(text: Column, k: Int = 3): Column = {
    val ws = words(text)
    array_distinct(
      when(size(ws) >= k,
        transform(sequence(lit(0), size(ws) - k),
          i => concat_ws(" ", (0 until k).map(j => element_at(ws, (i + j + 1).cast("int"))): _*)))
        .otherwise(array().cast("array<string>")))
  }
}
