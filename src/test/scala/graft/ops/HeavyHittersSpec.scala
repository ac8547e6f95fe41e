package graft.ops

import scala.util.Random

import graft.SparkSpec

class HeavyHittersSpec extends SparkSpec {

  test("misraGries never evicts an item above the n/(k+1) threshold") {
    val rnd = new Random(7)
    // skewed stream: 3 hot items amid a uniform tail
    val stream = Seq.fill(3000)(rnd.nextInt(500).toString) ++
      Seq.fill(400)("hot-a") ++ Seq.fill(300)("hot-b") ++ Seq.fill(200)("hot-c")
    val shuffled = rnd.shuffle(stream)
    val k = 20
    val sketch = HeavyHitters.misraGries(shuffled.iterator, k)
    assert(sketch.size <= k)
    val n = shuffled.size
    val trueCounts = shuffled.groupBy(identity).map { case (g, xs) => g -> xs.size }
    trueCounts.foreach { case (g, c) =>
      if (c.toLong * (k + 1) > n) assert(sketch.contains(g), s"lost heavy hitter $g ($c/$n)")
    }
  }

  test("heavyGrams equals the naive full-groupBy plan") {
    import spark.implicits._
    val rnd = new Random(11)
    val vocab = ('a' to 'j').map(_.toString)
    val docs = (0 until 60).map { i =>
      val boiler = if (i % 3 == 0) "x y z x y" else ""
      val body = Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text").repartition(5)

    for (k <- Seq(10, 200)) {
      val fast = HeavyHitters.heavyGrams(docs, k = k, n = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val slow = HeavyHittersSpec.heavyGramsNaive(docs, k = k, n = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(fast == slow, s"k=$k sketched != naive")
      // at k=200 the threshold drops below the planted boilerplate
      // frequency, so the repeated bigrams must surface
      assert(fast.nonEmpty || k == 10)
    }
  }

  test("heavyGrams on the sf0.001 documents table is non-degenerate") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val out = HeavyHitters.heavyGrams(docs, k = 800, n = 2).collect()
    assert(out.nonEmpty)
    // ordered by cnt desc then gram
    val pairs = out.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sliding(2).forall {
      case Array((c1, g1), (c2, g2)) => c1 > c2 || (c1 == c2 && g1 < g2)
      case _ => true
    })
  }
}

object HeavyHittersSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Reference single-pass form (the plan this operator replaces):
    * full `GROUP BY gram` then the same threshold — the reference
    * this spec proves the sketched path exact against.
    */
  def heavyGramsNaive(docs: DataFrame, k: Int, n: Int,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gramOrder = n
    val grams = docs.select(col(textCol).cast("string")).as[String]
      .flatMap { t =>
        val ws = t.split(' ').filter(_.nonEmpty)
        (0 to ws.length - gramOrder).map(i => ws.slice(i, i + gramOrder).mkString(" "))
      }.toDF("gram")
    val total = grams.count()
    grams.groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * (k + 1) > lit(total))
      .orderBy(col("cnt").desc, col("gram"))
  }
}
