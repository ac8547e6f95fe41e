package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Exact corpus heavy hitters via a two-pass Misra–Gries sketch — the
  * boilerplate-phrase / hot-term detector a training-data pipeline
  * runs over the whole corpus, WITHOUT the full-dictionary shuffle a
  * naive `GROUP BY term` pays.
  *
  * The 100 TB shape:
  *  - **Pass 1 (shuffle-free)**: each partition streams its n-grams
  *    through a k-counter Misra–Gries summary and ships only its
  *    surviving ≤ k candidate grams plus one token-count subtotal to
  *    the driver — bounded by k · #partitions rows no matter the
  *    corpus size. A term with global frequency > n/(k+1) exceeds
  *    n_p/(k+1) in at least one partition (averaging argument), and
  *    Misra–Gries never evicts a term above its partition threshold,
  *    so the union of partition candidate sets contains EVERY global
  *    heavy hitter — recall is exact, by pigeonhole, not probabilistic.
  *  - **Pass 2 (candidate-only)**: the candidate set is broadcast as a
  *    hash set; the corpus re-streams, keeps only candidate grams, and
  *    a map-side-combinable count aggregates ≤ k · #partitions distinct
  *    keys. The final `cnt · (k+1) > n` cut makes the output exactly
  *    the true heavy hitters with their exact counts — false positives
  *    from pass 1 are counted and discarded here.
  *
  * Versus `GROUP BY gram`: the dictionary of distinct n-grams grows
  * with the corpus (trigram dictionaries at web scale are billions of
  * keys), so the naive plan shuffles the whole token stream; this plan
  * shuffles only candidates, a set bounded by the sketch size.
  */
object HeavyHitters {

  /** Misra–Gries over one iterator: at most `k` counters; admitting a
    * (k+1)-th distinct item decrements every counter and drops zeros.
    * Surviving counters under-estimate true partition frequency by at
    * most n_p/(k+1).
    */
  private[ops] def misraGries(items: Iterator[String], k: Int): mutable.HashMap[String, Long] = {
    val counters = mutable.HashMap.empty[String, Long]
    items.foreach { item =>
      counters.get(item) match {
        case Some(c) => counters.update(item, c + 1)
        case None if counters.size < k => counters.update(item, 1L)
        case None =>
          // decrement-all; amortized O(1) per item (each decrement
          // pass is paid for by the k increments that preceded it)
          val dead = mutable.ArrayBuffer.empty[String]
          counters.foreach { case (g, c) =>
            if (c == 1L) dead += g else counters.update(g, c - 1)
          }
          dead.foreach(counters.remove)
      }
    }
    counters
  }

  /** Exact heavy hitters over the corpus's word n-grams: every gram
    * with frequency strictly above n_grams/(k+1), with its exact
    * count. Tokens are the corpus-standard whitespace words; grams
    * are `n` consecutive tokens joined by one space.
    *
    * Output: (gram, cnt), ordered cnt desc then gram.
    */
  def heavyGrams(docs: DataFrame, k: Int = 800, n: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(k > 0 && n > 0, s"need positive sketch size and gram order, got k=$k n=$n")
    val spark = docs.sparkSession
    import spark.implicits._

    val texts = docs.select(col(textCol).cast("string")).as[String]
    val gramOrder = n

    // Pass 1: per-partition (MG candidates, gram subtotal). The null
    // gram carries the partition's total gram count.
    val sketched = texts.mapPartitions { it =>
      var total = 0L
      val grams = it.flatMap { t =>
        val ws = t.split(' ').filter(_.nonEmpty)
        (0 to ws.length - gramOrder).iterator.map { i =>
          total += 1
          ws.slice(i, i + gramOrder).mkString(" ")
        }
      }
      val counters = misraGries(grams, k)
      counters.keysIterator.map(g => (g, 0L)) ++ Iterator((null: String, total))
    }.collect() // ≤ (k + 1) · #partitions rows by construction

    val totalGrams = sketched.collect { case (null, t) => t }.sum
    val candidates = sketched.collect { case (g, _) if g != null => g }.toSet
    val candB = spark.sparkContext.broadcast(candidates)

    // Pass 2: exact counts of candidates only, then the exact cut.
    val counted = texts.mapPartitions { it =>
      val cand = candB.value
      it.flatMap { t =>
        val ws = t.split(' ').filter(_.nonEmpty)
        (0 to ws.length - gramOrder).iterator
          .map(i => ws.slice(i, i + gramOrder).mkString(" "))
          .filter(cand.contains)
      }
    }.toDF("gram")
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * (k + 1) > lit(totalGrams))
    counted.orderBy(col("cnt").desc, col("gram"))
  }
}
