package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines. At 100 TB a
  * sample must be (a) REPRODUCIBLE — independent of cluster layout,
  * partition count and run order, (b) EXACT in its per-stratum
  * quotas (a data-mixture spec says "70k from web, 20k from code",
  * not "about"), and (c) cheap. `rand()`-based sampling fails (a);
  * `df.sample` fails (b). The tool here is HASH-RANK sampling: order
  * rows by a salted md5 of their key and keep a prefix — uniform
  * conditioned only on the hash behaving pseudorandomly, and
  * replayable bit-for-bit by any engine with md5 (the t111 oracle
  * does exactly that in SQL).
  */
object Sampling {

  private def hashKey(keyCol: Column, salt: String): Column =
    md5(concat_ws("|", lit(salt), keyCol.cast("string")))

  /** Exact-quota stratified sample: the `quota` hash-smallest rows of
    * every stratum (all of a stratum when it is smaller), plus each
    * kept row's 1-based `sample_rank` within its stratum. One window
    * exchange on the stratum key — the partition-and-rank shape AQE
    * splits on skew, so a giant stratum does not serialize.
    */
  def stratified(df: DataFrame, strataCol: String, keyCol: String,
      quota: Int, salt: String = ""): DataFrame = {
    require(quota >= 1, s"quota must be >= 1, got $quota")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashKey(col(keyCol), salt), col(keyCol))
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= quota)
  }
}
