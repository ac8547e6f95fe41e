package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet test tables (TESTDATA.md).
  * One parquet file per table under `$dir/`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Curried convenience: `val t = Tables.t(spark, dir); t("lineitem")` */
  def t(spark: SparkSession, dir: String): String => DataFrame =
    name => load(spark, dir, name)
}
