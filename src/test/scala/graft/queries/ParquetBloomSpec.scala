package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The q55 write path must actually produce bloom filters (footer
  * offsets present) and the read path must push the IN probe to the
  * scan — otherwise the gate would still hash-match while the
  * data-skipping index silently doesn't exist.
  */
class ParquetBloomSpec extends SparkSpec {

  test("bloom filter offsets present in the footer; IN probe pushed to scan") {
    import spark.implicits._
    val tmp = tempDir("bloomspec").toString
    (0L until 2000L).map(i => (i, i % 97, i * 3))
      .toDF("id", "probe_key", "payload")
      .coalesce(1)
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#probe_key", "true")
      .option("parquet.bloom.filter.expected.ndv#probe_key", "100")
      // a fully dictionary-encoded chunk already answers membership
      // exactly, so parquet-mr drops the bloom; turn dictionary off
      // on the probe column to force the bloom path (the production
      // shape: blooms exist FOR dictionary-overflow cardinalities)
      .option("parquet.enable.dictionary#probe_key", "false")
      .parquet(tmp)

    // footer check via parquet-hadoop directly
    val conf = spark.sessionState.newHadoopConf()
    val dir = new org.apache.hadoop.fs.Path(tmp)
    val fs = dir.getFileSystem(conf)
    val part = fs.listStatus(dir).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byPath = (0 until cols.size()).map(cols.get)
        .map(c => c.getPath.toDotString -> c).toMap
      assert(byPath("probe_key").getBloomFilterOffset > 0,
        "probe_key must carry a bloom filter")
      assert(byPath("payload").getBloomFilterOffset <= 0,
        "payload must NOT carry one (option is per-column)")
      // the filter must actually answer probes
      val bloom = reader.readBloomFilter(byPath("probe_key"))
      assert(bloom != null)
      assert(bloom.findHash(bloom.hash(5L)), "present value must hit")
    } finally reader.close()

    // scan-level pushdown: the IN probe appears in the parquet scan
    val plan = spark.read.parquet(tmp)
      .filter(col("probe_key").isin(5L, 9L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("In(probe_key"),
      s"IN probe not pushed:\n$plan")
  }
}
