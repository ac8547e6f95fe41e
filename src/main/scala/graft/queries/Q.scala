package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checkable query: a Spark implementation plus (optionally)
  * the equivalent ANSI SQL the driver runs in DuckDB over the same
  * parquet tables. Column names and row order must match between the
  * two sides; computed doubles are rounded on both sides so IEEE
  * summation-order differences can't flip the hash compare.
  *
  * `headline = true` marks the flagship subset — Bench times every
  * query but also reports the headline total separately, and the
  * driver smoke path (`SparkEntry.entry`) draws from it.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    headline: Boolean = false)

trait QModule {
  def queries: Seq[Q]
}

/** Table-loading helpers shared by the query modules (one definition
  * of the documents/embeddings normalization so modules can't drift).
  */
private[queries] object QTables {
  import org.apache.spark.sql.functions.col

  def docs(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "documents")

  /** embeddings normalized to (id, vec: array<double>). */
  def emb(s: SparkSession, dir: String): DataFrame =
    graft.Tables.load(s, dir, "embeddings")
      .select(col("vec_id").as("id"),
        graft.ops.Similarity.asDouble(col("embedding")).as("vec"))

  /** applicationId-keyed scratch dir for gates that write local
    * fixtures (WARC archives, tar shards, …): deleted and recreated
    * per call, so repeated bench executions reuse ONE path instead of
    * leaking a fresh createTempDirectory per run (the q53 lesson), and
    * deleted when the JVM exits.
    */
  def gateTmp(s: SparkSession, key: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(appTmp(s, s"gate_$key"))
    deleteTree(p)
    java.nio.file.Files.createDirectories(p)
  }

  /** `/tmp/graft_<name>_<applicationId>[_<dir>]` (`dir` with every
    * character outside [a-zA-Z0-9] as `_`), not created here: a
    * per-application scratch path, so concurrent runs on one host do
    * not race on overwrite and repeated runs overwrite in place. It is
    * deleted with everything under it when the JVM exits.
    */
  def appTmp(s: SparkSession, name: String, dir: String = ""): String = {
    val suffix = if (dir.isEmpty) "" else "_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    deleteAtExit(java.nio.file.Paths.get(
      s"/tmp/graft_${name}_${s.sparkContext.applicationId}$suffix")).toString
  }

  /** A fresh temp directory for a gate's local fixtures, deleted with
    * everything under it when the JVM exits: the gate DataFrames are
    * lazy and read their fixtures when an action runs, so the
    * directory must outlive the query that made it.
    */
  def scratchDir(prefix: String): java.nio.file.Path =
    deleteAtExit(java.nio.file.Files.createTempDirectory(prefix))

  /** Deletes the directories of the catalog tables `names` when the
    * JVM exits: a gate that `saveAsTable`s its fixtures returns a lazy
    * DataFrame over them, so they must outlive the query, but not pile
    * up in the warehouse one set per application. Tables outside the
    * local file system are left alone.
    */
  def tablesAtExit(s: SparkSession, names: String*): Unit = names.foreach { t =>
    val location = new java.net.URI(s.sql(s"DESCRIBE TABLE EXTENDED $t")
      .where(col("col_name") === "Location").head().getString(1))
    if (location.getScheme == "file") deleteAtExit(java.nio.file.Paths.get(location))
  }

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => atExit.forEach(p => deleteTree(p))))

  private def deleteAtExit(dir: java.nio.file.Path): java.nio.file.Path = {
    exitHook
    atExit.add(dir)
    dir
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
      finally walk.close()
    }
}
