package graft.zarr

import org.apache.spark.sql.SparkSession

/** The one place a local Spark session is built: every main
  * (`Bench`, `Verify`, `Cli`, `Plans`, `Rehearse`, the tools) and the
  * test scaffolding take their session from [[local]], so a standalone
  * run uses exactly the bench's engine config.
  */
object SparkSessions {
  /** Hadoop-side key/value: route the `file` scheme through
    * [[NoChmodLocalFileSystem]].
    */
  val localFsKey: String = "fs.file.impl"
  val localFsImpl: String = classOf[NoChmodLocalFileSystem].getName

  /** (key, value) for Spark session builders (spark.hadoop. prefix). */
  val tunedLocalFs: (String, String) = (s"spark.hadoop.$localFsKey", localFsImpl)

  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, default 32. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** A `local[cpus]` session (or the active one, re-configured) with
    * the tuned local FS, one shuffle partition per core, UTC session
    * time, TIMESTAMP(NANOS) parquet read as long, no UI and WARN logs.
    */
  def local(cpus: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config(tunedLocalFs._1, tunedLocalFs._2)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
