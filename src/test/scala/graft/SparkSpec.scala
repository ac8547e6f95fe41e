package graft

import java.nio.file.{Files, Path}
import java.util.{Comparator, UUID}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Temp directories owned by one suite: [[tempDir]] (and
  * [[tempFile]], through it) creates and registers each one, and
  * `afterAll` deletes every registered directory with everything
  * written under it.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** A fresh empty file `<prefix>…<suffix>` inside its own [[tempDir]]. */
  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tempDir(prefix), prefix, suffix)

  override def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.forEach { dir =>
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
}

/** Shared local session for specs: one SparkSession per suite. */
trait SparkSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = graft.zarr.SparkSessions.local(4, "graft-test")

  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` under a fresh job group; returns its result with the
    * Spark jobs and stages submitted in that group. Listener events
    * arrive in order, so once a marker job run afterwards has been
    * seen, every job and stage of `body` has been seen too.
    */
  def jobsAndStagesIn[T](body: => T): (T, Int, Int) = {
    val sc = spark.sparkContext
    val group = s"spec-${UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    def groupOf(p: java.util.Properties) =
      Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groupOf(js.properties).foreach(jobs.add)
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        groupOf(ss.properties).foreach(stages.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted by a spec")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains(marker), "the listener never saw the marker job")
      (out, jobs.asScala.count(_ == group), stages.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
