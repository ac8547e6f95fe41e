package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
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
}
