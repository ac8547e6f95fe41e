package graft.zarr

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import scala.jdk.CollectionConverters._

/** [[MockRemoteFileSystem]] under `countfs://bucket`, recording every
  * open, status, existence and listing call it serves, so a spec can pin
  * the store round trips a read makes. Registered via `fs.countfs.impl`.
  */
class CountingRemoteFileSystem extends MockRemoteFileSystem {
  import CountingRemoteFileSystem.record
  override def getScheme: String = "countfs"
  override def getUri: URI = URI.create("countfs://bucket")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    record("open", f); super.open(f, bufferSize)
  }
  override def getFileStatus(f: Path): FileStatus = { record("status", f); super.getFileStatus(f) }
  override def exists(f: Path): Boolean = { record("exists", f); super.exists(f) }
  override def listStatus(f: Path): Array[FileStatus] = { record("list", f); super.listStatus(f) }
}

object CountingRemoteFileSystem {
  private val calls = new ConcurrentLinkedQueue[(String, String)]()

  private def record(op: String, f: Path): Unit = calls.add(op -> f.toUri.getPath)

  /** `body`'s result and the calls served while it ran, as
    * (operation, path) pairs in order.
    */
  def callsIn[T](body: => T): (T, Seq[(String, String)]) = {
    calls.clear()
    val out = body
    (out, calls.asScala.toSeq)
  }

  /** Whether `path` is a Zarr or OME-Zarr metadata document. */
  def isMetadata(path: String): Boolean =
    Set(".zattrs", ".zarray", ".zgroup", ".zmetadata", "zarr.json")
      .contains(path.substring(path.lastIndexOf('/') + 1))
}
