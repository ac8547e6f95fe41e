package graft.zarr

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import scala.jdk.CollectionConverters._
import java.nio.{ByteBuffer, ByteOrder}
import graft.meta.Dtypes

/** Hadoop Configuration that survives Java serialization, so the
  * driver's `spark.hadoop.*` settings (s3a credentials, endpoints)
  * reach executor-side stores instead of being rebuilt from the bare
  * classpath defaults.
  */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

object SerializableHadoopConf {
  /** The active session's hadoop conf when on the driver, else defaults. */
  def fromActiveSession(): SerializableHadoopConf =
    new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.getActiveSession
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new Configuration()))

  private var shared: Option[(SparkContext, Map[String, String], Broadcast[SerializableHadoopConf])] =
    None

  /** The active session's Hadoop conf as a broadcast, made once per
    * distinct conf — what the OME-Zarr scan and writers ship to their
    * tasks. A task deserializes its closure or factory every time, and
    * deserializing the conf (~1000 entries, ~100 KB) would dominate a
    * small task (one tile, one well field, a few puts); a broadcast per
    * call would pile copies up on the heap. Compared by content, so a
    * changed setting (an object store credential) is broadcast anew.
    */
  def broadcast(): Broadcast[SerializableHadoopConf] = synchronized {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val entries = sc.hadoopConfiguration.asScala.map(e => e.getKey -> e.getValue).toMap
    shared match {
      case Some((c, e, b)) if (c eq sc) && e == entries => b
      case _ =>
        val b = sc.broadcast(new SerializableHadoopConf(new Configuration(sc.hadoopConfiguration)))
        shared = Some((sc, entries, b))
        b
    }
  }
}

/** Key-value Zarr store over the Hadoop FileSystem API — the same
  * code path works for `file://`, `s3a://`, `gs://`, `abfs://`
  * (SURVEY S3): executors open the store independently, so chunk I/O
  * scales with the cluster, and the driver only touches metadata keys.
  * Ship the session's `SerializableHadoopConf.broadcast()`, taken on
  * the driver, to the tasks and open the store there with its `value`:
  * object-store credentials propagate, and no task closure carries the
  * conf itself.
  */
final class ZarrStore(val root: String, hconf: Option[SerializableHadoopConf] = None)
    extends Serializable {

  @transient private lazy val fs: FileSystem = {
    val f = new Path(root).getFileSystem(
      hconf.map(_.value).getOrElse {
        // no session conf in hand — still skip the local-FS chmod fork
        val c = new Configuration()
        c.set(SparkSessions.localFsKey, SparkSessions.localFsImpl)
        c
      })
    // no .crc sidecars — they are not part of the Zarr layout
    f.setWriteChecksum(false)
    f.setVerifyChecksum(false)
    f
  }

  private def p(key: String) = if (key.isEmpty) new Path(root) else new Path(root, key)

  def exists(key: String): Boolean = fs.exists(p(key))

  /** Object length in bytes — header probes on large raw volumes cap
    * their first range read to this instead of reading blind.
    */
  def size(key: String): Long = fs.getFileStatus(p(key)).getLen

  def readBytes(key: String): Array[Byte] = {
    val in = fs.open(p(key))
    try {
      val len = fs.getFileStatus(p(key)).getLen
      require(len <= Int.MaxValue,
        s"object $key is $len bytes — beyond the 2 GiB single-buffer limit")
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** [[readBytes]], None when the object doesn't exist — ONE store
    * round-trip either way (an exists() pre-check would double the
    * metadata RPCs on the hot chunk-fetch path).
    */
  def readBytesIfExists(key: String): Option[Array[Byte]] =
    try Some(readBytes(key))
    catch { case _: java.io.FileNotFoundException => None }

  /** Positioned range read — executors pull just their slice of a
    * large object (NIfTI chunk ingest, shard interiors) instead of the
    * whole file.
    */
  def readRange(key: String, offset: Long, length: Int): Array[Byte] = {
    val in = fs.open(p(key))
    try {
      val buf = new Array[Byte](length)
      in.readFully(offset, buf)
      buf
    } finally in.close()
  }

  def writeBytes(key: String, data: Array[Byte]): Unit = {
    val out = fs.create(p(key), true)
    try out.write(data) finally out.close()
  }

  def readString(key: String): String =
    new String(readBytes(key), java.nio.charset.StandardCharsets.UTF_8)

  def writeString(key: String, s: String): Unit =
    writeBytes(key, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def delete(key: String): Unit = { fs.delete(p(key), true): Unit }

  def list(prefix: String): Seq[String] = {
    val base = p(prefix)
    if (!fs.exists(base)) Seq.empty
    else {
      val it = fs.listFiles(base, true)
      val out = Seq.newBuilder[String]
      val rootUri = fs.makeQualified(new Path(root)).toString
      while (it.hasNext) {
        val f = it.next().getPath.toString
        out += f.stripPrefix(rootUri).stripPrefix("/")
      }
      out.result()
    }
  }
}

object ZarrStore {

  /** Chunk object key for one grid position.
    * Zarr v2: indices joined by the dimension separator ('.' default,
    * '/' for nested). Zarr v3: per the array's `chunk_key_encoding` —
    * `default` prefixes `c` and joins with the configured separator
    * ('/' unless overridden); `v2` joins bare indices ('.' unless
    * overridden, scalar arrays key "0").
    */
  def chunkKey(zarrFormat: Int, arrayPath: String, idx: Seq[Int],
      separator: String = "/", v3Encoding: String = "default"): String = {
    val rel =
      if (zarrFormat == 3) {
        if (v3Encoding == "v2") (if (idx.isEmpty) "0" else idx.mkString(separator))
        else (if (idx.isEmpty) "c" else "c" + separator + idx.mkString(separator))
      } else idx.mkString(separator)
    if (arrayPath.isEmpty) rel else s"$arrayPath/$rel"
  }

  /** Number of chunks along each dim: ceil(shape/chunk). */
  def chunkGrid(shape: Seq[Long], chunks: Seq[Int]): Seq[Int] =
    shape.zip(chunks).map { case (s, c) => ((s + c - 1) / c).toInt }

  /** All grid positions, row-major (C) order. */
  def gridPositions(grid: Seq[Int]): Iterator[Seq[Int]] =
    grid.foldLeft(Iterator(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(prefix => (0 until n).iterator.map(prefix :+ _))
    }

  /** Shape of the chunk at grid position `idx` (edge chunks clip). */
  def chunkShapeAt(shape: Seq[Long], chunks: Seq[Int], idx: Seq[Int]): Seq[Int] =
    shape.lazyZip(chunks).lazyZip(idx).map { (s, c, i) =>
      math.min(c.toLong, s - i.toLong * c).toInt
    }

  /** Origin voxel offsets of the chunk at grid position `idx`. */
  def chunkOriginAt(chunks: Seq[Int], idx: Seq[Int]): Seq[Long] =
    chunks.zip(idx).map { case (c, i) => c.toLong * i }

  /** True iff grid position `idx` overlaps the array. Edge shards of
    * an array whose shape is not a multiple of the shard shape carry
    * inner slots entirely past the array boundary — those slots are
    * not chunks at all and must not become rows (their clipped extent
    * would be <= 0).
    */
  def inArrayGrid(shape: Seq[Long], chunks: Seq[Int], idx: Seq[Int]): Boolean =
    shape.lazyZip(chunks).lazyZip(idx).forall((s, c, i) => i.toLong * c < s)

  // ---- element codecs: bytes <-> doubles (C-order) ----

  /** Decode a raw (decompressed) chunk buffer into doubles. Handles
    * endianness normalization (P5) and unsigned widening; float16 is
    * decoded bit-exactly. uint64 values above 2^63 lose precision in
    * the double domain (documented in Dtypes).
    */
  def decodeToDoubles(raw: Array[Byte], dtype: String, bigEndian: Boolean = false): Array[Double] = {
    val dt = Dtypes.normalize(dtype)
    val bb = ByteBuffer.wrap(raw).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val n = raw.length / Dtypes.itemSize(dt)
    val out = new Array[Double](n)
    var i = 0
    dt match {
      case "bool" => while (i < n) { out(i) = if (bb.get() != 0) 1.0 else 0.0; i += 1 }
      case "int8" => while (i < n) { out(i) = bb.get().toDouble; i += 1 }
      case "uint8" => while (i < n) { out(i) = (bb.get() & 0xff).toDouble; i += 1 }
      case "int16" => while (i < n) { out(i) = bb.getShort().toDouble; i += 1 }
      case "uint16" => while (i < n) { out(i) = (bb.getShort() & 0xffff).toDouble; i += 1 }
      case "int32" => while (i < n) { out(i) = bb.getInt().toDouble; i += 1 }
      case "uint32" => while (i < n) { out(i) = (bb.getInt().toLong & 0xffffffffL).toDouble; i += 1 }
      case "int64" => while (i < n) { out(i) = bb.getLong().toDouble; i += 1 }
      case "uint64" => while (i < n) {
        val v = bb.getLong()
        out(i) = if (v >= 0) v.toDouble else v.toDouble + 1.8446744073709552e19
        i += 1
      }
      case "float16" => while (i < n) { out(i) = float16ToFloat(bb.getShort()).toDouble; i += 1 }
      case "float32" => while (i < n) { out(i) = bb.getFloat().toDouble; i += 1 }
      case "float64" => while (i < n) { out(i) = bb.getDouble(); i += 1 }
      case other => throw new UnsupportedOperationException(s"decode of $other to doubles")
    }
    out
  }

  /** Encode doubles back to the given dtype (little-endian), the
    * inverse of decodeToDoubles for the integer/float families.
    */
  def encodeFromDoubles(values: Array[Double], dtype: String): Array[Byte] = {
    val dt = Dtypes.normalize(dtype)
    val bb = ByteBuffer.allocate(values.length * Dtypes.itemSize(dt))
      .order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    val n = values.length
    dt match {
      case "bool" => while (i < n) { bb.put(if (values(i) != 0.0) 1.toByte else 0.toByte); i += 1 }
      case "int8" => while (i < n) { bb.put(values(i).toByte); i += 1 }
      case "uint8" => while (i < n) { bb.put((values(i).toLong & 0xff).toByte); i += 1 }
      case "int16" => while (i < n) { bb.putShort(values(i).toShort); i += 1 }
      case "uint16" => while (i < n) { bb.putShort((values(i).toLong & 0xffff).toShort); i += 1 }
      case "int32" => while (i < n) { bb.putInt(values(i).toInt); i += 1 }
      case "uint32" => while (i < n) { bb.putInt((values(i).toLong & 0xffffffffL).toInt); i += 1 }
      case "int64" | "uint64" => while (i < n) { bb.putLong(values(i).toLong); i += 1 }
      case "float16" => while (i < n) { bb.putShort(floatToFloat16(values(i).toFloat)); i += 1 }
      case "float32" => while (i < n) { bb.putFloat(values(i).toFloat); i += 1 }
      case "float64" => while (i < n) { bb.putDouble(values(i)); i += 1 }
      case other => throw new UnsupportedOperationException(s"encode of doubles to $other")
    }
    bb.array()
  }

  /** Decode complex64/128 chunks into interleaved doubles
    * [re0, im0, re1, im1, …] — the struct(re, im) mapping of
    * SURVEY §1.2 (complex values have no scalar voxel view; the
    * relational surface exposes them as two columns).
    */
  def decodeComplex(raw: Array[Byte], dtype: String, bigEndian: Boolean = false): Array[Double] = {
    val dt = Dtypes.normalize(dtype)
    require(dt == "complex64" || dt == "complex128", s"not a complex dtype: $dtype")
    val bb = ByteBuffer.wrap(raw).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val n = raw.length / (Dtypes.itemSize(dt) / 2)
    val out = new Array[Double](n)
    var i = 0
    if (dt == "complex64") while (i < n) { out(i) = bb.getFloat().toDouble; i += 1 }
    else while (i < n) { out(i) = bb.getDouble(); i += 1 }
    out
  }

  def encodeComplex(interleaved: Array[Double], dtype: String): Array[Byte] = {
    val dt = Dtypes.normalize(dtype)
    require(dt == "complex64" || dt == "complex128", s"not a complex dtype: $dtype")
    val bb = ByteBuffer.allocate(interleaved.length * (Dtypes.itemSize(dt) / 2))
      .order(ByteOrder.LITTLE_ENDIAN)
    var i = 0
    if (dt == "complex64") while (i < interleaved.length) { bb.putFloat(interleaved(i).toFloat); i += 1 }
    else while (i < interleaved.length) { bb.putDouble(interleaved(i)); i += 1 }
    bb.array()
  }

  /** IEEE 754 half-precision decode (sign/exp/mantissa manual). */
  def float16ToFloat(h: Short): Float = {
    val sign = (h >> 15) & 1
    val exp = (h >> 10) & 0x1f
    val mant = h & 0x3ff
    val f =
      if (exp == 0) math.pow(2, -14) * (mant / 1024.0)
      else if (exp == 0x1f) { if (mant == 0) Double.PositiveInfinity else Double.NaN }
      else math.pow(2, exp - 15) * (1 + mant / 1024.0)
    (if (sign == 1) -f else f).toFloat
  }

  def floatToFloat16(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val val0 = (bits & 0x7fffffff) + 0x1000 // round
    if (val0 >= 0x47800000) (sign | 0x7c00).toShort // overflow → inf
    else if (val0 >= 0x38800000) (sign | ((val0 - 0x38000000) >>> 13)).toShort
    else if (val0 < 0x33000000) sign.toShort // underflow → 0
    else {
      val v = (bits & 0x7fffffff) >>> 23
      (sign | (((bits & 0x7fffff) | 0x800000) + (0x800000 >>> (v - 102)) >>> (126 - v))).toShort
    }
  }
}
