package graft.zarr

import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.CRC32C
import graft.operators.NdKernels

/** Zarr v3 `sharding_indexed` codec (SURVEY S6 —
  * `py/ngff_zarr/to_ngff_zarr.py:446-489,661-703`): many chunks pack
  * into one shard object. Layout: concatenated encoded inner chunks,
  * then the index — one (offset, nbytes) uint64-LE pair per inner
  * chunk position in row-major order, missing chunks 2^64−1 — and a
  * trailing crc32c of the index. Index location: end.
  *
  * Executors build whole shards from their grouped inner chunks, so a
  * shard is written exactly once by exactly one task. The codec's
  * `zarr.json` entry is written and parsed by [[ZarrArray]].
  */
object Sharding {

  val Missing: Long = -1L // 0xFFFFFFFFFFFFFFFF

  /** Assemble one shard from (innerPosition → encoded bytes); inner
    * positions are row-major indices into the chunks-per-shard grid.
    */
  def buildShard(nInner: Int, encoded: Map[Int, Array[Byte]]): Array[Byte] = {
    val payloadSize = encoded.values.map(_.length.toLong).sum
    val total = payloadSize + indexSize(nInner)
    require(total <= Int.MaxValue,
      s"shard of $total bytes exceeds the 2 GiB single-object " +
        "limit of this writer — reduce chunks_per_shard or the chunk size")
    val out = ByteBuffer.allocate(total.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    val offsets = new Array[Long](nInner)
    val sizes = new Array[Long](nInner)
    var off = 0L
    (0 until nInner).foreach { i =>
      encoded.get(i) match {
        case Some(bytes) =>
          offsets(i) = off; sizes(i) = bytes.length.toLong
          out.put(bytes); off += bytes.length
        case None =>
          offsets(i) = Missing; sizes(i) = Missing
      }
    }
    val index = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    (0 until nInner).foreach { i => index.putLong(offsets(i)); index.putLong(sizes(i)) }
    val idxArr = index.array()
    out.put(idxArr)
    val crc = new CRC32C
    crc.update(idxArr)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Byte length of a shard index (+crc32c footer). */
  def indexSize(nInner: Int): Int = nInner * 16 + 4

  /** Parse a shard: returns innerPosition → encoded bytes. Verifies
    * the index checksum, and refuses an entry whose byte range is
    * negative or leaves the payload region (a range reaching into the
    * index, or past the object, would decode as wrong voxels).
    */
  def parseShard(shard: Array[Byte], nInner: Int): Map[Int, Array[Byte]] = {
    require(shard.length >= indexSize(nInner),
      s"shard too small: ${shard.length} < ${indexSize(nInner)}")
    val idxStart = shard.length - indexSize(nInner)
    val bb = ByteBuffer.wrap(shard, idxStart, nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    val crc = new CRC32C
    crc.update(shard, idxStart, nInner * 16)
    val stored = ByteBuffer.wrap(shard, shard.length - 4, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require(crc.getValue.toInt == stored, "shard index crc32c mismatch")
    (0 until nInner).flatMap { i =>
      val off = bb.getLong()
      val len = bb.getLong()
      if (off == Missing) None
      else {
        require(off >= 0 && len >= 0 && len <= idxStart && off <= idxStart - len,
          s"shard index entry $i (offset $off, length $len) leaves the " +
            s"$idxStart-byte payload region")
        Some(i -> java.util.Arrays.copyOfRange(shard, off.toInt, (off + len).toInt))
      }
    }.toMap
  }

  /** Row-major flat index of an inner-chunk position within the
    * chunks-per-shard grid.
    */
  def innerFlatIndex(rel: Seq[Int], chunksPerShard: Seq[Int]): Int =
    rel.zip(NdKernels.strides(chunksPerShard.toArray)).map { case (p, s) => p * s }.sum

  def innerPosition(flat: Int, chunksPerShard: Seq[Int]): Seq[Int] = {
    var rem = flat
    NdKernels.strides(chunksPerShard.toArray).toSeq.map { s => val q = rem / s; rem %= s; q }
  }
}
