package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable

/** S10 — a read-only HDF5 subset parser covering the layout
  * libhdf5/h5py write by default, built from the public HDF5 File
  * Format Specification v2.0 (the reference routes `.hdf5` and MINC2
  * `.mnc2` through itk/itkwasm, `py/ngff_zarr/detect_cli_io_backend.py:40-47`,
  * whose HDF5ImageIO sits on the same published format).
  *
  * In scope — exactly the structures the committed fixtures and real
  * default-layout files use, everything else refuses loudly with the
  * structure name: superblocks v0–v3; v1 object headers (with
  * continuation blocks) and v2 "OHDR" headers (OCHK continuations);
  * v1 symbol-table groups (TREE / SNOD / local HEAP, multi-level),
  * new-style compact link-message groups AND dense (fractal-heap)
  * groups — FRHP with direct or indirect root, indirect blocks of
  * ANY depth, FILTERED heaps (per-direct-block pipeline), managed +
  * tiny (incl. extended-tiny) + huge heap objects (direct and
  * huge-B-tree-indirect IDs), v2 B-trees (BTHD/BTIN/BTLF) of ANY
  * depth; dataspace v1/v2; datatype v1–v3
  * classes fixed-point, float (IEEE 32/64) and fixed-length string;
  * data layouts v3 compact, contiguous and chunked (v1 chunk B-tree
  * incl. internal nodes); filter pipeline v1/v2 with deflate and
  * byte-shuffle; attribute message v1/v3 with scalar / small-array
  * values. Out of scope (loud refusals): szip/nbit/scaleoffset
  * filters, vlen and compound datatypes, external/virtual layouts.
  *
  * Scale posture: ALL parsing here touches metadata only — group
  * tables, object headers, the chunk B-tree — kilobytes read on the
  * driver through positioned range reads. Voxel payloads never
  * transit this class: [[Hdf5IO]] hands contiguous layouts to the
  * shared distributed positioned-read and fans chunked layouts out
  * as one Spark task per HDF5 chunk record.
  */
object Hdf5 {

  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF as signed

  sealed trait AttrValue
  final case class ANums(v: Seq[Double]) extends AttrValue
  final case class AStr(v: String) extends AttrValue

  sealed trait Layout
  final case class Compact(data: Array[Byte]) extends Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  /** `chunkDims` in file (C) order, without the element-size dim. */
  final case class Chunked(chunkDims: Seq[Int], btreeAddr: Long) extends Layout

  /** One filter pipeline stage: (filter id, client values). */
  final case class Filter(id: Int, clientValues: Seq[Int])

  final case class Dataset(
      path: String,
      dims: Seq[Long],        // file (C) order — slowest first
      dtype: String,          // engine dtype name; "" for non-numeric
      bigEndian: Boolean,
      typeSize: Int,
      layout: Layout,
      filters: Seq[Filter],
      attrs: Map[String, AttrValue])

  final case class Group(
      path: String,
      attrs: Map[String, AttrValue],
      groups: Map[String, Group],
      datasets: Map[String, Dataset]) {

    /** Resolve a `/`-separated path to a dataset, refusing loudly. */
    def dataset(path: String): Dataset = {
      val parts = path.split("/").filter(_.nonEmpty)
      var g = this
      parts.dropRight(1).foreach { p =>
        g = g.groups.getOrElse(p,
          fail(s"group '$p' not found under '${g.path}' (has ${g.groups.keys.toSeq.sorted.mkString(", ")})"))
      }
      g.datasets.getOrElse(parts.last,
        fail(s"dataset '${parts.last}' not found under '${g.path}'"))
    }

    def allDatasets: Seq[Dataset] =
      datasets.values.toSeq ++ groups.values.toSeq.flatMap(_.allDatasets)
  }

  /** One chunk record from the v1 chunk B-tree: offsets in file (C)
    * dim order, stored byte range, pre-filter size check via the
    * layout.
    */
  final case class ChunkRecord(offsets: Seq[Long], addr: Long, nbytes: Int, filterMask: Int)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"hdf5: $msg")

  private def bb(bytes: Array[Byte], off: Long, len: Int): ByteBuffer = {
    require(off >= 0 && off + len <= bytes.length,
      s"hdf5: range [$off, ${off + len}) outside file of ${bytes.length} bytes")
    ByteBuffer.wrap(bytes, off.toInt, len).slice().order(ByteOrder.LITTLE_ENDIAN)
  }

  /** Parse the metadata tree of an HDF5 file image. `bytes` is the
    * whole file — metadata-sized in any sane volume container; the
    * caller streams voxel payloads separately by address.
    */
  def parse(bytes: Array[Byte]): Group = {
    val magic = Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n')
    require(bytes.length >= 48 && bytes.take(8).sameElements(magic),
      "hdf5: bad signature (not an HDF5 file)")
    val sbVersion = bytes(8) & 0xff
    val rootOh = sbVersion match {
      case 0 | 1 =>
        val sb = bb(bytes, 8, 50)
        val v = sb.get() & 0xff // version
        sb.get(); sb.get(); sb.get() // freespace, root-STE, reserved
        sb.get() // shared header msg version
        val sizeOfOffsets = sb.get() & 0xff
        val sizeOfLengths = sb.get() & 0xff
        require(sizeOfOffsets == 8 && sizeOfLengths == 8,
          s"hdf5: offset/length sizes $sizeOfOffsets/$sizeOfLengths (only 8/8 supported)")
        sb.get() // reserved
        sb.getShort(); sb.getShort() // group leaf/internal k
        if (v == 1) sb.getShort() // v1: indexed-storage k + reserved
        sb.getInt() // consistency flags
        val base = sb.getLong()
        require(base == 0, s"hdf5: nonzero base address $base unsupported")
        sb.getLong(); sb.getLong(); sb.getLong() // freespace, eof, driver info
        // root group symbol table entry: name offset, object header addr
        val ste = bb(bytes, 8 + (if (v == 1) 50 else 48), 24)
        ste.getLong()
        ste.getLong()
      case 2 | 3 =>
        // v2/v3: sizes, flags, base, extension, eof, root OH address
        val sb = bb(bytes, 8, 40)
        sb.get() // version
        val so = sb.get() & 0xff; val sl = sb.get() & 0xff
        require(so == 8 && sl == 8,
          s"hdf5: offset/length sizes $so/$sl (only 8/8 supported)")
        sb.get() // consistency flags
        val base = sb.getLong()
        require(base == 0, s"hdf5: nonzero base address $base unsupported")
        sb.getLong(); sb.getLong() // extension, eof
        sb.getLong()
      case v => fail(s"superblock version $v (v0/v2/v3 supported)")
    }
    readGroup(bytes, rootOh, "/")
  }

  // ---------------------------------------------------- object headers

  /** Raw messages of a v1 object header (type, body bytes), following
    * continuation messages.
    */
  private def messages(bytes: Array[Byte], addr: Long): Seq[(Int, Array[Byte])] = {
    if (bytes.length >= addr + 4 &&
        bytes(addr.toInt) == 'O' && bytes(addr.toInt + 1) == 'H' &&
        bytes(addr.toInt + 2) == 'D' && bytes(addr.toInt + 3) == 'R')
      return messagesV2(bytes, addr)
    val head = bb(bytes, addr, 16)
    val version = head.get() & 0xff
    if (version != 1) fail(s"object header version $version at $addr (only v1/v2 supported)")
    head.get()
    val nmsgs = head.getShort() & 0xffff
    head.getInt() // ref count
    val hsize = head.getInt()
    val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    // blocks of (start, size) to scan; messages may continue (0x0010)
    var blocks = List((addr + 16, hsize.toLong))
    while (blocks.nonEmpty && out.length < nmsgs) {
      val (bstart, bsize) = blocks.head
      blocks = blocks.tail
      var p = bstart
      val bend = bstart + bsize
      while (p + 8 <= bend && out.length < nmsgs) {
        val mh = bb(bytes, p, 8)
        val mtype = mh.getShort() & 0xffff
        val msize = mh.getShort() & 0xffff
        mh.get() // flags
        val body = new Array[Byte](msize)
        System.arraycopy(bytes, (p + 8).toInt, body, 0, msize)
        if (mtype == 0x0010) { // continuation: (offset, length)
          val c = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          blocks = (c.getLong(), c.getLong()) :: blocks
        } else if (mtype != 0x0000) {
          out += ((mtype, body))
        }
        p += 8 + msize
      }
    }
    out.toSeq
  }

  /** v2 ("OHDR") object headers — the libver=latest profile. Flags
    * bits 0-1 size the chunk-0 length field; optional times (bit 5)
    * and phase-change limits (bit 4) are skipped; per-message
    * creation order (2 bytes) present when bit 2 is set.
    * Continuations are "OCHK" blocks. Checksums are trusted, not
    * verified (corruption surfaces as a loud structural error).
    */
  private def messagesV2(bytes: Array[Byte], addr: Long): Seq[(Int, Array[Byte])] = {
    val head = bb(bytes, addr, 16)
    head.getInt() // "OHDR"
    val version = head.get() & 0xff
    require(version == 2, s"hdf5: OHDR version $version at $addr")
    val flags = head.get() & 0xff
    if ((flags & 0x20) != 0) { head.getInt(); head.getInt(); head.getInt(); head.getInt() }
    if ((flags & 0x10) != 0) { head.getShort(); head.getShort() }
    val sizeBytes = 1 << (flags & 3)
    val chunk0 = sizeBytes match {
      case 1 => bb(bytes, addr + head.position(), 1).get() & 0xffL
      case 2 => bb(bytes, addr + head.position(), 2).getShort() & 0xffffL
      case 4 => bb(bytes, addr + head.position(), 4).getInt() & 0xffffffffL
      case _ => bb(bytes, addr + head.position(), 8).getLong()
    }
    val msgStart = addr + head.position() + sizeBytes
    val withOrder = (flags & 4) != 0
    val out = mutable.ArrayBuffer.empty[(Int, Array[Byte])]
    var blocks = List((msgStart, chunk0))
    val headerLen = if (withOrder) 6 else 4
    while (blocks.nonEmpty) {
      val (bstart, bsize) = blocks.head
      blocks = blocks.tail
      var p = bstart
      val bend = bstart + bsize
      while (p + headerLen <= bend) {
        val mh = bb(bytes, p, headerLen)
        val mtype = mh.get() & 0xff
        val msize = mh.getShort() & 0xffff
        mh.get() // flags
        if (withOrder) mh.getShort()
        val body = new Array[Byte](msize)
        System.arraycopy(bytes, (p + headerLen).toInt, body, 0, msize)
        if (mtype == 0x0010) {
          // v2 continuation points at an "OCHK" block: sig + messages + checksum
          val c = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
          val coff = c.getLong(); val clen = c.getLong()
          val sig = new String(bytes, coff.toInt, 4, "US-ASCII")
          require(sig == "OCHK", s"hdf5: bad continuation signature '$sig'")
          blocks = (coff + 4, clen - 8) :: blocks // minus sig and checksum
        } else if (mtype != 0x0000) {
          out += ((mtype, body))
        }
        p += headerLen + msize
      }
    }
    out.toSeq
  }

  private def readGroup(bytes: Array[Byte], ohAddr: Long, path: String): Group = {
    val msgs = messages(bytes, ohAddr)
    val attrs = parseAttrs(msgs)
    val children: Seq[(String, Long)] =
      if (msgs.exists(_._1 == 0x0011)) {
        val st = msgs.find(_._1 == 0x0011).get._2
        val stb = ByteBuffer.wrap(st).order(ByteOrder.LITTLE_ENDIAN)
        groupEntries(bytes, stb.getLong(), stb.getLong())
      } else if (msgs.exists(m => m._1 == 0x0002 || m._1 == 0x0006)) {
        // new-style group: compact storage keeps links inline as
        // 0x0006 messages; a defined fractal heap means DENSE storage
        // (what libhdf5 switches to past 8 links) — enumerate it
        val dense = msgs.find(_._1 == 0x0002).toSeq.flatMap { li =>
          val b = ByteBuffer.wrap(li._2).order(ByteOrder.LITTLE_ENDIAN)
          require((b.get() & 0xff) == 0, s"hdf5: link info version != 0 at $path")
          val flags = b.get() & 0xff
          if ((flags & 1) != 0) b.getLong() // max creation index
          val fheap = b.getLong()
          val nameBtree = b.getLong()
          if (fheap == Undef) Nil else denseLinks(bytes, fheap, nameBtree, path)
        }
        dense ++ msgs.filter(_._1 == 0x0006).map(m => parseLink(m._2, path))
      } else
        fail(s"object at $path has neither a symbol table nor link messages — unsupported object type")
    val groups = mutable.LinkedHashMap.empty[String, Group]
    val datasets = mutable.LinkedHashMap.empty[String, Dataset]
    children.foreach { case (name, childOh) =>
      val childMsgs = messages(bytes, childOh)
      if (childMsgs.exists(_._1 == 0x0001))
        datasets(name) = parseDataset(childMsgs, s"$path$name")
      else
        groups(name) = readGroup(bytes, childOh, s"$path$name/")
    }
    Group(path, attrs, groups.toMap, datasets.toMap)
  }

  // ------------------------------------------------- dense link storage

  private def sig4(bytes: Array[Byte], addr: Long): String =
    new String(bytes, addr.toInt, 4, "US-ASCII")

  /** Dense group links (File Format Spec III.A.2 + III.F + III.G):
    * the Link Info message points at a fractal heap holding the link
    * message bodies and a name-index v2 B-tree of heap IDs. The
    * reader enumerates every B-tree record (name hashes are not
    * re-verified — same trust posture as v2 object-header checksums),
    * resolves managed heap IDs through the heap's doubling table, and
    * parses the stored link message. Scope: managed + tiny (normal
    * AND extended-tiny) + huge objects (direct IDs, and indirect IDs
    * resolved through the heap's huge-object v2 B-tree, record types
    * 1/2 — libhdf5 emits these for link bodies past the max managed
    * object size, e.g. very long names); FILTERED heaps (the header's
    * I/O-filter pipeline applied per direct block and per huge
    * object); indirect blocks of ANY depth (child indirect-block row
    * counts from the doubling-table identity nrows =
    * log2(cover) − log2(start·width) + 1).
    */
  private def denseLinks(bytes: Array[Byte], fheapAddr: Long, btreeAddr: Long,
      path: String): Seq[(String, Long)] = {
    require(sig4(bytes, fheapAddr) == "FRHP",
      s"hdf5: fractal heap at $fheapAddr has signature '${sig4(bytes, fheapAddr)}'")
    val h = bb(bytes, fheapAddr + 4, 138)
    require((h.get() & 0xff) == 0, s"hdf5: fractal heap version != 0 at $path")
    val heapIdLen = h.getShort() & 0xffff
    val filterLen = h.getShort() & 0xffff
    h.get() // flags (checksummed direct blocks don't change addressing)
    h.getInt() // max managed object size
    h.getLong() // next huge object ID
    val hugeBtreeAddr = h.getLong() // huge-object v2 B-tree (Undef if none)
    (0 until 10).foreach(_ => h.getLong()) // free/managed/huge/tiny statistics
    val tableWidth = h.getShort() & 0xffff
    val startBlockSize = h.getLong()
    val maxDirectSize = h.getLong()
    val maxHeapBits = h.getShort() & 0xffff
    h.getShort() // starting rows in root indirect block
    val rootBlockAddr = h.getLong()
    val curRowsRoot = h.getShort() & 0xffff
    val offsetSize = (maxHeapBits + 7) / 8
    // managed-ID length field width; only meaningful when a managed ID
    // is decoded (enforced there — an extended-tiny-only heap can have
    // heapIdLen > 1 + offsetSize + 8 without ever using managed IDs)
    val idLenSize = heapIdLen - 1 - offsetSize
    // filtered heap: the fixed header continues with (only when the
    // root is a DIRECT block) its stored size + filter mask, then the
    // I/O filter pipeline message body
    val (rootStoredSize, rootFilterMask, heapFilters) =
      if (filterLen == 0) (startBlockSize, 0, Seq.empty[Filter])
      else {
        val ext = bb(bytes, fheapAddr + 4 + 138,
          (if (curRowsRoot == 0) 12 else 0) + filterLen)
        val (sz, mk) =
          if (curRowsRoot == 0) (ext.getLong(), ext.getInt())
          else (0L, 0)
        val info = new Array[Byte](filterLen)
        ext.get(info)
        (sz, mk, parseFilters((0x000B, info), path))
      }

    def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
    val maxDirectRows = log2(maxDirectSize) - log2(startBlockSize) + 2
    def rowSize(k: Int): Long =
      if (k < 2) startBlockSize else startBlockSize << (k - 1)

    // every direct block materialized (defiltered when the heap has a
    // pipeline): (heap-space offset, cover size, block bytes) — link
    // heaps are metadata-scale, copies are fine
    val blocks = mutable.ArrayBuffer.empty[(Long, Long, Array[Byte])]
    def addDirect(addr: Long, heapOff: Long, size: Long,
        storedSize: Long, mask: Int): Unit = {
      // copyOfRange zero-pads past EOF — a truncated file must refuse
      // loudly instead of yielding silently zeroed link bytes
      val data =
        if (heapFilters.isEmpty) {
          require(addr + size <= bytes.length,
            s"hdf5: direct block at $addr+$size overruns the file at $path")
          java.util.Arrays.copyOfRange(bytes, addr.toInt, (addr + size).toInt)
        } else {
          require(addr + storedSize <= bytes.length,
            s"hdf5: filtered direct block at $addr+$storedSize overruns the file at $path")
          val raw = java.util.Arrays.copyOfRange(bytes, addr.toInt,
            (addr + storedSize).toInt)
          val d = defilter(raw, heapFilters, mask)
          require(d.length == size.toInt,
            s"hdf5: defiltered direct block is ${d.length} bytes, cover $size at $path")
          d
        }
      require(new String(data, 0, 4, "US-ASCII") == "FHDB",
        s"hdf5: direct block at $addr missing FHDB (after defilter) at $path")
      blocks += ((heapOff, size, data))
    }
    def walkIndirect(addr: Long, baseOff: Long, nrows: Int): Unit = {
      require(sig4(bytes, addr) == "FHIB",
        s"hdf5: indirect block at $addr missing FHIB at $path")
      val dirEntry = 8 + (if (heapFilters.nonEmpty) 12 else 0)
      val nDir = math.min(nrows, maxDirectRows) * tableWidth
      val nInd = math.max(0, nrows - maxDirectRows) * tableWidth
      val ib = bb(bytes, addr + 4,
        1 + 8 + offsetSize + nDir * dirEntry + nInd * 8 + 4)
      require((ib.get() & 0xff) == 0,
        s"hdf5: indirect block version != 0 at $path")
      ib.getLong() // heap header address
      (0 until offsetSize).foreach(_ => ib.get()) // block offset
      var heapOff = baseOff
      var row = 0
      while (row < nrows) {
        val rs = rowSize(row)
        var col = 0
        while (col < tableWidth) {
          if (row < maxDirectRows) {
            val a = ib.getLong()
            val (ssz, mk) =
              if (heapFilters.nonEmpty) (ib.getLong(), ib.getInt()) else (rs, 0)
            if (a != Undef) addDirect(a, heapOff, rs, ssz, mk)
          } else {
            // child indirect block covering rs bytes of heap space
            val a = ib.getLong()
            if (a != Undef) {
              val childRows = log2(rs) - log2(startBlockSize * tableWidth) + 1
              walkIndirect(a, heapOff, childRows)
            }
          }
          heapOff += rs
          col += 1
        }
        row += 1
      }
    }
    // an all-tiny (or all-huge) heap has no managed blocks at all
    if (rootBlockAddr != Undef) {
      if (curRowsRoot == 0)
        addDirect(rootBlockAddr, 0L, startBlockSize, rootStoredSize, rootFilterMask)
      else walkIndirect(rootBlockAddr, 0L, curRowsRoot)
    }

    // huge objects resolve through the heap's own v2 B-tree; parse it
    // lazily so the common all-managed heap never touches the field
    lazy val huge: Map[Long, (Long, Long, Int, Long)] = {
      require(hugeBtreeAddr != Undef,
        s"hdf5: huge heap ID with no huge-object B-tree at $path")
      hugeObjects(bytes, hugeBtreeAddr, path)
    }
    def sliceHuge(addr: Long, storedLen: Long, mask: Int, memLen: Long): Array[Byte] = {
      require(addr + storedLen <= bytes.length,
        s"hdf5: huge object at $addr+$storedLen overruns the file at $path")
      val raw = java.util.Arrays.copyOfRange(bytes, addr.toInt,
        (addr + storedLen).toInt)
      if (heapFilters.isEmpty) raw
      else {
        val d = defilter(raw, heapFilters, mask)
        require(d.length == memLen.toInt,
          s"hdf5: defiltered huge object is ${d.length} bytes, expected $memLen at $path")
        d
      }
    }
    def readObject(id: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.wrap(id).order(ByteOrder.LITTLE_ENDIAN)
      val vt = b.get() & 0xff
      (vt >> 4) & 0x3 match {
        case 0 => // managed: heap-space offset + length into a direct block
          require(idLenSize >= 1 && idLenSize <= 8,
            s"hdf5: fractal heap managed-ID layout $heapIdLen/$offsetSize at $path")
          var off = 0L
          (0 until offsetSize).foreach(i => off |= (b.get() & 0xffL) << (8 * i))
          var len = 0L
          (0 until idLenSize).foreach(i => len |= (b.get() & 0xffL) << (8 * i))
          val blk = blocks.find(bl => off >= bl._1 && off < bl._1 + bl._2)
            .getOrElse(fail(s"hdf5: heap offset $off outside direct blocks at $path"))
          // the object must sit inside its block's cover — copyOfRange
          // past the end would fabricate zeroed link bytes
          require(off - blk._1 + len <= blk._2 && off - blk._1 + len <= blk._3.length,
            s"hdf5: managed object at $off+$len overruns its direct block at $path")
          java.util.Arrays.copyOfRange(blk._3, (off - blk._1).toInt,
            (off - blk._1 + len).toInt)
        case 1 => // huge: ID is large enough for direct addressing, or
          // keys the heap's huge-object v2 B-tree
          val directLen = 1 + 8 + 8 + (if (heapFilters.nonEmpty) 4 + 8 else 0)
          if (heapIdLen >= directLen) {
            val addr = b.getLong()
            val storedLen = b.getLong()
            val (mask, memLen) =
              if (heapFilters.nonEmpty) (b.getInt(), b.getLong())
              else (0, storedLen)
            sliceHuge(addr, storedLen, mask, memLen)
          } else {
            var hid = 0L
            (0 until math.min(8, heapIdLen - 1))
              .foreach(i => hid |= (b.get() & 0xffL) << (8 * i))
            val (addr, storedLen, mask, memLen) = huge.getOrElse(hid,
              fail(s"hdf5: huge object id $hid not in the huge B-tree at $path"))
            sliceHuge(addr, storedLen, mask, memLen)
          }
        case 2 => // tiny: the object IS the ID payload; normal IDs carry
          // the length in byte 0's low nibble, extended-tiny IDs
          // (heap ID length > 18) add a second length byte (12 bits)
          val (len, start) =
            if (heapIdLen <= 18) ((vt & 0x0f) + 1, 1)
            else (((vt & 0x0f) | ((b.get() & 0xff) << 4)) + 1, 2)
          require(start + len <= id.length,
            s"hdf5: tiny heap object overruns its $heapIdLen-byte ID at $path")
          java.util.Arrays.copyOfRange(id, start, start + len)
        case t =>
          fail(s"hdf5: reserved fractal-heap ID type $t at $path")
      }
    }

    v2BtreeHeapIds(bytes, btreeAddr, heapIdLen, path)
      .map(id => parseLink(readObject(id), path))
      .sortBy(_._1)
  }

  /** Raw records from every node of a v2 B-tree (BTHD/BTIN/BTLF), at
    * ANY depth. Child-pointer field widths follow libhdf5's header
    * math (H5B2hdr): the per-child record-count field is sized for
    * the most records any node can hold (a leaf), and pointers to
    * internal children additionally carry a total-subtree count sized
    * from the cumulative per-depth capacity
    *   maxRec(u)  = (nodeSize − 10 − ptr(u)) / (recordSize + ptr(u))
    *   ptr(u)     = 8 + enc(maxLeafRec) + enc(cumMax(u−1)), leaf enc = 0
    *   cumMax(u)  = (maxRec(u) + 1)·cumMax(u−1) + maxRec(u)
    * Returns (record type, records).
    */
  private def v2BtreeRecords(bytes: Array[Byte], btreeAddr: Long,
      path: String): (Int, Seq[Array[Byte]]) = {
    require(sig4(bytes, btreeAddr) == "BTHD",
      s"hdf5: v2 B-tree at $btreeAddr has signature '${sig4(bytes, btreeAddr)}'")
    val h = bb(bytes, btreeAddr + 4, 30)
    require((h.get() & 0xff) == 0, s"hdf5: v2 B-tree version != 0 at $path")
    val btype = h.get() & 0xff
    val nodeSize = h.getInt()
    val recordSize = h.getShort() & 0xffff
    val depth = h.getShort() & 0xffff
    h.get(); h.get() // split/merge percents
    val rootAddr = h.getLong()
    val nrecRoot = h.getShort() & 0xffff

    // bytes to encode values up to `limit` (H5VM_limit_enc_size)
    def encSize(limit: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(limit, 1L))) / 8 + 1
    val maxLeafRecs = (nodeSize - 10) / recordSize
    val nrecFieldSize = encSize(maxLeafRecs.toLong)
    // per-depth child-pointer widths: totNrec field is absent for
    // pointers to leaves (enc of cumMax(0) is special-cased to 0)
    val cumMax = new Array[Long](depth + 1)
    val totFieldSize = new Array[Int](depth + 1)
    cumMax(0) = maxLeafRecs.toLong
    totFieldSize(0) = 0
    var u = 1
    while (u <= depth) {
      val ptr = 8 + nrecFieldSize + totFieldSize(u - 1)
      val maxRec = (nodeSize - 10 - ptr) / (recordSize + ptr)
      cumMax(u) = (maxRec.toLong + 1) * cumMax(u - 1) + maxRec
      totFieldSize(u) = encSize(cumMax(u))
      u += 1
    }

    def recOf(recAddr: Long): Array[Byte] = {
      require(recAddr + recordSize <= bytes.length,
        s"hdf5: v2 B-tree record at $recAddr overruns the file at $path")
      java.util.Arrays.copyOfRange(bytes, recAddr.toInt,
        recAddr.toInt + recordSize)
    }
    def walk(addr: Long, d: Int, nrec: Int): Seq[Array[Byte]] =
      if (d == 0) {
        require(sig4(bytes, addr) == "BTLF",
          s"hdf5: B-tree leaf at $addr has signature '${sig4(bytes, addr)}'")
        (0 until nrec).map(i => recOf(addr + 6 + i.toLong * recordSize))
      } else {
        require(sig4(bytes, addr) == "BTIN",
          s"hdf5: B-tree internal node at $addr missing BTIN")
        val recsStart = addr + 6
        val own = (0 until nrec).map(i => recOf(recsStart + i.toLong * recordSize))
        val ptrWidth = 8 + nrecFieldSize + totFieldSize(d - 1)
        var p = recsStart + nrec.toLong * recordSize
        val fromChildren = (0 to nrec).flatMap { _ =>
          val cb = bb(bytes, p, ptrWidth)
          val childAddr = cb.getLong()
          var cnrec = 0L
          (0 until nrecFieldSize).foreach(i => cnrec |= (cb.get() & 0xffL) << (8 * i))
          p += ptrWidth // totNrec (when present) is redundant for a full walk
          walk(childAddr, d - 1, cnrec.toInt)
        }
        own ++ fromChildren
      }
    (btype, walk(rootAddr, depth, nrecRoot))
  }

  /** Heap IDs from a link-name-index v2 B-tree: record type 5 =
    * 4-byte lookup3 name hash + heap ID.
    */
  private def v2BtreeHeapIds(bytes: Array[Byte], btreeAddr: Long,
      heapIdLen: Int, path: String): Seq[Array[Byte]] = {
    val (btype, recs) = v2BtreeRecords(bytes, btreeAddr, path)
    require(btype == 5 || btype == 6, s"hdf5: v2 B-tree type $btype at $path")
    recs.map { r =>
      require(r.length >= 4 + heapIdLen,
        s"hdf5: link record size ${r.length} < ${4 + heapIdLen} at $path")
      java.util.Arrays.copyOfRange(r, 4, 4 + heapIdLen)
    }
  }

  /** Huge-object records from a fractal heap's huge v2 B-tree, keyed
    * by huge-object ID: type 1 = indirectly-accessed unfiltered
    * {addr, len, id}, type 2 = indirectly-accessed filtered
    * {addr, storedLen, mask, memLen, id}. (Directly-accessed huge
    * objects — types 3/4 — never consult the B-tree on read.)
    */
  private def hugeObjects(bytes: Array[Byte], btreeAddr: Long,
      path: String): Map[Long, (Long, Long, Int, Long)] = {
    val (btype, recs) = v2BtreeRecords(bytes, btreeAddr, path)
    require(btype == 1 || btype == 2,
      s"hdf5: huge-object v2 B-tree type $btype at $path unsupported")
    recs.map { r =>
      val b = ByteBuffer.wrap(r).order(ByteOrder.LITTLE_ENDIAN)
      val addr = b.getLong()
      val len = b.getLong()
      val (mask, memLen) =
        if (btype == 2) (b.getInt(), b.getLong()) else (0, len)
      val id = b.getLong()
      id -> ((addr, len, mask, memLen))
    }.toMap
  }

  /** Link message (0x0006) v1: hard links only. */
  private def parseLink(body: Array[Byte], path: String): (String, Long) = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    require((b.get() & 0xff) == 1, s"hdf5: link message version != 1 at $path")
    val flags = b.get() & 0xff
    val ltype = if ((flags & 8) != 0) b.get() & 0xff else 0
    require(ltype == 0, s"hdf5: non-hard link type $ltype at $path unsupported")
    if ((flags & 4) != 0) b.getLong() // creation order
    if ((flags & 16) != 0) b.get()    // charset
    val nameLen = (flags & 3) match {
      case 0 => b.get() & 0xffL
      case 1 => b.getShort() & 0xffffL
      case 2 => b.getInt() & 0xffffffffL
      case _ => b.getLong()
    }
    val nm = new Array[Byte](nameLen.toInt)
    b.get(nm)
    (new String(nm, "UTF-8"), b.getLong())
  }

  /** (name, object header address) pairs from a v1 group B-tree. */
  private def groupEntries(bytes: Array[Byte], btreeAddr: Long, heapAddr: Long): Seq[(String, Long)] = {
    // local heap: "HEAP" v0, data segment size, free-list head, data addr
    val hh = bb(bytes, heapAddr, 32)
    val hsig = new Array[Byte](4); hh.get(hsig)
    require(new String(hsig, "US-ASCII") == "HEAP", s"hdf5: bad local heap signature at $heapAddr")
    require((hh.get() & 0xff) == 0, "hdf5: local heap version != 0")
    hh.get(); hh.get(); hh.get()
    hh.getLong() // data segment size
    hh.getLong() // free list head
    val heapData = hh.getLong()
    def heapName(off: Long): String = {
      var e = heapData + off
      while (e < bytes.length && bytes(e.toInt) != 0) e += 1
      new String(bytes, (heapData + off).toInt, (e - heapData - off).toInt, "UTF-8")
    }
    val th = bb(bytes, btreeAddr, 24)
    val tsig = new Array[Byte](4); th.get(tsig)
    require(new String(tsig, "US-ASCII") == "TREE", s"hdf5: bad B-tree signature at $btreeAddr")
    val nodeType = th.get() & 0xff
    val level = th.get() & 0xff
    require(nodeType == 0, s"hdf5: group B-tree node type $nodeType != 0")
    val used = th.getShort() & 0xffff
    th.getLong(); th.getLong() // siblings
    val out = mutable.ArrayBuffer.empty[(String, Long)]
    var p = btreeAddr + 24
    var i = 0
    while (i < used) {
      p += 8 // key i (heap offset) — names come from the SNOD entries
      val child = bb(bytes, p, 8).getLong(); p += 8
      if (level > 0) {
        // internal node: children are lower B-tree nodes — recurse
        out ++= groupEntries(bytes, child, heapAddr)
      } else {
        // SNOD: signature, version, reserved, nsymbols, entries
        val sh = bb(bytes, child, 8)
        val ssig = new Array[Byte](4); sh.get(ssig)
        require(new String(ssig, "US-ASCII") == "SNOD", s"hdf5: bad SNOD signature at $child")
        sh.get()
        sh.get()
        val nsym = sh.getShort() & 0xffff
        var j = 0
        while (j < nsym) {
          val se = bb(bytes, child + 8 + j * 40, 40)
          val nameOff = se.getLong()
          val oh = se.getLong()
          out += ((heapName(nameOff), oh))
          j += 1
        }
      }
      i += 1
    }
    out.toSeq
  }

  // -------------------------------------------------- dataset messages

  private def parseDataset(msgs: Seq[(Int, Array[Byte])], path: String): Dataset = {
    val dims = parseDataspace(msgs.find(_._1 == 0x0001).get._2, path)
    val (dtype, be, tsize) = parseDatatype(msgs.find(_._1 == 0x0003).getOrElse(
      fail(s"dataset $path has no datatype message"))._2, path)
    val layout = parseLayout(msgs.find(_._1 == 0x0008).getOrElse(
      fail(s"dataset $path has no data layout message"))._2, path)
    val filters = msgs.find(_._1 == 0x000B).map(parseFilters(_, path)).getOrElse(Nil)
    filters.foreach { f =>
      require(f.id == 1 || f.id == 2,
        s"hdf5: dataset $path uses filter id ${f.id} (only deflate=1 and shuffle=2 supported)")
    }
    Dataset(path, dims, dtype, be, tsize, layout, filters, parseAttrs(msgs))
  }

  private def parseDataspace(body: Array[Byte], path: String): Seq[Long] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val version = b.get() & 0xff
    val rank = b.get() & 0xff
    val flags = b.get() & 0xff
    version match {
      case 1 => b.get(); b.getInt() // reserved
      case 2 => // v2: next byte is type, no reserved block
        b.get()
      case v => fail(s"dataspace version $v at $path")
    }
    val dims = Seq.fill(rank)(b.getLong())
    // maxdims ((flags & 1) != 0) would follow; ignored — current dims rule
    dims
  }

  /** (engine dtype, big-endian, size). Strings come back as ("", _, size). */
  private def parseDatatype(body: Array[Byte], path: String): (String, Boolean, Int) = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val cv = b.get() & 0xff
    val cls = cv & 0x0f
    val version = cv >> 4
    require(version >= 1 && version <= 3,
      s"hdf5: datatype version $version at $path (v1-v3 supported)")
    val bf0 = b.get() & 0xff
    b.get(); b.get()
    val size = b.getInt()
    cls match {
      case 0 => // fixed-point
        val be = (bf0 & 1) != 0
        val signed = (bf0 & 8) != 0
        val name = (signed, size) match {
          case (true, 1) => "int8";  case (false, 1) => "uint8"
          case (true, 2) => "int16"; case (false, 2) => "uint16"
          case (true, 4) => "int32"; case (false, 4) => "uint32"
          case (true, 8) => "int64"; case (false, 8) => "uint64"
          case _ => fail(s"fixed-point size $size at $path")
        }
        (name, be, size)
      case 1 => // float
        val be = (bf0 & 1) != 0
        val name = size match {
          case 4 => "float32"; case 8 => "float64"
          case _ => fail(s"float size $size at $path")
        }
        (name, be, size)
      case 3 => ("", false, size) // fixed-length string
      case c => fail(s"datatype class $c at $path (fixed/float/string only)")
    }
  }

  private def parseLayout(body: Array[Byte], path: String): Layout = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val version = b.get() & 0xff
    require(version == 3, s"hdf5: data layout version $version at $path (only v3)")
    (b.get() & 0xff) match {
      case 0 =>
        val n = b.getShort() & 0xffff
        val d = new Array[Byte](n); b.get(d)
        Compact(d)
      case 1 =>
        Contiguous(b.getLong(), b.getLong())
      case 2 =>
        val rank = b.get() & 0xff // includes the element-size dim
        val btree = b.getLong()
        val dims = Seq.fill(rank)(b.getInt())
        Chunked(dims.dropRight(1), btree)
      case c => fail(s"data layout class $c at $path")
    }
  }

  private def parseFilters(m: (Int, Array[Byte]), path: String): Seq[Filter] = {
    val b = ByteBuffer.wrap(m._2).order(ByteOrder.LITTLE_ENDIAN)
    val version = b.get() & 0xff
    val n = b.get() & 0xff
    version match {
      case 1 => b.getShort(); b.getInt() // reserved
      case 2 => ()
      case v => fail(s"filter pipeline version $v at $path")
    }
    (0 until n).map { _ =>
      val id = b.getShort() & 0xffff
      // v2 omits the name length field entirely for ids < 256
      val nameLen = if (version == 1 || id >= 256) b.getShort() & 0xffff else 0
      b.getShort() // flags
      val ncv = b.getShort() & 0xffff
      if (nameLen > 0) { val nm = new Array[Byte](nameLen); b.get(nm) }
      val cvs = Seq.fill(ncv)(b.getInt())
      if (version == 1 && ncv % 2 == 1) b.getInt() // pad
      Filter(id, cvs)
    }
  }

  // ---------------------------------------------------------- attributes

  private def parseAttrs(msgs: Seq[(Int, Array[Byte])]): Map[String, AttrValue] =
    msgs.filter(_._1 == 0x000C).flatMap { case (_, body) => parseAttr(body) }.toMap

  private def pad8(n: Int): Int = (n + 7) & ~7

  private def parseAttr(body: Array[Byte]): Option[(String, AttrValue)] = {
    val b = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    val version = b.get() & 0xff
    if (version != 1 && version != 3) fail(s"attribute message version $version")
    val flagsOrReserved = b.get() & 0xff
    if (version == 3 && (flagsOrReserved & 3) != 0)
      fail("shared attribute datatype/dataspace unsupported")
    val nameSize = b.getShort() & 0xffff
    val dtSize = b.getShort() & 0xffff
    val dsSize = b.getShort() & 0xffff
    if (version == 3) b.get() // name character set
    val headLen = if (version == 3) 9 else 8
    val namePad = if (version == 1) pad8(nameSize) else nameSize
    val dtPad = if (version == 1) pad8(dtSize) else dtSize
    val dsPad = if (version == 1) pad8(dsSize) else dsSize
    val name = new String(body, headLen, math.max(0, nameSize - 1), "UTF-8")
    val dtOff = headLen + namePad
    val dsOff = dtOff + dtPad
    val dataOff = dsOff + dsPad
    val dtBody = java.util.Arrays.copyOfRange(body, dtOff, dtOff + dtSize)
    val dsBody = java.util.Arrays.copyOfRange(body, dsOff, dsOff + dsSize)
    val (dtype, be, tsize) = parseDatatype(dtBody, s"attr $name")
    val dims = parseDataspace(dsBody, s"attr $name")
    val n = dims.product.toInt
    val data = java.util.Arrays.copyOfRange(body, dataOff,
      math.min(body.length, dataOff + math.max(1, n) * tsize))
    if (dtype.isEmpty) { // fixed-length string, scalar
      val z = data.indexOf(0.toByte)
      Some(name -> AStr(new String(data, 0, if (z < 0) data.length else z, "UTF-8")))
    } else {
      val vals = graft.zarr.ZarrStore.decodeToDoubles(data, dtype, be)
      Some(name -> ANums(vals.toSeq))
    }
  }

  // ------------------------------------------------------ chunk B-tree

  /** Walk a v1 chunk B-tree (level 0) into chunk records. `rank` is
    * the dataset rank WITHOUT the element-size dimension.
    */
  def chunkRecords(bytes: Array[Byte], btreeAddr: Long, rank: Int): Seq[ChunkRecord] = {
    val th = bb(bytes, btreeAddr, 24)
    val sig = new Array[Byte](4); th.get(sig)
    require(new String(sig, "US-ASCII") == "TREE", s"hdf5: bad chunk B-tree signature at $btreeAddr")
    require((th.get() & 0xff) == 1, "hdf5: chunk B-tree node type != 1")
    val level = th.get() & 0xff
    val used = th.getShort() & 0xffff
    th.getLong(); th.getLong()
    val keySize = 8 + (rank + 1) * 8
    var p = btreeAddr + 24
    (0 until used).flatMap { _ =>
      val k = bb(bytes, p, keySize)
      val nbytes = k.getInt()
      val mask = k.getInt()
      val offs = Seq.fill(rank)(k.getLong())
      k.getLong() // element-size dim offset, always 0
      p += keySize
      val addr = bb(bytes, p, 8).getLong()
      p += 8
      if (level > 0) chunkRecords(bytes, addr, rank) // internal: recurse
      else Seq(ChunkRecord(offs, addr, nbytes, mask))
    }
  }

  // ---- minimal encoder (synthetic gate payloads + specs) ------------

  /** Encode a minimal MINC2 file — superblock v0, v1 symbol-table
    * groups, a contiguous uint8 `/minc-2.0/image/0/image` dataset
    * with `dimorder`, and per-dimension step/start attributes — the
    * exact subset [[Hdf5IO.readMinc2]] reads, so the i70 gate drives
    * header parse, group traversal, attribute decode and the
    * distributed contiguous read on one route. `values` are C-order
    * over the FILE dims (slowest first); dims are (zspace, yspace,
    * xspace) with the given (step, start) per axis in that order.
    */
  def encodeMinc2Uint8(sizeC: Seq[Int], steps: Seq[Double], starts: Seq[Double],
      values: Array[Int]): Array[Byte] = {
    require(sizeC.length == 3 && steps.length == 3 && starts.length == 3,
      "encodeMinc2Uint8 writes 3-D volumes")
    require(values.length == sizeC.product, "values != shape product")
    val buf = new java.io.ByteArrayOutputStream()
    val front = 2048 // reserved for the superblock
    buf.write(new Array[Byte](front))
    def alloc(b: Array[Byte]): Long = { val at = buf.size(); buf.write(b); at.toLong }
    def u64(v: Long): Array[Byte] = { val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putLong(v); b.array() }
    def pad8(b: Array[Byte]): Array[Byte] = b ++ new Array[Byte]((8 - b.length % 8) % 8)
    def msg(t: Int, body: Array[Byte]): Array[Byte] = {
      val p = pad8(body)
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(t.toShort); h.putShort(p.length.toShort); h.put(0.toByte)
      h.array() ++ p
    }
    def oh(messages: Seq[(Int, Array[Byte])]): Array[Byte] = {
      val body = messages.flatMap { case (t, b) => msg(t, b) }.toArray
      val h = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      h.put(1.toByte); h.put(0.toByte); h.putShort(messages.length.toShort)
      h.putInt(1); h.putInt(body.length)
      h.array() ++ body
    }
    def dataspace(dims: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + dims.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(dims.length.toByte); b.put(0.toByte)
      b.position(8); dims.foreach(b.putLong); b.array()
    }
    def dtFixed(size: Int, signed: Boolean): Array[Byte] = {
      val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      b.put((1 << 4 | 0).toByte); b.put((if (signed) 8 else 0).toByte)
      b.put(0.toByte); b.put(0.toByte); b.putInt(size)
      b.putShort(0); b.putShort((size * 8).toShort); b.array()
    }
    def dtFloat64: Array[Byte] = {
      val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
      b.put((1 << 4 | 1).toByte); b.put(0x20.toByte); b.put(63.toByte); b.put(0.toByte)
      b.putInt(8); b.putShort(0); b.putShort(64)
      b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
      b.putInt(1023); b.array()
    }
    def dtString(size: Int): Array[Byte] = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.put((1 << 4 | 3).toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putInt(size); b.array()
    }
    def attr(name: String, dt: Array[Byte], ds: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val nm = (name + " ").getBytes("US-ASCII")
      val h = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      h.put(1.toByte); h.put(0.toByte)
      h.putShort(nm.length.toShort); h.putShort(dt.length.toShort); h.putShort(ds.length.toShort)
      h.array() ++ pad8(nm) ++ pad8(dt) ++ pad8(ds) ++ data
    }
    def f64bytes(v: Double): Array[Byte] = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN); b.putDouble(v); b.array()
    }
    def group(entries: Seq[(String, Long)]): Long = {
      val heapData = new java.io.ByteArrayOutputStream()
      heapData.write(new Array[Byte](8))
      val offs = entries.map { case (n, _) =>
        val o = heapData.size()
        heapData.write((n + " ").getBytes("US-ASCII"))
        while (heapData.size() % 8 != 0) heapData.write(0)
        o.toLong
      }
      val seg = alloc(heapData.toByteArray)
      val hh = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      hh.put("HEAP".getBytes("US-ASCII")); hh.put(0.toByte); hh.position(8)
      hh.putLong(heapData.size().toLong); hh.putLong(-1L); hh.putLong(seg)
      val heap = alloc(hh.array())
      val snodBody = new java.io.ByteArrayOutputStream()
      entries.zip(offs).foreach { case ((_, ohAddr), off) =>
        val e = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
        e.putLong(off); e.putLong(ohAddr); e.putInt(0)
        snodBody.write(e.array())
      }
      val sh = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      sh.put("SNOD".getBytes("US-ASCII")); sh.put(1.toByte); sh.put(0.toByte)
      sh.putShort(entries.length.toShort)
      val snod = alloc(sh.array() ++ snodBody.toByteArray ++
        new Array[Byte](8 * 40 - snodBody.size()))
      val th = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
      th.put("TREE".getBytes("US-ASCII")); th.put(0.toByte); th.put(0.toByte)
      th.putShort(1); th.putLong(-1L); th.putLong(-1L)
      th.putLong(0L); th.putLong(snod); th.putLong(offs.last)
      val btree = alloc(th.array())
      alloc(oh(Seq((0x0011, u64(btree) ++ u64(heap)))))
    }
    val data = values.map(_.toByte)
    val dataAddr = alloc(data)
    val layout = {
      val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(1.toByte); b.putLong(dataAddr); b.putLong(data.length.toLong)
      b.array()
    }
    val dimorder = "zspace,yspace,xspace ".getBytes("US-ASCII")
    val imageOh = alloc(oh(Seq(
      (0x0001, dataspace(sizeC.map(_.toLong))),
      (0x0003, dtFixed(1, signed = false)),
      (0x0008, layout),
      (0x000C, attr("dimorder", dtString(dimorder.length), dataspace(Nil), dimorder)))))
    def dimOh(step: Double, start: Double): Long = {
      val emptyLayout = {
        val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
        b.put(3.toByte); b.put(1.toByte); b.putLong(-1L); b.putLong(0L); b.array()
      }
      alloc(oh(Seq(
        (0x0001, dataspace(Nil)),
        (0x0003, dtFixed(4, signed = true)),
        (0x0008, emptyLayout),
        (0x000C, attr("step", dtFloat64, dataspace(Nil), f64bytes(step))),
        (0x000C, attr("start", dtFloat64, dataspace(Nil), f64bytes(start))))))
    }
    val dims = Seq("xspace", "yspace", "zspace")
    val dimEntries = Seq(
      "xspace" -> dimOh(steps(2), starts(2)),
      "yspace" -> dimOh(steps(1), starts(1)),
      "zspace" -> dimOh(steps(0), starts(0))).sortBy(_._1)
    val dimsGrp = group(dimEntries)
    val zeroGrp = group(Seq("image" -> imageOh))
    val imageGrp = group(Seq("0" -> zeroGrp))
    val mincGrp = group(Seq("dimensions" -> dimsGrp, "image" -> imageGrp).sortBy(_._1))
    val rootOh = group(Seq("minc-2.0" -> mincGrp))
    val out = buf.toByteArray
    val sb = ByteBuffer.allocate(80).order(ByteOrder.LITTLE_ENDIAN)
    sb.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    sb.put(0.toByte); sb.put(0.toByte); sb.put(0.toByte); sb.put(0.toByte); sb.put(0.toByte)
    sb.put(8.toByte); sb.put(8.toByte); sb.put(0.toByte)
    sb.putShort(4); sb.putShort(16); sb.putInt(0)
    sb.putLong(0L); sb.putLong(-1L); sb.putLong(out.length.toLong); sb.putLong(-1L)
    sb.putLong(0L); sb.putLong(rootOh); sb.putInt(0)
    System.arraycopy(sb.array(), 0, out, 0, 80)
    val _ = dims
    out
  }

  /** Apply the (reversed) filter pipeline to one stored chunk:
    * deflate → byte-deshuffle, matching ids 1 and 2.
    */
  def defilter(raw: Array[Byte], filters: Seq[Filter], mask: Int): Array[Byte] = {
    var data = raw
    filters.zipWithIndex.reverse.foreach { case (f, i) =>
      if ((mask & (1 << i)) == 0) {
        f.id match {
          case 1 =>
            val inf = new java.util.zip.Inflater()
            inf.setInput(data)
            val out = new java.io.ByteArrayOutputStream(data.length * 4)
            val buf = new Array[Byte](64 * 1024)
            while (!inf.finished()) {
              val n = inf.inflate(buf)
              require(n > 0 || inf.finished(), "hdf5: truncated deflate chunk")
              out.write(buf, 0, n)
            }
            inf.end()
            data = out.toByteArray
          case 2 =>
            val esize = f.clientValues.headOption.getOrElse(1)
            val n = data.length / esize
            val out = new Array[Byte](data.length)
            var i2 = 0
            while (i2 < n) {
              var b2 = 0
              while (b2 < esize) {
                out(i2 * esize + b2) = data(b2 * n + i2)
                b2 += 1
              }
              i2 += 1
            }
            data = out
          case other => fail(s"filter id $other")
        }
      }
    }
    data
  }
}
