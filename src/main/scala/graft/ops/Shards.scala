package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic training-shard layout — the last step of a corpus
  * build: write the final dataset as `nShards` shards in a fixed
  * pseudo-random global order, so training jobs stream shards
  * sequentially and still see a well-shuffled corpus, and ANY engine
  * can reproduce the exact layout from document ids alone (no
  * persisted permutation, no RNG state — the [[Splits]] md5
  * construction, so split/shard/sample decisions all derive from one
  * id-hash family).
  *
  * Shard = 56-bit md5 bucket mod nShards; within-shard order = (md5
  * hex of the id, id) — a deterministic permutation uncorrelated with
  * ingest order. One shuffle: repartition on the shard key +
  * sort-within-partitions, then each task writes its shards; no global sort,
  * no driver state, shards stay balanced by hash uniformity at any
  * corpus size.
  */
object Shards {

  private def md5Key(idCol: String) = md5(col(idCol).cast("string"))

  private def bucket56(idCol: String) =
    expr(s"CAST(conv(substring(md5(CAST($idCol AS STRING)), 1, 14), 16, 10) AS BIGINT)")

  /** The layout as a relation: input columns + (shard, pos), pos =
    * 1-based position within the shard's fixed order.
    */
  def shardPlan(docs: DataFrame, idCol: String = "doc_id",
      nShards: Int = 16): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val w = Window.partitionBy(col("shard"))
      .orderBy(md5Key(idCol), col(idCol))
    docs.withColumn("shard", (bucket56(idCol) % nShards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
  }

  // ---- WebDataset export (tar shards) ----

  /** One deterministic ustar header block: mode 0644, uid/gid/mtime
    * zero (same input ⇒ byte-identical shards — reproducible-build
    * discipline for training data), standard checksum.
    */
  private[ops] def tarHeader(name: String, size: Long): Array[Byte] = {
    require(name.getBytes("US-ASCII").length <= 100, s"tar member name too long: $name")
    val b = new Array[Byte](512)
    def put(off: Int, s: String): Unit = {
      val bytes = s.getBytes("US-ASCII")
      System.arraycopy(bytes, 0, b, off, bytes.length)
    }
    put(0, name)
    put(100, "0000644") // mode, NUL-terminated by the zero fill
    put(108, "0000000") // uid
    put(116, "0000000") // gid
    put(124, f"$size%011o") // size, 11 octal digits
    put(136, "00000000000") // mtime 0
    java.util.Arrays.fill(b, 148, 156, ' '.toByte) // chksum as spaces
    b(156) = '0' // typeflag: regular file
    put(257, "ustar")
    b(262) = 0; put(263, "00") // POSIX version
    val sum = b.map(_ & 0xff).sum
    put(148, f"$sum%06o")
    b(154) = 0; b(155) = ' '
    b
  }

  /** Write the corpus as WebDataset-style tar shards
    * (`shard-NNNNN.tar`, one member `<pos>.<id>.txt` per document in
    * shard order). The plan is [[shardPlan]]'s — same one-shuffle
    * shape — and each task streams its shard(s) to the Hadoop FS
    * (local dirs, s3a://, gs:// alike); hash-partitioning may land
    * two shard ids in one task, so the writer rolls files on the
    * sorted shard boundary.
    */
  def writeTarShards(docs: DataFrame, dir: String, idCol: String = "doc_id",
      textCol: String = "text", nShards: Int = 16): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    shardPlan(docs, idCol, nShards)
      .select(col("shard"), col("pos"), col(idCol).cast("long").as("id"),
        col(textCol).as("text"))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .as[(Int, Long, Long, String)]
      .foreachPartition { (it: Iterator[(Int, Long, Long, String)]) =>
        var out: java.io.OutputStream = null
        var current = -1
        def close(): Unit = if (out != null) {
          out.write(new Array[Byte](1024)) // two zero end-blocks
          out.close(); out = null
        }
        it.foreach { case (shard, pos, id, text) =>
          if (shard != current) {
            close()
            val p = new org.apache.hadoop.fs.Path(f"$dir/shard-$shard%05d.tar")
            out = p.getFileSystem(hconf.value).create(p, true)
            current = shard
          }
          val payload = text.getBytes("UTF-8")
          out.write(tarHeader(f"$pos%09d.$id.txt", payload.length.toLong))
          out.write(payload)
          val pad = (512 - payload.length % 512) % 512
          if (pad > 0) out.write(new Array[Byte](pad))
        }
        close()
      }
  }

  /** WebDataset MULTIMODAL samples: several members per document
    * sharing the `<pos>.<id>` key prefix (the WebDataset grouping
    * convention — a loader reassembles a sample from adjacent members
    * with one key), e.g. `.txt` caption + `.ppm` image. `memberCols`
    * maps extension → binary/string column. Same deterministic ustar
    * discipline and shard rolling as [[writeTarShards]].
    */
  def writeTarSampleShards(docs: DataFrame, dir: String,
      memberCols: Seq[(String, String)], idCol: String = "doc_id",
      nShards: Int = 16): Unit = {
    require(memberCols.nonEmpty, "need at least one member column")
    val spark = docs.sparkSession
    import spark.implicits._
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    // strings encode as UTF-8; binaries pass through
    val binCols = memberCols.map { case (_, c) => col(c).cast("binary").as(c) }
    shardPlan(docs, idCol, nShards)
      .select(Seq(col("shard"), col("pos"), col(idCol).cast("long").as("__id")) ++
        binCols: _*)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("pos"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        var out: java.io.OutputStream = null
        var current = -1
        def close(): Unit = if (out != null) {
          out.write(new Array[Byte](1024)); out.close(); out = null
        }
        it.foreach { row =>
          val shard = row.getInt(0); val pos = row.getLong(1); val id = row.getLong(2)
          if (shard != current) {
            close()
            val p = new org.apache.hadoop.fs.Path(f"$dir/shard-$shard%05d.tar")
            out = p.getFileSystem(hconf.value).create(p, true)
            current = shard
          }
          memberCols.zipWithIndex.foreach { case ((ext, _), k) =>
            val payload = row.getAs[Array[Byte]](3 + k)
            out.write(tarHeader(f"$pos%09d.$id.$ext", payload.length.toLong))
            out.write(payload)
            val pad = (512 - payload.length % 512) % 512
            if (pad > 0) out.write(new Array[Byte](pad))
          }
        }
        close()
      }
  }

  /** Read every member of one tar shard: (name, bytes). Strict ustar
    * walk — bad magic, truncated member, or missing end blocks refuse
    * loudly.
    */
  def readTarShard(path: String,
      hconf: graft.zarr.SerializableHadoopConf): Iterator[(String, Array[Byte])] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val in = new java.io.BufferedInputStream(p.getFileSystem(hconf.value).open(p), 1 << 16)
    def block(): Array[Byte] = {
      val b = new Array[Byte](512)
      var off = 0
      while (off < 512) {
        val r = in.read(b, off, 512 - off)
        require(r >= 0, s"$path: truncated tar block")
        off += r
      }
      b
    }
    new Iterator[(String, Array[Byte])] {
      private var nextMember: (String, Array[Byte]) = _
      private var done = false
      private def advance(): Unit = {
        val h = block()
        if (h.forall(_ == 0)) { done = true; in.close() }
        else {
          val magic = new String(h, 257, 5, "US-ASCII")
          require(magic == "ustar", s"$path: bad tar magic '$magic'")
          val name = new String(h.take(100).takeWhile(_ != 0), "US-ASCII")
          val size = java.lang.Long.parseLong(
            new String(h, 124, 11, "US-ASCII").trim, 8)
          require(size >= 0 && size <= Int.MaxValue, s"$path: bad member size $size")
          val data = new Array[Byte](size.toInt)
          var off = 0
          while (off < size) {
            val r = in.read(data, off, size.toInt - off)
            require(r >= 0, s"$path: truncated member $name")
            off += r
          }
          // READ the padding rather than skip(): skip() returns 0 at
          // EOF and would spin forever on a truncated tar — reads
          // return -1 and refuse loudly like every other path here
          val pad = ((512 - size % 512) % 512).toInt
          if (pad > 0) {
            val buf = new Array[Byte](pad)
            var s = 0
            while (s < pad) {
              val r = in.read(buf, s, pad - s)
              require(r >= 0, s"$path: truncated padding after member $name")
              s += r
            }
          }
          nextMember = (name, data)
        }
      }
      advance()
      override def hasNext: Boolean = !done
      override def next(): (String, Array[Byte]) = {
        val m = nextMember; advance(); m
      }
    }
  }
}
