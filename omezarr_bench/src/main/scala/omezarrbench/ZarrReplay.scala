package omezarrbench

import java.nio.file.{Files => JFiles, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.meta.{Dtypes, ZarrJson}
import graft.zarr.{Codecs, SerializableHadoopConf, Sharding, ZarrStore}

/** Replays the run's own chunk objects through the public `zarr`
  * functions, single-threaded: codec encode/decode rates, shard build
  * and parse, and store put/get. Every replayed payload must round-trip
  * exactly; a mismatch is a failed check.
  */
object ZarrReplay {

  val codecs: Seq[(String, String)] = Seq(
    "zstd" -> "zstd",
    "gzip" -> "gzip",
    "blosc-lz4-byte" -> "blosc:lz4:5:byte",
    "blosc-blosclz-bit" -> "blosc:blosclz:5:bit")

  /** One array of a store: its chunk (or shard) objects and how to
    * decode them.
    */
  private final case class Arr(objects: Seq[Path], rawSize: Int, itemSize: Int,
      compressor: Option[String], innerPerShard: Option[Int])

  /** Encoded inner chunks by slot, as one shard holds them; `stored` is
    * the shard object itself when the store is sharded.
    */
  private final case class Group(arr: Arr, slots: Int, inner: Map[Int, Array[Byte]],
      stored: Option[Array[Byte]])

  private def isDoc(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith(".") || n == "zarr.json"
  }

  private def arrays(root: Path): Seq[Arr] = {
    val docs = walk(root).filter { p =>
      val n = p.getFileName.toString
      (n == ".zarray" || n == "zarr.json") && {
        val d = ZarrJson.mapper.readTree(new String(JFiles.readAllBytes(p), "UTF-8"))
        d.has("shape")
      }
    }
    docs.map { doc =>
      val dir = doc.getParent
      val json = new String(JFiles.readAllBytes(doc), "UTF-8")
      val objs = walk(dir).filterNot(isDoc).sorted
      if (doc.getFileName.toString == ".zarray") {
        val (_, chunks, dtype, comp, _) = ZarrJson.parseZarrayV2(json)
        Arr(objs, chunks.product * Dtypes.itemSize(dtype), Dtypes.itemSize(dtype), comp, None)
      } else {
        val (_, chunks, dtype, comp, _) = ZarrJson.parseZarrayV3(json)
        ZarrJson.parseShardingV3(json) match {
          case Some((inner, _)) =>
            val innerComp = ZarrJson.parseShardingInnerV3(json).flatMap(_.compressor)
            Arr(objs, inner.product * Dtypes.itemSize(dtype), Dtypes.itemSize(dtype), innerComp,
              Some(chunks.zip(inner).map { case (s, c) => s / c }.product))
          case None =>
            Arr(objs, chunks.product * Dtypes.itemSize(dtype), Dtypes.itemSize(dtype), comp, None)
        }
      }
    }
  }

  private def walk(root: Path): Seq[Path] = {
    val s = JFiles.walk(root)
    try s.iterator().asScala.filter(JFiles.isRegularFile(_)).toVector finally s.close()
  }

  /** Objects and bytes a store holds. */
  def footprint(store: String): (Long, Long) = {
    val fs = walk(Paths.get(store))
    (fs.length.toLong, fs.map(JFiles.size(_)).sum)
  }

  /** Time `f` over `passes` after one warm-up pass; median seconds. */
  private def timed(passes: Int)(f: => Unit): Double = {
    f
    Stats.median((0 until passes).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })
  }

  def run(ctx: Ctx, store: String): Map[String, Double] = {
    val rng = new scala.util.Random(ctx.seed ^ 0x2a11L)
    val arrs = arrays(Paths.get(store))
    // the run's own inner chunks, encoded as stored, grouped as stored
    // (one group per shard object; 8 plain chunk objects per group for
    // unsharded stores)
    val groups: Seq[Group] =
      rng.shuffle(arrs.flatMap { a =>
        a.innerPerShard match {
          case Some(n) => a.objects.map { o =>
            val bytes = JFiles.readAllBytes(o)
            Group(a, n, Sharding.parseShard(bytes, n).toMap, Some(bytes))
          }
          case None => a.objects.grouped(8).map { g =>
            Group(a, g.length, g.map(JFiles.readAllBytes).zipWithIndex.map(_.swap).toMap, None)
          }.toSeq
        }
      })
    // sample raw payloads up to the byte budget
    val raw = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int)]
    var budget = ctx.sizes.replayBytes.toLong
    groups.iterator.flatMap(g => g.inner.toSeq.sortBy(_._1).map(e => (g.arr, e._2)))
      .takeWhile(_ => budget > 0).foreach { case (a, e) =>
        val r = Codecs.decompress(a.compressor, e, a.rawSize)
        raw += ((r, a.itemSize)); budget -= r.length
      }
    val rawMb = raw.map(_._1.length.toLong).sum / 1e6
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    codecs.foreach { case (name, id) =>
      var enc: Seq[Array[Byte]] = Nil
      val tEnc = timed(3) { enc = raw.toSeq.map { case (r, t) => Codecs.compress(Some(id), r, typesize = t) } }
      var dec: Seq[Array[Byte]] = Nil
      val tDec = timed(3) { dec = enc.zip(raw).map { case (e, (r, _)) => Codecs.decompress(Some(id), e, r.length) } }
      ctx.check(dec.zip(raw).forall { case (d, (r, _)) => java.util.Arrays.equals(d, r) },
        s"codec $name does not round-trip the run's chunks")
      out(s"zarr.encode_mb_s.$name") = if (tEnc > 0) rawMb / tEnc else 0.0
      out(s"zarr.decode_mb_s.$name") = if (tDec > 0) rawMb / tDec else 0.0
    }
    // shard build and parse, on the run's own groups of encoded chunks
    val built = groups.take(16).map { g =>
      val bytes = Sharding.buildShard(g.slots, g.inner)
      g.stored.foreach(s => ctx.check(java.util.Arrays.equals(s, bytes),
        "shard rebuild differs from the stored shard"))
      (g, bytes)
    }
    if (built.nonEmpty) {
      val tBuild = timed(3) { built.foreach { case (g, _) => Sharding.buildShard(g.slots, g.inner) } }
      val tParse = timed(3) { built.foreach { case (g, b) => Sharding.parseShard(b, g.slots) } }
      out("zarr.shard_build_ms") = tBuild * 1e3 / built.length
      out("zarr.shard_parse_ms") = tParse * 1e3 / built.length
    } else {
      out("zarr.shard_build_ms") = 0.0
      out("zarr.shard_parse_ms") = 0.0
    }
    // put and get of the run's own objects (documents and chunks), one
    // at a time, against a scratch store on the same file system
    val objs = rng.shuffle(walk(Paths.get(store))).take(200)
    val scratch = ctx.path("replay-store")
    val st = new ZarrStore(scratch, Some(SerializableHadoopConf.fromActiveSession()))
    val payloads = objs.map(JFiles.readAllBytes)
    def each(f: Int => Unit): Seq[Double] = payloads.indices.map { i =>
      val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e6
    }
    each(i => st.writeBytes(s"warm/$i", payloads(i)))
    val put = each(i => st.writeBytes(s"o/$i", payloads(i)))
    var back = Vector.empty[Array[Byte]]
    val get = each(i => back :+= st.readBytes(s"o/$i"))
    ctx.check(back.zip(payloads).forall { case (a, b) => java.util.Arrays.equals(a, b) },
      "store get differs from put")
    Dirs.delete(Paths.get(scratch))
    out("zarr.put_ms_p50") = Stats.median(put)
    out("zarr.get_ms_p50") = Stats.median(get)
    out.toMap
  }
}
