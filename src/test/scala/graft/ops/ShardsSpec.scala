package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Shards — deterministic training-shard layout: plan stability under
  * partitioning, balanced assignment, and the tar writer round-trip
  * (members on disk follow the plan exactly).
  */
class ShardsSpec extends SparkSpec {

  import spark.implicits._

  test("shard plan is a pure function of ids (stable under repartition)") {
    val df = (0L until 1000L).toDF("doc_id")
    def planOf(d: org.apache.spark.sql.DataFrame) =
      Shards.shardPlan(d, nShards = 8).select("doc_id", "shard", "pos")
        .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val a = planOf(df)
    val b = planOf(df.repartition(17))
    assert(a == b)
    // positions within a shard are a contiguous 1..n ranking
    val byShard = a.values.groupBy(_._1)
    assert(byShard.keySet == (0 until 8).toSet)
    byShard.values.foreach { g =>
      assert(g.map(_._2).toList.sorted == (1L to g.size).toList)
    }
    // hash balance: no shard more than 2x the mean at 1000 rows
    assert(byShard.values.map(_.size).max < 2 * 1000 / 8)
  }

  test("tar shards round-trip in plan order, byte-deterministically") {
    import spark.implicits._
    val df = (0L until 120L).map(i => (i, s"document number $i " + "x" * (i % 40).toInt))
      .toDF("doc_id", "text")
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    val dirA = tempDir("tarA").toString
    val dirB = tempDir("tarB").toString
    Shards.writeTarShards(df, dirA, nShards = 4)
    Shards.writeTarShards(df, dirB, nShards = 4)
    val plan = Shards.shardPlan(df, nShards = 4)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byShard = plan.groupBy(_._2)
    (0 until 4).foreach { k =>
      val pa = f"$dirA/shard-$k%05d.tar"
      // reproducible-build: both writes byte-identical
      val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pa))
      val b = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(f"$dirB/shard-$k%05d.tar"))
      assert(java.util.Arrays.equals(a, b), s"shard $k not deterministic")
      assert(a.length % 512 == 0)
      // members stream in plan order with plan names and exact text
      val members = Shards.readTarShard(pa, hconf).toList
      val expect = byShard(k).sortBy(_._3)
      assert(members.map(_._1) ===
        expect.map { case (id, _, pos) => f"$pos%09d.$id.txt" }.toList)
      members.zip(expect).foreach { case ((_, bytes), (id, _, _)) =>
        assert(new String(bytes, "UTF-8").startsWith(s"document number $id "))
      }
    }
    // the archives also open with a reference tar implementation: the
    // JDK has none, so verify the ustar checksum invariant directly
    val first = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(f"$dirA/shard-${0}%05d.tar")).take(512)
    val stored = Integer.parseInt(new String(first, 148, 6, "US-ASCII"), 8)
    val recomputed = first.zipWithIndex.map { case (b, i) =>
      if (i >= 148 && i < 156) ' '.toInt else b & 0xff
    }.sum
    assert(stored === recomputed, "ustar checksum mismatch")
  }

  test("a tar truncated inside member padding refuses instead of hanging") {
    val hconf = graft.zarr.SerializableHadoopConf.fromActiveSession()
    val payload = "short".getBytes("UTF-8")
    val full = Shards.tarHeader("000000001.1.txt", payload.length.toLong) ++ payload
    // cut BEFORE the 512-padding completes (and before end blocks)
    val tmp = tempFile("trunc", ".tar")
    java.nio.file.Files.write(tmp, full ++ new Array[Byte](100))
    val e = intercept[IllegalArgumentException] {
      Shards.readTarShard(tmp.toString, hconf).toList
    }
    assert(e.getMessage.contains("truncated padding"))
  }
}
