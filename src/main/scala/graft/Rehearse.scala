package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import graft.zarr.SparkSessions
import scala.jdk.CollectionConverters._

/** Standalone runner for one at-scale rehearsal, by its [[Bench]] key:
  * the same [[Rehearsals]] entry, sizes and session config the bench
  * runs, in a fresh JVM with no query suite ahead of it, so a
  * tail-context reading can be told apart from a plan regression.
  *
  *   runMain graft.Rehearse <bench-key>     (e.g. i_ccl16m, t_dedup200k_skew)
  *
  * Sizes follow the bench's `SPARK_GRAFT_BENCH_*` overrides and cores
  * follow `SPARK_GRAFT_CPUS`. Prints one
  * `{"rehearsal":key,"sec":t,"max_post_gc_heap_mb":m}` JSON line (a
  * phased key prints the phase sum); `m` is the largest heap in use
  * right after a collection, over the run's collections — the live
  * heap, which the resident size of a large default heap does not
  * show. A failed invariant (checksum, recall, arming) throws and
  * exits non-zero.
  */
object Rehearse {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, s"usage: Rehearse <${Rehearsals.keys.mkString("|")}>")
    val rehearsal = Rehearsals(args(0))
    val spark = SparkSessions.local(SparkSessions.cpus, "graft-rehearse")
    val (sec, heap) = try maxPostGcHeap(rehearsal.run(spark).sum) finally spark.stop()
    def fmt(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    println(s"""{"rehearsal":"${rehearsal.key}","sec":${fmt(sec)},""" +
      s""""max_post_gc_heap_mb":${fmt(heap / 1048576.0)}}""")
  }

  /** Runs `body`; returns its result with the largest heap in use
    * after a garbage collection (bytes, heap pools only) in the
    * collections reported while it ran, 0 when none ran.
    */
  def maxPostGcHeap[T](body: => T): (T, Long) = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val peak = new AtomicLong()
    val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, math.max(_, _)): Unit
      }
    val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))
    try (body, peak.get) finally emitters.foreach(_.removeNotificationListener(listener))
  }
}
