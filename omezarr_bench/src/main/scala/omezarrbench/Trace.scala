package omezarrbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation of the closed loop. `wall0`/`wall1` are epoch
  * milliseconds (the clock Spark stamps its events with), `ms` the
  * monotonic duration.
  */
final case class OpRec(id: Long, kind: String, traced: Boolean, ok: Boolean,
    wall0: Long, wall1: Long, ms: Double, cpuMs: Double)

/** One span around a call into a layer. `parent` is the index of the
  * enclosing span in [[Tracer.spans]] (-1 for an op's root span).
  */
final class Span(val name: String, val parent: Int, val op: Long,
    val t0: Long, val wall0: Long) {
  var t1: Long = -1L
  var wall1: Long = -1L
  def ms: Double = (t1 - t0) / 1e6
}

object Tracer {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of this JVM, in nanoseconds. */
  def processCpuNs: Long = os.getProcessCpuTime
}

/** Spans and op records, kept in memory and written once at the end.
  *
  * Every op is timed. An op is traced only when tracing is enabled AND
  * the caller asks for it: a traced run alternates traced and untraced
  * ops of each kind, so the ratio of their medians is the tracing
  * overhead. Spans inside an untraced op cost one boolean test.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRec]
  private var nextOp = 0L
  private var stack: List[Int] = Nil
  private var current = -1L

  def op[T](kind: String, traced: Boolean)(body: => T): T = {
    nextOp += 1
    val id = nextOp
    val tr = enabled && traced
    val w0 = System.currentTimeMillis()
    val c0 = Tracer.processCpuNs
    val t0 = System.nanoTime()
    if (tr) { current = id; open(kind) }
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      if (tr) { close(); current = -1L }
      ops += OpRec(id, kind, tr, ok, w0, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e6, (Tracer.processCpuNs - c0) / 1e6)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (current < 0) body
    else { open(name); try body finally close() }

  def tracing: Boolean = current >= 0

  private def open(name: String): Unit = {
    spans += new Span(name, stack.headOption.getOrElse(-1), current,
      System.nanoTime(), System.currentTimeMillis())
    stack = (spans.length - 1) :: stack
  }

  private def close(): Unit = {
    val s = spans(stack.head)
    s.t1 = System.nanoTime()
    s.wall1 = System.currentTimeMillis()
    stack = stack.tail
  }

  /** Self time of every span: its duration minus the time its direct
    * children cover (children of one span run one after another).
    */
  def selfMs: IndexedSeq[Double] = {
    val child = Array.fill(spans.length)(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.ms)
    spans.indices.map(i => spans(i).ms - child(i))
  }

  def closed(name: String): Seq[Span] = spans.toSeq.filter(s => s.name == name && s.t1 >= 0)

  def windows(kind: String): Seq[(Long, Long)] =
    ops.toSeq.filter(o => o.traced && o.kind == kind).map(o => (o.wall0, o.wall1))
}

/** Per-job counters from Spark's scheduler events. */
final class JobRec(val id: Int, val start: Long) {
  var end: Long = -1L
  var tasks = 0
  var failedTasks = 0
  var maxTaskMs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def wallMs: Long = if (end >= start) end - start else 0L
}

/** SparkListener the benchmark registers: jobs, their tasks and what
  * the tasks did (run time, GC, shuffle, spill, failures).
  */
final class SparkEvents extends SparkListener {
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toSeq)

  /** Jobs that started inside one of the given [wall0, wall1] windows. */
  def within(ws: Seq[(Long, Long)]): Seq[JobRec] =
    all.filter(j => ws.exists { case (a, b) => j.start >= a && j.start <= b })
}

/** QueryExecutionListener the benchmark registers: per SQL action, the
  * analysis + optimization + planning time from its
  * `QueryPlanningTracker`, stamped with when planning started.
  */
final class QueryEvents extends QueryExecutionListener {
  private val recs = ArrayBuffer.empty[(Long, Long)]

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val start =
      if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    synchronized(recs += ((start, planMs)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def within(ws: Seq[(Long, Long)]): Seq[Long] = synchronized {
    recs.toSeq.collect { case (t, ms) if ws.exists { case (a, b) => t >= a && t <= b } => ms }
  }
}
