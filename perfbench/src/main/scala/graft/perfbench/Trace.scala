package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Times are epoch nanoseconds, so they line up with
  * the epoch-millisecond submission times Spark stamps on stages and jobs. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
  def wall: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest by call structure on the driver
  * thread; `enabled = false` (untraced runs) makes every call a plain
  * function call. Spans are written out only when the benchmark ends. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val t0 = now()
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, now())
    }
  }

  /** Record an interval measured elsewhere (e.g. a crawler round whose
    * boundaries come from the crawler's own round hook). */
  def record(name: String, start: Long, end: Long): Unit = if (enabled) {
    val id = nextId; nextId += 1
    spans += Span(id, stack.headOption.getOrElse(-1), name, start, end)
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** Part of `[s.start, s.end]` covered by the union of `parts`. */
  def covered(s: Span, parts: Seq[Span]): Long = {
    var sum = 0L
    var reach = s.start
    parts.map(p => (math.max(p.start, s.start), math.min(p.end, s.end)))
      .filter(p => p._2 > p._1).sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { sum += b - math.max(a, reach); reach = b }
      }
    sum
  }

  /** Span duration minus the part of it its children cover. */
  def selfTime(s: Span): Double = ((s.end - s.start) - covered(s, children(s.id))) / 1e9
}

/** Totals of one stage, as the listener saw it complete. */
final case class StageTotals(submitted: Long, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Benchmark-owned listener: records every completed stage and every job
  * interval. Attribution to benchmark spans happens afterwards, by the
  * stage's submission time, because the crawler's action pool reuses
  * threads and job groups would mislabel work. */
final class StageListener extends SparkListener {
  val stages = mutable.ArrayBuffer.empty[StageTotals]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
    val i = sc.stageInfo
    val m = i.taskMetrics
    if (m != null) stages += StageTotals(i.submissionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobStart(j.jobId) = j.time }
  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(j.jobId).foreach(s => jobs += ((s, j.time)))
  }

  def clear(): Unit = synchronized { stages.clear(); jobs.clear(); jobStart.clear() }
}

object StageListener {
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchAccess.drainListeners(sc)
}
