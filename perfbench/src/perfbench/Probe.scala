package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters summed over every job, stage and task that ends while
  * the probe is registered. Read as drained snapshots around one
  * operation, their difference is that operation's share. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    cpuNs: Long, runMs: Long, gcMs: Long, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, inputB: Long, inputRows: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, inputB - o.inputB, inputRows - o.inputRows)
  def cpuS: Double = cpuNs / 1e9
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The benchmark's own Spark listener. Counters are always kept (task CPU
  * is an end-to-end metric); with `traced` it also records each completed
  * stage's wall-clock interval, from which an operation's time outside any
  * running stage is computed. */
final class Probe(traced: Boolean) extends SparkListener {
  private val jobs, stages, tasks, cpuNs, runMs, gcMs, shRead, shWrite,
    spill, inB, inRows = new AtomicLong
  private val intervals = ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    if (traced) for (s <- i.submissionTime; c <- i.completionTime)
      intervals.synchronized(intervals += ((s, c)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      inB.addAndGet(m.inputMetrics.bytesRead)
      inRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Counters after every queued event has been delivered. */
  def snapshot(sc: SparkContext): Counters = {
    org.apache.spark.perfbench.Drain(sc)
    Counters(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get, gcMs.get,
      shRead.get, shWrite.get, spill.get, inB.get, inRows.get)
  }

  /** Milliseconds of `[from, to]` (epoch ms) covered by no completed stage. */
  def gapMs(from: Long, to: Long): Long = {
    val in = intervals.synchronized(intervals.toList)
      .map { case (s, c) => (math.max(s, from), math.min(c, to)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var covered = 0L
    var end = from
    for ((s, c) <- in) {
      val s1 = math.max(s, end)
      if (c > s1) { covered += c - s1; end = c }
    }
    (to - from) - covered
  }
}

/** One traced interval; spans of one operation share `op`. */
final case class Span(id: Int, parent: Int, name: String, op: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder: spans are kept until the run ends and written
  * out in one piece, so recording costs two clock reads per span. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var next = 0

  /** Runs `f` inside a span named `name` under `parent`; returns the span
    * id with the result. With tracing off, runs `f` alone. */
  def span[T](name: String, op: String, parent: Int)(f: Int => T): T =
    if (!on) f(-1)
    else {
      val id = synchronized { next += 1; next }
      val t0 = System.nanoTime()
      try f(id)
      finally {
        val t1 = System.nanoTime()
        synchronized(spans += Span(id, parent, name, op, t0, t1))
      }
    }

  /** Self time per span name: a span's duration minus its children's. */
  def selfTimes: Map[String, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - child.getOrElse(s.id, 0L)).sum / 1e9 }
  }
}
