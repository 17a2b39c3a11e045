package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters as cumulative totals; per-op figures are the
  * difference of two snapshots. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    emptyTasks: Long = 0, recordsRead: Long = 0, shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, executorRunMs: Long = 0,
    analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    gcMs: Long = 0) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, emptyTasks - o.emptyTasks, recordsRead - o.recordsRead,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, executorRunMs - o.executorRunMs,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, gcMs - o.gcMs)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, emptyTasks + o.emptyTasks, recordsRead + o.recordsRead,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, executorRunMs + o.executorRunMs,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, gcMs + o.gcMs)
}

/** The benchmark's own `SparkListener` and `QueryExecutionListener`:
  * counts jobs, stages and tasks, task I/O, spill and run time, keeps
  * job intervals for the driver-gap figure, and sums Catalyst's
  * analysis, optimization and planning phases per query. A task is
  * empty when it read no input record and no shuffle record. */
final class EngineProbe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private var c = Counters()
  private var peakExecMem = 0L
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      c = c.copy(tasks = c.tasks + 1,
        emptyTasks = c.emptyTasks + (if (read == 0) 1 else 0),
        recordsRead = c.recordsRead + read,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        executorRunMs = c.executorRunMs + m.executorRunTime)
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
      optimizationMs = c.optimizationMs + ms("optimization"),
      planningMs = c.planningMs + ms("planning"))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(): Counters = {
    drain()
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    var gcMs = 0L
    gc.forEach(b => gcMs += math.max(0L, b.getCollectionTime))
    synchronized(c.copy(gcMs = gcMs))
  }

  /** Highest per-task peak execution memory since the last reset. */
  def takePeakExecMem(): Long = synchronized { val p = peakExecMem; peakExecMem = 0; p }

  /** Milliseconds of [from, to) during which no job was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    val busy = jobSpans.iterator.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var cursor = from
    busy.foreach { case (s, e) =>
      if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
    }
    jobSpans.filterInPlace(_._2 >= to)
    (to - from) - covered
  }
}

/** One traced interval: a module call inside an op, or the op itself. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int, engine: Counters) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory when enabled; a disabled tracer only runs
  * the body, so timed runs carry no tracing cost. */
final class Tracer(val enabled: Boolean, probe: => EngineProbe) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var currentOp = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = probe.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, t0, t1, parent, currentOp, probe.snapshot() - before)
      }
    }
}

object Trace {
  /** Self time per layer: each span's duration minus the part of its
    * interval that its direct children cover. */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var cursor = s.startNs
        kids.foreach { case (a, b) =>
          if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}
