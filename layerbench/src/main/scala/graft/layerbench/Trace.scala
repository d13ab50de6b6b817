package graft.layerbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`; `parent` is the enclosing span's id (0 for an operation's root).
  */
final case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. `span` always
  * returns the body's duration; spans are only kept when `enabled`, and
  * are written out once, when the run ends.
  */
final class Tracer(val enabled: Boolean) {
  private val kept = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Long] = Nil
  private var currentOp = 0L

  /** Runs `body` as a new operation: a root span named `name`. */
  def op[T](name: String)(body: => T): (T, Long) = {
    currentOp = nextId
    span(name)(body)
  }

  def span[T](name: String)(body: => T): (T, Long) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally {
      stack = stack.tail
    }
    val t1 = System.nanoTime()
    if (enabled) kept += Span(id, parent, currentOp, name, t0, t1)
    (out, t1 - t0)
  }

  def spans: Seq[Span] = kept.toSeq

  /** Per span name: (count, total ms, self ms), where self time is a
    * span's duration minus the part of it that its child spans cover.
    */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val children = kept.groupBy(_.parent)
    kept.toSeq.map { s =>
      val covered = Tracer.unionNs(
        children.getOrElse(s.id, Nil).map(c => (c.startNs max s.startNs, c.endNs min s.endNs)).toSeq)
      (s.name, s.durNs, s.durNs - covered)
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (name, xs) =>
      (name, xs.size, xs.map(_._2).sum / 1e6, xs.map(_._3).sum / 1e6)
    }
  }
}

object Tracer {
  /** Total length of a union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a
        curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Cumulative Spark work counters, read at operation boundaries. */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    input: Long, records: Long, output: Long, peakExec: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, cpuNs - o.cpuNs,
    runMs - o.runMs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite,
    shuffleRead - o.shuffleRead, spill - o.spill, input - o.input,
    records - o.records, output - o.output, peakExec)
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks, cpuNs + o.cpuNs,
    runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, input + o.input,
    records + o.records, output + o.output, peakExec max o.peakExec)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** SparkListener that sums job, stage and task metrics. `peakExec` is the
  * largest per-task peak execution memory seen since the last `resetPeak`.
  */
final class SparkCounters extends SparkListener {
  private val c = Array.fill(12)(new AtomicLong)
  private val peak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = c(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c(3).addAndGet(m.executorCpuTime)
      c(4).addAndGet(m.executorRunTime)
      c(5).addAndGet(m.jvmGCTime)
      c(6).addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c(7).addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c(8).addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c(9).addAndGet(m.inputMetrics.bytesRead)
      c(10).addAndGet(m.inputMetrics.recordsRead)
      c(11).addAndGet(m.outputMetrics.bytesWritten)
      peak.accumulateAndGet(m.peakExecutionMemory, (a, b) => a max b)
    }
  }

  def resetPeak(): Unit = peak.set(0)

  def snapshot(sc: org.apache.spark.SparkContext): Counters = {
    org.apache.spark.LayerbenchBus.drain(sc)
    val v = c.map(_.get)
    Counters(v(0), v(1), v(2), v(3), v(4), v(5), v(6), v(7), v(8), v(9), v(10), v(11), peak.get)
  }
}

/** Operator counts of a final (post-AQE) physical plan. */
final case class PlanShape(exchanges: Int, scans: Int, sorts: Int, windows: Int) {
  def +(o: PlanShape): PlanShape =
    PlanShape(exchanges + o.exchanges, scans + o.scans, sorts + o.sorts, windows + o.windows)
}

object PlanShape {
  val zero: PlanShape = PlanShape(0, 0, 0, 0)

  /** Walks AdaptiveSparkPlanExec -> its final plan -> each QueryStageExec's
    * plan, and every subquery. A reused exchange is not counted again.
    */
  def of(plan: SparkPlan): PlanShape = {
    var ex, scans, sorts, wins = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec =>
        case e: Exchange => ex += 1; e.children.foreach(walk)
        case s: SortExec => sorts += 1; s.children.foreach(walk)
        case w: WindowExec => wins += 1; w.children.foreach(walk)
        case _: LeafExecNode => scans += 1
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    PlanShape(ex, scans, sorts, wins)
  }
}

/** QueryExecutionListener keeping each finished action's name and planner
  * phase durations (analysis, optimization, planning) until drained.
  */
final class ActionLog extends QueryExecutionListener {
  private val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Long])]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    buf.add(funcName -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs })
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    buf.add(s"$funcName!failed" -> Map.empty)

  /** Every action finished since the previous call. */
  def drain(): Seq[(String, Map[String, Long])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    var x = buf.poll()
    while (x != null) { out += x; x = buf.poll() }
    out.toSeq
  }
}
