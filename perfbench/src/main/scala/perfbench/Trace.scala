package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in nanoseconds from the start of the run. `parent`
  * is the index of the enclosing span in the run's span list, or -1. */
final case class Span(opId: Int, layer: String, name: String, start: Long, end: Long, parent: Int) {
  def ms: Double = (end - start) / 1e6
}

/** What Spark reports for one operation, summed over its jobs, stages,
  * tasks and query executions. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, delayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillDiskBytes = 0L
  var inputBytes, outputBytes, filesRead, unpartitionedWindows = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  /** Job intervals in epoch milliseconds. */
  val jobSpans: ArrayBuffer[(Long, Long)] = ArrayBuffer.empty
}

/** Listener that files Spark's events into the current operation's
  * [[Counters]]. Registered only for traced runs; operations run one at a
  * time and the listener bus is drained at each operation's edges, so
  * every event between two drains belongs to the operation between them. */
final class Probe extends SparkListener with QueryExecutionListener {
  private var cur = new Counters
  private val jobStarts = mutable.Map.empty[Int, Long]

  /** Returns the counters gathered since the previous call and starts afresh. */
  def take(): Counters = synchronized { val c = cur; cur = new Counters; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    cur.jobs += 1
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.runMs += m.executorRunTime
      cur.cpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spillDiskBytes += m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.outputBytes += m.outputMetrics.bytesWritten
      val i = e.taskInfo
      val gettingResult = if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L
      cur.delayMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = Probe.executedNodes(qe.executedPlan)
    synchronized {
      cur.analysisMs += phase("analysis")
      cur.optimizationMs += phase("optimization")
      cur.planningMs += phase("planning")
      cur.unpartitionedWindows += nodes.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      cur.filesRead += nodes.collect { case s: FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
  }
}

object Probe {
  /** Every node of an executed plan, through adaptive plans, query stages,
    * reused exchanges and subqueries. */
  def executedNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => executedNodes(a.executedPlan)
    case q: QueryStageExec => executedNodes(q.plan)
    case r: ReusedExchangeExec => executedNodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(executedNodes)
  }
}

/** One measured operation. `counters` and `coverage` exist in traced runs
  * only; `coverage` is the share of the operation's wall time covered by
  * its named layer spans. */
final case class Op(id: Int, kind: String, group: Int, ms: Double, var ok: Boolean,
                    counters: Option[Counters], gapMs: Double, coverage: Double)

/** Times operations and, when traced, records layer spans around each call
  * into the program and files Spark's events per operation. Untraced, a
  * span is a plain call and nothing is registered with Spark. */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val t0 = System.nanoTime()
  private val probe = new Probe
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val ops: ArrayBuffer[Op] = ArrayBuffer.empty
  private var stack: List[Int] = Nil
  private var heapPeak = 0L
  private val heap = ManagementFactory.getMemoryMXBean
  if (traced) {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  private def now: Long = System.nanoTime() - t0

  /** Records `body` as a span of `layer` named `name` inside the current
    * operation. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!traced) body
    else {
      val idx = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val start = now
      spans += Span(ops.size, layer, name, start, start, parent)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = now)
      }
    }

  /** Runs one operation of `kind`. `group` ties operations that form one
    * unit of the workload (a churn round); it is the operation's own id
    * when omitted. Returns the result and the recorded [[Op]]; an operation
    * that throws is recorded as failed and the exception is rethrown. */
  def op[T](kind: String, group: Int = -1)(body: => T): (T, Op) = {
    if (traced) { org.apache.spark.BusDrain.drain(spark.sparkContext); probe.take() }
    val id = ops.size
    val rootIdx = spans.size
    val wallStart = System.currentTimeMillis()
    val start = System.nanoTime()
    val result = try span("bench", kind)(body) catch {
      case e: Throwable =>
        ops += Op(id, kind, if (group < 0) id else group, (System.nanoTime() - start) / 1e6,
          ok = false, None, 0, 0)
        throw e
    }
    val ms = (System.nanoTime() - start) / 1e6
    val wallEnd = System.currentTimeMillis()
    val (counters, gap, coverage) =
      if (!traced) (None, 0.0, 0.0)
      else {
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        val c = probe.take()
        heapPeak = math.max(heapPeak, heap.getHeapMemoryUsage.getUsed)
        val jobs = c.jobSpans.map { case (s, e) => (math.max(s, wallStart), math.min(e, wallEnd)) }
        val root = spans(rootIdx)
        val children = spans.drop(rootIdx + 1).filter(_.parent == rootIdx).map(s => (s.start, s.end))
        (Some(c), math.max(0.0, (wallEnd - wallStart) - Tracer.unionLength(jobs)),
          Tracer.unionLength(children).toDouble / math.max(1L, root.end - root.start))
      }
    val op = Op(id, kind, if (group < 0) id else group, ms, ok = true, counters, gap, coverage)
    ops += op
    (result, op)
  }

  def heapPeakMb: Double = heapPeak / 1048576.0

  /** Self time of each span: its duration minus what its children cover. */
  def selfMs(i: Int): Double = {
    val s = spans(i)
    val kids = spans.indices.filter(j => spans(j).parent == i).map(j => (spans(j).start, spans(j).end))
    (s.end - s.start - Tracer.unionLength(kids)) / 1e6
  }

  def close(): Unit = if (traced) {
    spark.listenerManager.unregister(probe)
    spark.sparkContext.removeSparkListener(probe)
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var reach = Long.MinValue
    iv.toSeq.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s >= reach) { total += e - s; reach = e }
      else if (e > reach) { total += e - reach; reach = e }
    }
    total
  }
}
