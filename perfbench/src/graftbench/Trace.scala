package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.Connector

/** One timed interval around a call into a layer. Times are nanoseconds
  * since the run's origin; `parent` 0 marks an operation's root span. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
                      start: Long, end: Long)

/** Span recorder. Spans stay in memory and are written out when the run
  * ends. With `enabled` false it only times (the untraced runs that give
  * the end-to-end metrics record nothing and register no listener). */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  val originNs: Long = System.nanoTime()
  val originMs: Long = System.currentTimeMillis()
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Operation whose listener events are being delivered (see [[ListenerBus]]). */
  @volatile var op: Int = -1
  private var stack: List[Int] = List(0)
  private var nextId = 1
  /** Duration in seconds of the last span closed on this tracer. */
  var lastSeconds: Double = 0.0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    if (enabled) {
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      sc.setLocalProperty(Tracer.OpKey, op.toString)
    }
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      lastSeconds = (t1 - t0) / 1e9
      if (enabled) {
        spans += Span(op, id, parent, name, t0 - originNs, t1 - originNs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.head.toString)
      }
    }
  }

  /** Epoch milliseconds (listener clocks) to run-relative nanoseconds. */
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"
}

/** Per-operation sums of the task metrics a [[ExecListener]] sees. */
final class TaskTotals {
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** Jobs and task metrics, attributed to the operation and span that were
  * current on the submitting thread (Spark copies local properties into
  * job, stage and broadcast threads). Callbacks run on the listener bus;
  * the fields are read only after [[ListenerBus.drain]]. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  /** (op, span, jobId, start, end) in run-relative nanoseconds. */
  val jobs = mutable.ArrayBuffer.empty[(Int, Int, Int, Long, Long)]
  val totals = mutable.Map.empty[Int, TaskTotals]
  private val started = mutable.Map.empty[Int, (Int, Int, Long)]
  private val stageOp = mutable.Map.empty[Int, Int]

  private def prop(p: java.util.Properties, k: String): Int =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    started(e.jobId) = (prop(e.properties, Tracer.OpKey),
      prop(e.properties, Tracer.SpanKey), tracer.fromEpochMs(e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    started.remove(e.jobId).foreach { case (op, span, start) =>
      jobs += ((op, span, e.jobId, start, tracer.fromEpochMs(e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp(e.stageInfo.stageId) = prop(e.properties, Tracer.OpKey)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageOp.getOrElse(e.stageId, -1), new TaskTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** One finished Dataset action as a [[PlanListener]] saw it. */
final case class QueryEvent(op: Int, func: String, durationNs: Long,
                            phases: Map[String, (Long, Long)], exchanges: Int,
                            write: Boolean)

/** Catalyst phases (from `QueryExecution.tracker`), exchange counts and
  * durations of every finished action, and whether it wrote data. Attributed to the
  * tracer's current operation, which is sound because the bus is drained
  * between operations. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val events = mutable.ArrayBuffer.empty[QueryEvent]

  override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, s) =>
      k -> (tracer.fromEpochMs(s.startTimeMs), tracer.fromEpochMs(s.endTimeMs))
    }
    val plan = qe.executedPlan match {
      case c: CommandResultExec => c.commandPhysicalPlan
      case p => p
    }
    val exchanges = collectWithSubqueries(plan) { case x: Exchange => x }.size
    val write = plan.exists {
      case _: DataWritingCommandExec | _: V2TableWriteExec => true
      case _ => false
    }
    events += QueryEvent(tracer.op, func, durationNs, phases, exchanges, write)
  }

  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Delegating [[Connector]] that times the fetch and the parse as spans. */
final class TimedConnector(inner: Connector, tracer: Tracer) extends Connector {
  def name: String = inner.name
  def fetchRaw(logicalDate: String): Seq[String] =
    tracer.span("sources.fetch")(inner.fetchRaw(logicalDate))
  def toBronze(spark: SparkSession, raw: Seq[String]): DataFrame =
    tracer.span("sources.parse")(inner.toBronze(spark, raw))
}
