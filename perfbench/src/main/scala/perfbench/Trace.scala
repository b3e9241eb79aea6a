package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One recorded interval. `op` groups the spans of one operation; times
  * are nanoseconds on the `System.nanoTime` clock. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Work Spark did for one operation, summed from listener events. */
final class ExecCounts {
  var jobs, stages, tasks = 0L
  var taskNanos, shuffleWrite, shuffleRead, spill = 0L
  val phases = ArrayBuffer.empty[(String, Long, Long)] // (phase, startMs, endMs)
}

/** Span recorder plus the Spark-side counters of a traced run.
  *
  * Spans are kept in memory and written out at the end. Each operation's
  * Spark jobs run under their own job group, so the listener files every
  * job, stage, task and SQL execution under the operation that caused it,
  * with no draining between operations. Catalyst phase times come from
  * the `QueryPlanningTracker` of each executed query: the frame's own
  * tracker for analysis during construction, and the tracker carried by
  * each SQL execution's end event for everything that ran. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var currentOp = -1
  private val byGroup = new ConcurrentHashMap[String, ExecCounts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  // QueryPlanningTracker reports wall-clock ms; spans use nanoTime
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private def group(op: Int, phase: String) = s"perfbench-op-$op-$phase"
  /** Counts of operation `op`'s `phase` ("construct" or "execute"). */
  def counts(op: Int, phase: String): ExecCounts =
    byGroup.computeIfAbsent(group(op, phase), _ => new ExecCounts)

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += null
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans(id) = Span(id, parent, currentOp, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** The root span of operation `op`. */
  def op[A](op: Int, name: String)(body: => A): A = {
    currentOp = op
    try span(name)(body) finally currentOp = -1
  }

  /** A phase of operation `op`: a child span whose Spark jobs run under
    * the phase's own job group. */
  def phase[A](op: Int, name: String)(body: => A): A = {
    counts(op, name)
    sc.setJobGroup(group(op, name), name, interruptOnCancel = false)
    try span(name)(body) finally sc.clearJobGroup()
  }

  /** Analysis done while the frame was constructed (Dataset creation
    * analyzes eagerly; that plan is never executed, so no SQL execution
    * event reports it). */
  def constructed(op: Int, df: DataFrame): Unit = {
    val c = counts(op, "construct")
    c.synchronized {
      c.phases ++= phasesOf(df.queryExecution.tracker)
        .filter(_._1 == QueryPlanningTracker.ANALYSIS)
    }
  }

  private def phasesOf(t: QueryPlanningTracker): Seq[(String, Long, Long)] =
    t.phases.toSeq.map { case (k, p) => (k, p.startTimeMs, p.endTimeMs) }

  val listener: SparkListener = new SparkListener {
    private def groupOf(props: java.util.Properties): Option[String] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("perfbench-op-"))

    override def onJobStart(e: SparkListenerJobStart): Unit =
      groupOf(e.properties).foreach { g =>
        val c = byGroup.computeIfAbsent(g, _ => new ExecCounts)
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
        e.stageIds.foreach(stageGroup.put(_, g))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val c = byGroup.get(g)
        val m = e.taskMetrics
        if (c != null && m != null) c.synchronized {
          c.tasks += 1
          c.taskNanos += m.executorRunTime * 1000000L
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.filter(_.startsWith("perfbench-op-"))
          .foreach(execGroup.put(s.executionId, _))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execGroup.remove(s.executionId)).foreach { g =>
          // the event's QueryExecution is Spark-internal API; read it
          // reflectively rather than compile against it
          val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
          val c = byGroup.get(g)
          if (qe != null && c != null) c.synchronized { c.phases ++= phasesOf(qe.tracker) }
        }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Catalyst phases as child spans of the span they ran in. */
  def catalystSpans(): Seq[Span] = {
    val byOp = spans.filter(_.op >= 0).groupBy(_.op)
    byGroup.asScala.toSeq.flatMap { case (g, c) =>
      val op = g.split('-')(2).toInt
      val opSpans = byOp.getOrElse(op, Seq.empty)
      c.phases.toSeq.flatMap { case (ph, s, e) =>
        val (ns, ne) = (s * 1000000L - clockOffsetNs, e * 1000000L - clockOffsetNs)
        // innermost span containing the phase start (ms resolution)
        val host = opSpans.filter(sp => sp.start - 1000000L <= ns && ns <= sp.end)
          .sortBy(sp => sp.end - sp.start).headOption
        host.map(h => Span(-1, h.id, op, s"catalyst.$ph", ns, math.max(ns, ne)))
      }
    }
  }
}

/** JVM-wide counters read as deltas around a region. */
object Gauges {
  final case class Snap(compiles: Long, compileNs: Long, artifactNs: Long)
  def snap(): Snap = Snap(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    graft.Tables.artifactBuildNanos.get)
}
