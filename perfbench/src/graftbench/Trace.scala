package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call the benchmark makes into the engine. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
    start: Long, var end: Long = 0L)

/** Spark's own counters for the jobs started under one span. */
final class SpanCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var peakMem = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around the benchmark's calls and Spark's counters through
  * a SparkListener, a QueryExecutionListener and a StreamingQueryListener.
  *
  * The current span id travels to Spark as a local property, so every job,
  * stage and task is charged to the span that started it — including the
  * jobs a streaming query runs on its own thread, which inherits the
  * property of the span that started the query. Listeners are attached
  * only while a traced operation runs.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "graftbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[Int, SpanCounters]()
  private val stack = mutable.Stack.empty[Span]
  private var op = -1

  // QueryExecutionListener + StreamingQueryListener totals
  val planningMs = new AtomicLong
  /** Planning time of the queries each traced operation ran. */
  val opPlanningMs = mutable.Map.empty[Int, Long]
  val streamProgress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(-1)
  private def c(span: Int) = counters.computeIfAbsent(span, _ => new SpanCounters)

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      e.stageIds.foreach(stageSpan.put(_, s))
      jobStart.put(e.jobId, (s, e.time))
      c(s).synchronized { c(s).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        val k = c(s)
        k.synchronized { k.jobIntervals += ((t0, e.time)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val k = c(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      k.synchronized { k.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val k = c(stageSpan.getOrDefault(e.stageId, -1))
      val m = e.taskMetrics
      k.synchronized {
        k.tasks += 1
        if (m != null) {
          k.runMs += m.executorRunTime
          k.cpuNs += m.executorCpuTime
          k.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          k.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          k.peakMem = math.max(k.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      streamProgress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Run one traced operation: listeners attached, a root span around it. */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    val planned = planningMs.get
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    try span(name)(body)
    finally {
      BenchBus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
      opPlanningMs(opId) = planningMs.get - planned
    }
  }

  /** A span around one call into the engine; nested spans are children. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, op, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack.push(s)
    sc.setLocalProperty(Prop, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  private def seconds(ns: Long): Double = ns / 1e9

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double =
    seconds((s.end - s.start) - spans.filter(_.parent == s.id).map(k => k.end - k.start).sum)

  /** Total self time of the spans with this name. */
  def selfSeconds(name: String): Double = spans.filter(_.name == name).map(selfSeconds).sum

  /** Counters summed over the spans with one of these names (all if empty). */
  def sum(names: String*): SpanCounters = {
    val ids = spans.filter(s => names.isEmpty || names.contains(s.name)).map(_.id).toSet
    val out = new SpanCounters
    counters.asScala.foreach { case (id, k) =>
      if (ids.contains(id)) {
        out.jobs += k.jobs; out.stages += k.stages; out.tasks += k.tasks
        out.runMs += k.runMs; out.cpuNs += k.cpuNs
        out.shuffleBytes += k.shuffleBytes; out.spillBytes += k.spillBytes
        out.peakMem = math.max(out.peakMem, k.peakMem)
        out.jobIntervals ++= k.jobIntervals
      }
    }
    out
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  /** Length of the union of [start, end) intervals (job times in ms,
    * connection lifetimes in ns). */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE != Long.MinValue) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE == Long.MinValue) 0L else total + (curE - curS)
  }
}
