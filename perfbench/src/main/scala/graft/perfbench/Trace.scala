package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into a layer, made from the client thread. */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans and counters, kept in memory and written out when the run
  * ends. With `enabled = false` every call is a plain pass-through, so
  * the untraced run pays nothing but a branch per layer call.
  *
  * The client thread is the only caller. The innermost open span's
  * name and the current operation id ride on the SparkContext's local
  * properties, so the listener can charge each Spark job to the layer
  * call that launched it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  private var stack = List.empty[(Int, String, Long)] // (id, name, start)
  private var nextId = 0
  private var op = -1L

  /** Operations carry ids 0, 1, …; -1 marks set-up and warm-up. */
  def setOp(id: Long): Unit = if (enabled) {
    op = id
    sc.setLocalProperty(Tracer.OpProp, id.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name, System.nanoTime()) :: stack
      sc.setLocalProperty(Tracer.SpanProp, name)
      try body
      finally {
        val (_, _, start) = stack.head
        stack = stack.tail
        spans += Span(id, name, parent, op, start, System.nanoTime())
        sc.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_._2).orNull)
      }
    }

  def count(name: String, delta: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + delta

  /** Self time of every span: its duration minus the time its direct
    * children cover (children run on the same thread, so they never
    * overlap one another).
    */
  def selfNs: Map[Int, Long] = {
    val childNs = mutable.HashMap.empty[Int, Long]
    spans.foreach(s =>
      if (s.parent >= 0) childNs(s.parent) = childNs.getOrElse(s.parent, 0L) + s.durNs)
    spans.iterator.map(s => s.id -> (s.durNs - childNs.getOrElse(s.id, 0L))).toMap
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val OpProp = "perfbench.op"
}

/** Per-layer totals of Spark's own telemetry, kept by a `SparkListener`
  * and a `QueryExecutionListener` that the benchmark registers. Only
  * jobs launched inside a timed operation (op id >= 0) are counted.
  */
final class SparkTelemetry extends SparkListener with QueryExecutionListener {
  private val spanOfStage = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  val jobsBySpan = mutable.HashMap.empty[String, Long]
  val shuffleBySpan = mutable.HashMap.empty[String, Long]
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var schedWaitMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  val phaseMs = mutable.HashMap.empty[String, Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpProp)))
      .map(_.toLong).getOrElse(-1L)
    if (op >= 0) {
      val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .getOrElse("none")
      jobs += 1
      stages += e.stageIds.size
      jobsBySpan(span) = jobsBySpan.getOrElse(span, 0L) + 1
      e.stageIds.foreach(s => spanOfStage(s) = span)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmitted(e.stageInfo.stageId) = t)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    spanOfStage.get(e.stageId).foreach { span =>
      tasks += 1
      stageSubmitted.get(e.stageId).foreach(t =>
        schedWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        taskRunMs += m.executorRunTime
        val sh = m.shuffleWriteMetrics.bytesWritten
        shuffleBytes += sh
        shuffleBySpan(span) = shuffleBySpan.getOrElse(span, 0L) + sh
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phaseMs(name) = phaseMs.getOrElse(name, 0.0) + p.durationMs
    }
  }

  /** Set by the client while an operation runs; the client drains the
    * listener bus before clearing it, so every Catalyst callback of the
    * operation arrives while it is set.
    */
  @volatile var inOp = false

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (inOp) phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (inOp) phases(qe)
}

object SparkTelemetry {
  def register(spark: SparkSession): SparkTelemetry = {
    val t = new SparkTelemetry
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}
