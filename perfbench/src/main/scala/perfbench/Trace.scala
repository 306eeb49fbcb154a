package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One clock for spans and Spark events: epoch milliseconds with a
  * sub-millisecond fraction, derived from nanoTime so span durations
  * keep their precision while staying comparable with the listener
  * events' epoch-millisecond timestamps.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans the benchmark opens around each public call it makes into a
  * layer. Spans are kept in memory and written out with the run's
  * result. While a span is open its id rides as a thread-local Spark
  * property, so every job the call submits carries the id of the
  * innermost open span (the listener reads it at job start).
  */
final class Spans(sc: SparkContext) {
  import Spans._

  private val recorded = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  /** Spans are recorded only while enabled; otherwise [[apply]] just
    * runs its body. */
  var enabled = false
  /** The op (tick, query, batch) the spans opened now belong to. */
  var op = -1

  def apply[A](layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(recorded.size, stack.headOption.fold(-1)(_.id), layer,
        op, Clock.nowMs)
      recorded += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.t1 = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def all: Seq[Span] = recorded.toSeq
}

object Spans {
  final case class Span(id: Int, parent: Int, layer: String, op: Int,
                        t0: Double, var t1: Double = Double.NaN)
  /** Thread-local Spark property naming the innermost open span. */
  val SpanKey = "perfbench.span"
}

/** Records every Spark job with the span it was submitted under, sums
  * each job's task metrics, and notes when each SQL execution started.
  * Event times are the scheduler's own timestamps, not the (asynchronous)
  * listener's delivery time.
  */
final class JobLog extends SparkListener {
  final class Job(val id: Int, val span: Int, val t0: Long,
                  val execution: Long) {
    var t1: Long = -1L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var outputRecords = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val executions = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(Spans.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, new Job(e.jobId, span, e.time, exec))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageToJob.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => executions.add((s.executionId, s.time))
    case _ =>
  }

  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)
  def allExecutions: Seq[(Long, Long)] = executions.asScala.toSeq
}

object JobLog {
  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbenchbridge.ListenerBus.drain(sc)
}
