package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is 0 for an
  * op's root span. Times are nanoTime for durations and epoch millis for
  * matching against listener events, which carry epoch millis.
  */
final case class Span(id: Long, parent: Long, op: Int, name: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def durNs: Long = endNs - startNs
}

/** Span recorder. Disabled, `span` only runs its body: untraced runs pay
  * nothing. Enabled, it keeps every span in memory and tags the Spark jobs
  * a span starts with a thread-local property, so the listener can tie each
  * job to the innermost active span.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private var op = -1
  val spans = mutable.ArrayBuffer[Span]()

  def beginOp(i: Int): Unit = op = i

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        val (s1, m1) = (System.nanoTime(), System.currentTimeMillis())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, name, s0, s1, m0, m1)
      }
    }

  /** Self time per span: duration minus the union of its children. */
  def selfNs: Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = Stats.unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (c.startNs, c.endNs)).toSeq)
      s.id -> (s.durNs - cover)
    }.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-job counters gathered from task and stage events. */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var waitMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputRows = 0L
  var peakMem = 0L
}

/** One Catalyst action seen by the QueryExecutionListener. */
final case class ActionRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, planNodes: Int)

/** Listens from outside the engine: a SparkListener for jobs, stages and
  * tasks and a QueryExecutionListener for Catalyst phases. Both are
  * registered by the benchmark only for traced runs.
  */
final class Counters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[ActionRec]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val rec = new JobRec(e.jobId, span, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.put(s, rec))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
      j.synchronized { j.stages += 1 }
    }
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.synchronized {
        j.tasks += 1
        if (e.taskInfo.failed) j.failedTasks += 1
        val sub = Option(stageSubmit.get(e.stageId)).map(_.longValue)
          .getOrElse(e.taskInfo.launchTime)
        j.waitMs += math.max(0L, e.taskInfo.launchTime - sub)
        Option(e.taskMetrics).foreach { m =>
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.inputRows += m.inputMetrics.recordsRead
          j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        }
      }
    }
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val start = ph.get("analysis").map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    val nodes = scala.util.Try(collect(qe.executedPlan) { case p => p }.size).getOrElse(0)
    actions.add(ActionRec(start, ms("analysis"), ms("optimization"), ms("planning"), nodes))
    touch()
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Wait until every started job has ended and the bus has been quiet for
    * a moment, so counters are complete before they are read.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def open = jobs.values.asScala.exists(_.endMs < 0)
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEventMs < 300)) Thread.sleep(50)
  }

  def jobList: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.jobId)
}
