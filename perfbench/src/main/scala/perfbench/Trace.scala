package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. Times are epoch milliseconds with sub-millisecond
  * fractions, so they compare directly with Spark's event timestamps.
  * `parent` is -1 for a root span; `op` is the workload op it ran in.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object SpanMath {
  /** Self time of every span: its duration minus the part of it covered
    * by its children. Children may overlap each other (concurrent
    * calls), so the covered part is the length of the union of the
    * children's intervals, clipped to the parent.
    */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }

  /** The span an event at `eventMs` belongs to: the innermost span whose
    * window holds it. Spark stamps events with whole milliseconds
    * (truncated), so a window starts at the whole millisecond its span
    * started in; among several candidates the latest-starting one wins,
    * which is the innermost of nested spans and the later of two
    * back-to-back siblings.
    */
  def attribute(spans: Seq[Span], eventMs: Long): Option[Span] =
    spans.iterator
      .filter(s => math.floor(s.startMs) <= eventMs && eventMs <= s.endMs)
      .maxByOption(s => (s.startMs, -s.durMs))
}

/** Records spans from the benchmark's own thread. Nesting follows the
  * call stack of `span`; nothing inside the measured program is touched.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = nowMs
      try f
      finally {
        stack.pop()
        done += Span(id, name, parent, op, t0, nowMs)
      }
    }

  def spans: Seq[Span] = done.toSeq
}

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int])
final case class StageRec(stageId: Int, submittedMs: Long, firstLaunchMs: Long)
final case class TaskRec(
    stageId: Int, launchMs: Long, durMs: Long, resultBytes: Long, inputBytes: Long,
    outputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    failed: Boolean)
/** Planning phases of one executed query, from its `QueryPlanningTracker`. */
final case class PlanRec(atMs: Long, analyzeMs: Long, optimizeMs: Long, physicalMs: Long)

/** Collects scheduler, task and query-planning events. Registered by the
  * benchmark on the session it creates; events arrive on Spark's
  * listener bus and are only read after the bus has drained.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  private val stageRecs = new ConcurrentLinkedQueue[StageRec]()
  private val taskRecs = new ConcurrentLinkedQueue[TaskRec]()
  private val planRecs = new ConcurrentLinkedQueue[PlanRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobRecs.add(JobRec(e.jobId, e.time, e.stageIds))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageRecs.add(StageRec(si.stageId, si.submissionTime.getOrElse(-1L), -1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m == null) return
    taskRecs.add(TaskRec(
      e.stageId, i.launchTime, i.finishTime - i.launchTime, m.resultSize,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, !i.successful))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L)
    val at = ph.get("planning").orElse(ph.get("analysis")).map(_.startTimeMs)
      .getOrElse(System.currentTimeMillis())
    planRecs.add(PlanRec(at, ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def jobs: Seq[JobRec] = jobRecs.asScala.toSeq

  /** Stages with their first task launch, for the scheduler-wait figure. */
  def stages: Seq[StageRec] = {
    val first = taskRecs.asScala.groupMapReduce(_.stageId)(_.launchMs)(math.min)
    stageRecs.asScala.toSeq.map(s => s.copy(firstLaunchMs = first.getOrElse(s.stageId, s.submittedMs)))
  }

  def tasks: Seq[TaskRec] = taskRecs.asScala.toSeq
  def plans: Seq[PlanRec] = planRecs.asScala.toSeq
}
