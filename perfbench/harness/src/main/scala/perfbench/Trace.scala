package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.{DataWritingCommandExec, ExecutedCommandExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spark work caused by one span (a build, plan or exec call of one
  * entry), summed from listener events. */
final class Work {
  var jobs, stages, tasks, scanTasks = 0
  var taskWaitMs, taskRunMs, cpuNs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, outputBytes, outputRecords = 0L
  /** Wall-clock [start, end] of every job, epoch ms. */
  val jobWindows = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One QueryExecution that reached an action, as its listener saw it. */
final case class QeRecord(startMs: Long, durationNs: Long, analysisMs: Long,
  optimizerMs: Long, planningMs: Long, exchanges: Int, filesWritten: Long, isWrite: Boolean)

/** A closed span for the trace file. `parent` is null for entry spans. */
final case class SpanRecord(id: String, kind: String, name: String, parent: String,
  startMs: Long, endMs: Long)

/** Executor CPU of every finished task; cheap enough for untimed use. */
final class CpuCounter extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
}

object Tracer {
  /** Local property naming the span whose call submitted a job. Spark
    * carries local properties onto jobs, including those AQE and
    * broadcasts submit from their own threads. */
  val SpanKey = "perfbench.span"

  /** Exchanges in a plan as it finally ran: AQE's current (final after
    * execution) plan and each query stage's exchange; reused exchanges
    * do no work and are not counted. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan)
    case other =>
      (if (other.isInstanceOf[Exchange]) 1 else 0) +
        other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** Files a write command reports in its `numFiles` metric. */
  def filesWritten(p: SparkPlan): Option[Long] = {
    val own = p match {
      case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value)
      case c: ExecutedCommandExec => c.cmd.metrics.get("numFiles").map(_.value)
      case _ => None
    }
    val kids = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children
    }).flatMap(filesWritten)
    if (own.isEmpty && kids.isEmpty) None else Some(own.getOrElse(0L) + kids.sum)
  }
}

/** Attributes jobs, stages, tasks and QueryExecutions to the span that
  * caused them. Listener callbacks run on Spark's bus threads; the
  * driver thread reads the maps only after draining the buses. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer.SpanKey
  val work = mutable.HashMap.empty[String, Work]
  val spans = mutable.ArrayBuffer.empty[SpanRecord]
  private val qes = mutable.ArrayBuffer.empty[QeRecord]
  private val jobSpan = mutable.HashMap.empty[Int, (String, Long)]
  private val stageJob = mutable.HashMap.empty[Int, (String, Int)]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]

  def addSpan(s: SpanRecord): Unit = synchronized(spans += s)

  private def w(span: String) = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
      jobSpan(e.jobId) = (span, e.time)
      e.stageIds.foreach(s => stageJob(s) = (span, e.jobId))
      w(span).jobs += 1
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      w(span).jobWindows += ((start, e.time))
      addSpan(SpanRecord(s"job${e.jobId}", "job", s"job ${e.jobId}", span, start, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach { case (span, _) =>
      stageSubmit(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      w(span).stages += 1
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { case (_, job) =>
      val start = stageSubmit.getOrElse(si.stageId, si.submissionTime.getOrElse(0L))
      addSpan(SpanRecord(s"stage${si.stageId}.${si.attemptNumber()}", "stage",
        si.name, s"job$job", start, si.completionTime.getOrElse(start)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).foreach { case (span, _) =>
      val s = w(span)
      s.tasks += 1
      stageSubmit.get(e.stageId).foreach(t => s.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
      val m = e.taskMetrics
      if (m != null) {
        s.taskRunMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        if (m.inputMetrics.recordsRead > 0 || m.inputMetrics.bytesRead > 0) s.scanTasks += 1
        s.outputBytes += m.outputMetrics.bytesWritten
        s.outputRecords += m.outputMetrics.recordsWritten
      }
    }

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(name: String) = ph.get(name).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() - durationNs / 1000000L
      else ph.values.map(_.startTimeMs).min
    val plan = qe.executedPlan
    val files = Tracer.filesWritten(plan)
    synchronized {
      qes += QeRecord(start, durationNs, ms("analysis"), ms("optimization"), ms("planning"),
        Tracer.exchanges(plan), files.getOrElse(0L), files.isDefined)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  /** QueryExecutions whose planning began in [startMs, endMs]. */
  def qesIn(startMs: Long, endMs: Long): Seq[QeRecord] =
    synchronized(qes.filter(q => q.startMs >= startMs && q.startMs <= endMs).toSeq)

  /** Forget per-entry state once an entry's figures are taken. */
  def clearWork(): Unit = {
    work.clear(); stageSubmit.clear(); stageJob.clear()
    synchronized(qes.clear())
  }
}
