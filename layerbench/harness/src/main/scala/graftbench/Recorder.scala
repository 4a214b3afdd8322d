package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the listener saw it; times are epoch milliseconds. */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])

/** One completed stage attempt with its tasks' summed metrics. */
final case class StageRec(
    id: Int, attempt: Int, submitMs: Long, endMs: Long, tasks: Int,
    taskRunMs: Long, taskCpuNs: Long, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long)

/** One finished action's planning, read from its own QueryExecution:
  * Catalyst phase intervals (epoch ms) and the executed plan's exchange
  * and `TopKPerKey` node counts.
  */
final case class PlanRec(
    phases: Map[String, (Long, Long)], exchanges: Int, topkNodes: Int)

/** Everything recorded between two drains of the listener bus. */
final case class PhaseEvents(jobs: Seq[JobRec], stages: Seq[StageRec], plans: Seq[PlanRec])

/** The traced run's listener. Registered only while a traced pass runs;
  * the harness drains the bus after each phase and calls [[take]], so the
  * events returned belong to that phase alone.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  // (stage, attempt) -> running sums over the attempt's finished tasks
  private val taskSums = mutable.Map.empty[(Int, Int), Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (start, stageIds) =>
      jobs += JobRec(e.jobId, start, e.time, stageIds)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = taskSums.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](8))
    s(0) += 1
    val m = e.taskMetrics
    if (m != null) {
      s(1) += m.executorRunTime
      s(2) += m.executorCpuTime
      s(3) += m.shuffleWriteMetrics.bytesWritten
      s(4) += m.shuffleReadMetrics.totalBytesRead
      s(5) += m.memoryBytesSpilled + m.diskBytesSpilled
      s(6) += m.inputMetrics.bytesRead
      s(7) += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = taskSums.remove((i.stageId, i.attemptNumber())).getOrElse(new Array[Long](8))
    stages += StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), s(0).toInt, s(1), s(2), s(3), s(4), s(5), s(6), s(7))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    // A failed action may have no executed plan; its phases still count.
    val nodes = scala.util.Try(
      new AdaptiveSparkPlanHelper {}.collectWithSubqueries(qe.executedPlan) { case p => p })
      .getOrElse(Nil)
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val topk = nodes.count(_.nodeName.startsWith("TopKPerKey"))
    synchronized { plans += PlanRec(phases, exchanges, topk) }
  }

  /** The events recorded since the previous call. Call only after
    * draining the listener bus.
    */
  def take(): PhaseEvents = synchronized {
    val out = PhaseEvents(jobs.toList, stages.toList, plans.toList)
    jobs.clear(); stages.clear(); plans.clear()
    out
  }
}
