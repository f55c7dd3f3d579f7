package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals, summed from task-end events. */
final class StageRec(val stageId: Int, val attempt: Int, val name: String) {
  var numTasks = 0
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
  var outputB = 0L
  var outputRows = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, startMs: Long, stageIds: Seq[Int]) {
  var endMs = 0L
}

/** The traced run's event sink: a SparkListener for jobs, stages, tasks,
  * SQL executions and AQE re-plans, and a QueryExecutionListener for the
  * `graft_cap:` observed metrics. It only records; spans and per-layer
  * metrics are derived after the run ([[Layers]]). Jobs and executions
  * are matched to the benchmark's phases by their event timestamps, so
  * the asynchronous listener bus cannot misattribute them.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  val executionStartMs = mutable.LinkedHashMap.empty[Long, Long]
  val replans = mutable.Map.empty[Long, Int].withDefaultValue(0)
  /** executionId -> (total_keys, capped_keys) over its graft_cap metrics */
  val caps = mutable.Map.empty[Long, (Long, Long)]
  private var jobsEnded = 0
  private var executionsEnded = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  private def stage(info: StageInfo): StageRec = stages.getOrElseUpdate(
    (info.stageId, info.attemptNumber()),
    new StageRec(info.stageId, info.attemptNumber(), info.name))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touch()
    jobs(e.jobId) = JobRec(e.jobId, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touch()
    jobs.get(e.jobId).foreach(_.endMs = e.time)
    jobsEnded += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      touch()
      val s = stage(e.stageInfo)
      s.numTasks = e.stageInfo.numTasks
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touch()
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        new StageRec(e.stageId, e.stageAttemptId, ""))
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
      s.outputB += m.outputMetrics.bytesWritten
      s.outputRows += m.outputMetrics.recordsWritten
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        touch(); executionStartMs(s.executionId) = s.time
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        touch(); replans(u.executionId) += 1
      case _: SparkListenerSQLExecutionEnd =>
        touch(); executionsEnded += 1
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val counts = qe.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_cap:") =>
        (row.getAs[Long]("total_keys"), row.getAs[Long]("capped_keys"))
    }
    if (counts.nonEmpty) synchronized {
      caps(qe.id) = (counts.map(_._1).sum, counts.map(_._2).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Wait until every job and SQL execution seen so far has ended and the
    * bus has been quiet for a moment, so a pass's events are all recorded
    * before the next pass starts. Bounded, so a lost event cannot hang
    * the run. */
  def drain(maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled: Boolean = synchronized {
      jobsEnded >= jobs.size && executionsEnded >= executionStartMs.size
    } && System.nanoTime() - lastEventNs > 30000000L
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}
