package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Records, from outside the engine, what Spark reports at its own
  * boundaries: jobs (with the benchmark's op/phase tags and the call
  * site that launched them), tasks (intervals and metrics) and the
  * planning-phase times of every action. Nothing is aggregated here:
  * `Main` writes the records out per pass and `run.py` reduces them.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Boolean)]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val actions = new ConcurrentLinkedQueue[Action]()
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs.add(Job(e.jobId, e.time, prop(OpKey).getOrElse(""),
      prop(PhaseKey).getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong), result,
      e.stageInfos.size))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, (e.time, e.jobResult == JobSucceeded))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      executions.put(s.executionId, s.description)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def mm(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks.add(Task(e.stageId, i.launchTime, i.finishTime,
      failed = e.reason != Success,
      runMs = mm(_.executorRunTime), cpuNs = mm(_.executorCpuTime),
      gcMs = mm(_.jvmGCTime),
      shuffleWrite = mm(_.shuffleWriteMetrics.bytesWritten),
      shuffleRead = mm(t => t.shuffleReadMetrics.remoteBytesRead +
        t.shuffleReadMetrics.localBytesRead),
      fetchWaitMs = mm(_.shuffleReadMetrics.fetchWaitTime),
      spill = mm(t => t.memoryBytesSpilled + t.diskBytesSpilled),
      inputBytes = mm(_.inputMetrics.bytesRead),
      inputRecords = mm(_.inputMetrics.recordsRead),
      outputBytes = mm(_.outputMetrics.bytesWritten)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def sec(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    actions.add(Action(sec("analysis"), sec("optimization"), sec("planning"),
      start))
  }

  /** Empties every buffer, so one pass's records can be read alone. */
  def drainAll(): (Seq[Job], Seq[Task], Seq[Action]) = {
    def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val out = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { out += x; x = q.poll() }
      out.result()
    }
    (take(jobs), take(tasks), take(actions))
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  final case class Job(id: Int, submitMs: Long, op: String, phase: String,
                       execution: Option[Long], callSite: String, stages: Int)
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
                        failed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long,
                        fetchWaitMs: Long, spill: Long, inputBytes: Long,
                        inputRecords: Long, outputBytes: Long)
  final case class Action(analysisS: Double, optimizationS: Double,
                          planningS: Double, startMs: Long)
}
