package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One Spark job, stage or task as the listener saw it. Times are epoch ms. */
final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int], step: String)
final case class StageRec(id: Int, numTasks: Int, submitMs: Long, endMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, durMs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    input: Long, output: Long)

/** The traced run's listener. Each job carries the step that submitted it
  * (the `perfbench.step` local property, "<kind>|<name>"); tasks and stages
  * are tied to steps through their job. */
class Recorder extends SparkListener {
  private val jobs = ArrayBuffer[JobRec]()
  private val stages = ArrayBuffer[StageRec]()
  private val tasks = ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val step = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.StepKey)))
    jobs += JobRec(e.jobId, e.time, e.stageIds, step.orNull)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (end <- si.completionTime if si.failureReason.isEmpty)
      stages += StageRec(si.stageId, si.numTasks, si.submissionTime.getOrElse(end), end)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null && m != null)
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime, info.duration,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  /** Everything recorded since the last drain; the caller flushes the bus first. */
  def drain(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = synchronized {
    val out = (jobs.toList, stages.toList, tasks.toList)
    jobs.clear(); stages.clear(); tasks.clear()
    out
  }
}

object Recorder {
  val StepKey = "perfbench.step"

  /** A timed step of the benchmark's main thread: kind is build, plan, exec, memo or probe. */
  final case class Step(kind: String, name: String, startMs: Long, endMs: Long)

  /** The step each job belongs to: its local property when the submitting
    * thread carried one, else the step whose interval holds its submit time
    * (jobs from helper threads that did not inherit the property). */
  def stepOf(j: JobRec, steps: Seq[Step]): (String, String) =
    Option(j.step).map { s =>
      val i = s.indexOf('|'); (s.take(i), s.drop(i + 1))
    }.orElse(steps.find(s => j.submitMs >= s.startMs && j.submitMs <= s.endMs)
      .map(s => (s.kind, s.name)))
      .getOrElse(("other", ""))

  /** Length of the union of the task intervals, in ms. */
  def busyMs(ts: Seq[TaskRec]): Long = {
    var busy = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    ts.map(t => (t.launchMs, t.finishMs)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) busy += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) busy += curEnd - curStart
    busy
  }
}
