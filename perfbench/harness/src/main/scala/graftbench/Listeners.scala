package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Job-group property Spark copies onto every job's properties. */
object JobGroup {
  val Timed = "timed"
  def of(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
}

/** Largest `peakExecutionMemory` of any task run by a job in the
  * [[JobGroup.Timed]] group. Keeps only that maximum and records no spans,
  * so it is cheap enough to stay attached during untraced timing.
  */
final class PeakMemListener extends SparkListener {
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var peak = 0L

  def peakBytes: Long = peak

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (JobGroup.of(e.properties) == JobGroup.Timed) e.stageIds.foreach(timedStages.add)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null && timedStages.contains(e.stageId))
      peak = math.max(peak, e.taskMetrics.peakExecutionMemory)
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, attempt: Int, submitted: Long, completed: Long)
final case class TaskRec(
    id: Long, stageId: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spillDisk: Long)

/** Records job, stage and task events of the traced query executions:
  * every job whose group starts with `prefix`. Times are epoch
  * milliseconds, as Spark reports them. Callers drain the listener bus
  * ([[org.apache.spark.graftbench.BusDrain]]) before reading.
  */
final class TraceListener(prefix: String) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = JobGroup.of(e.properties)
    if (g.startsWith(prefix)) {
      jobs(e.jobId) = JobRec(e.jobId, g, e.time, -1L, e.stageIds)
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageGroup.contains(i.stageId))
      stages += StageRec(i.stageId, i.attemptNumber(), i.submissionTime.getOrElse(-1L),
        i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageGroup.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += TaskRec(e.taskInfo.taskId, e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
    }
  }

  /** Jobs, stages and tasks of the job groups starting with `groupPrefix`. */
  def select(groupPrefix: String): (Seq[JobRec], Seq[StageRec], Seq[TaskRec]) = synchronized {
    val js = jobs.values.filter(_.group.startsWith(groupPrefix)).toSeq
    val ids = js.flatMap(_.stageIds).toSet
    (js, stages.filter(s => ids(s.id)).toSeq, tasks.filter(t => ids(t.stageId)).toSeq)
  }
}
