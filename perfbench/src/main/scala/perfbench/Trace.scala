package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Every job the harness starts carries the local property `Label.Key`
  * = "<phase>/<pass>/<query>/<step>": phase is setup|warm|timed, step is
  * build|exec (probe in set-up). Listeners attribute jobs, stages and
  * tasks by it. */
object Label {
  val Key = "perfbench.label"
  def apply(phase: String, pass: Int, query: String, step: String): String =
    s"$phase/$pass/$query/$step"
}

/** Always-on listener: counts what the end-to-end metrics need (input
  * rows of timed jobs) and lets the harness wait for the listener bus to
  * drain. Cheap enough to leave on in untraced passes. */
class Counter extends SparkListener {
  private val stageLabel = mutable.Map.empty[Int, String]
  /** input rows read by, and number of, timed jobs per query */
  val timedRowsRead = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val timedJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  @volatile var events = 0L
  @volatile private var openJobs = 0
  @volatile private var openTasks = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).map(_.getProperty(Label.Key)).orNull
    if (label != null) {
      e.stageIds.foreach(stageLabel(_) = label)
      if (label.startsWith("timed/")) timedJobs(label.split("/")(2)) += 1
    }
    openJobs += 1; events += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= 1; events += 1
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    openTasks += 1; events += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    openTasks -= 1; events += 1
    val m = e.taskMetrics
    stageLabel.get(e.stageId).filter(_.startsWith("timed/")).foreach { l =>
      val q = l.split("/")(2)
      if (m != null) timedRowsRead(q) += m.inputMetrics.recordsRead
    }
  }

  /** Waits until every started job and task has ended and no event has
    * arrived for `quietMs` (events are delivered asynchronously). */
  def drain(quietMs: Long = 50, capMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + capMs
    var last = -1L
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((events, openJobs + openTasks))
      if (n != last) { last = n; since = System.currentTimeMillis() }
      else if (open <= 0 && System.currentTimeMillis() - since >= quietMs) return
      Thread.sleep(5)
    }
  }
}

final case class JobRec(id: Int, label: String, start: Long, stageIds: Seq[Int]) {
  var end: Long = start
}
final case class StageRec(id: Int, jobId: Int, submitted: Long, completed: Long)
final case class TaskRec(stageId: Int, launch: Long, finish: Long, failed: Boolean,
  runMs: Long, cpuNs: Long, gcMs: Long, peakMem: Long,
  bytesRead: Long, rowsRead: Long, shuffleWrite: Long, shuffleRead: Long,
  fetchWaitMs: Long, spillBytes: Long)

/** Traced-pass listener: keeps every job, stage and task of labelled
  * jobs in memory. Attached only for traced passes. */
class Recorder extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val openJobs = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).map(_.getProperty(Label.Key)).orNull
    if (label != null) {
      val j = JobRec(e.jobId, label, e.time, e.stageIds)
      jobs += j; openJobs(e.jobId) = j
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    jobOfStage.get(s.stageId).foreach { jid =>
      stages += StageRec(s.stageId, jid, s.submissionTime.getOrElse(0L),
        s.completionTime.getOrElse(0L))
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (jobOfStage.contains(e.stageId)) {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m == null) {
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, i.failed,
          0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
      } else {
        val sr = m.shuffleReadMetrics
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, i.failed,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.peakExecutionMemory, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          sr.remoteBytesRead + sr.localBytesRead, sr.fetchWaitTime,
          m.diskBytesSpilled)
      }
    }
  }
}

/** One node of the span tree written to the JSONL trace. Times are epoch
  * milliseconds (fractional for harness-timed spans). */
final case class Span(id: Int, parent: Int, name: String, label: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}
