package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable

/** Per-job totals of the tasks that ran for the job. */
final class JobRec(val id: Int, val part: String, val layer: String,
                   val startUs: Long) {
  var endUs: Long = startUs
  var tasks = 0L
  var retried = 0L
  var runMs = 0L
  var cpuNs = 0L
  var overheadMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One micro-batch, as its progress event reports it. */
final case class Trigger(queryId: String, startUs: Long, durations: Map[String, Long],
                         inputRows: Long, stateRows: Long, stateBytes: Long,
                         stateCommitMs: Long)

/** Records jobs, stages, tasks and micro-batches from Spark's public
  * listener interfaces. Job and task records are kept only while
  * `active` (the traced passes); trigger durations are always kept,
  * since they are one number per micro-batch.
  *
  * A job is attributed to the query part that launched it through the
  * local property [[Recorder.PartKey]], which the harness sets before
  * each call; micro-batch jobs inherit it from the thread that started
  * their stream. */
final class Recorder extends SparkListener {
  @volatile var active = false

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val jobOfStage = mutable.HashMap.empty[Int, JobRec]
  /** Run times of each stage's finished tasks (ms). */
  val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  /** Stages that read input and ran as one task. */
  var oneTaskScanStages = 0L
  var stages = 0L
  /** [launch, finish] of every finished task, epoch microseconds. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val triggers = mutable.ArrayBuffer.empty[Trigger]

  def reset(): Unit = synchronized {
    jobs.clear(); jobById.clear(); jobOfStage.clear(); stageTaskMs.clear()
    oneTaskScanStages = 0; stages = 0; taskIntervals.clear(); triggers.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val props = Option(e.properties)
    val part = props.flatMap(p => Option(p.getProperty(Recorder.PartKey))).getOrElse("")
    val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
    val layer =
      if (streaming) "streaming"
      else if (e.stageInfos.exists(_.details.contains("graft.Engine"))) "engine"
      else if (part.endsWith("/construct")) "operators"
      else "exec"
    val j = new JobRec(e.jobId, part, layer, e.time * 1000)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    jobById.get(e.jobId).foreach(_.endUs = e.time * 1000)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (active) synchronized {
      val s = e.stageInfo
      if (jobOfStage.contains(s.stageId)) {
        stages += 1
        val read = Option(s.taskMetrics).exists(_.inputMetrics.bytesRead > 0)
        if (read && s.numTasks == 1) oneTaskScanStages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      val i = e.taskInfo
      j.tasks += 1
      if (i.attemptNumber > 0 || i.failed || i.killed) j.retried += 1
      taskIntervals += ((i.launchTime * 1000, i.finishTime * 1000))
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.overheadMs += math.max(0L, i.duration - m.executorRunTime)
        j.gcMs += m.jvmGCTime
        j.inputRows += m.inputMetrics.recordsRead
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        val ops = p.stateOperators.toSeq
        triggers += Trigger(p.runId.toString,
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum)
      }
  }
}

object Recorder {
  /** Local property naming the query part that launches a job:
    * `<pass>/<query>/<part>`. */
  val PartKey = "perfbench.part"
}
