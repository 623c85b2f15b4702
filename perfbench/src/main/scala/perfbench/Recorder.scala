package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkInternals
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Per-stage sums over task attempts; times in ms unless named `Ns`. */
final class StageAgg {
  var attempts = 0
  var failed = 0
  var cpuNs = 0L
  var maxTaskCpuNs = 0L
  var wallMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillDiskBytes = 0L
  var spillMemBytes = 0L
  var scanBytes = 0L
  var scanRows = 0L
  var firstLaunchMs = Long.MaxValue
}

final case class StageOut(id: Int, job: Int, attempts: Int, failed: Int,
    cpuNs: Long, maxTaskCpuNs: Long, wallMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, fetchWaitMs: Long,
    spillDiskBytes: Long, spillMemBytes: Long, scanBytes: Long,
    scanRows: Long, firstLaunchMs: Option[Long])

final case class JobOut(id: Int, tags: Seq[String], submitMs: Long, endMs: Option[Long])

final case class PlanOut(executionId: Long, tags: Seq[String], phases: Map[String, Seq[Long]])

final case class RecorderOut(stages: Seq[StageOut], jobs: Seq[JobOut],
    plans: Seq[PlanOut], storagePeakBytes: Long)

/** Records, from outside the engine, what each layer did: Spark jobs with
  * the request tags they ran under, per-stage task sums, the planning
  * phases of every query execution (tagged through the jobs it ran; one
  * that ran no job stays untagged), and the bytes held in cached and
  * checkpointed RDD blocks. Attribution to requests happens after the run,
  * from the job tags, so nothing here knows about the benchmark's requests.
  * All callbacks arrive on the listener bus threads; every access is
  * synchronized on this object.
  */
final class Recorder extends SparkListener {
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobOut]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val executionTags = mutable.HashMap.empty[Long, Seq[String]]
  private val plans = mutable.ArrayBuffer.empty[PlanOut]
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storageBytes = 0L
  private var storagePeak = 0L

  private def tagsOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(e.properties)
    jobs(e.jobId) = JobOut(e.jobId, tags, e.time, None)
    jobStages(e.jobId) = e.stageIds
    // a query execution carries the tags of the thread that ran it only
    // through its jobs
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => executionTags.getOrElseUpdate(id.toLong, tags))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(endMs = Some(e.time))
    }
    jobStages.remove(e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    // the stage runs for the newest started job that lists it; older jobs
    // listing it have either finished or skip it
    if (!stageJob.contains(id)) {
      val owner = jobStages.collect { case (j, ss) if ss.contains(id) => j }
      if (owner.nonEmpty) stageJob(id) = owner.max
    }
    stages.getOrElseUpdate(id, new StageAgg)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg)
    s.attempts += 1
    if (e.reason != org.apache.spark.Success) s.failed += 1
    s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.maxTaskCpuNs = math.max(s.maxTaskCpuNs, m.executorCpuTime)
      s.wallMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillDiskBytes += m.diskBytesSpilled
      s.spillMemBytes += m.memoryBytesSpilled
      s.scanBytes += m.inputMetrics.bytesRead
      s.scanRows += m.inputMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      storageBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      storagePeak = math.max(storagePeak, storageBytes)
    }
  }

  // The end event carries the execution id its jobs carry, and the same
  // QueryExecution (with its planning tracker) a QueryExecutionListener
  // receives without any execution id.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => synchronized {
      Option(SparkInternals.queryExecution(end)).foreach { qe =>
        val phases = qe.tracker.phases.map { case (k, p) =>
          k -> Seq(p.startTimeMs, p.endTimeMs) }
        plans += PlanOut(end.executionId, Seq.empty, phases)
      }
    }
    case _ =>
  }

  /** Drop everything recorded so far, so the output covers only what
    * follows (the timed window). Storage bytes still pinned carry over. */
  def reset(): Unit = synchronized {
    stages.clear(); stageJob.clear(); jobs.clear(); jobStages.clear()
    executionTags.clear(); plans.clear()
    storagePeak = storageBytes
  }

  def snapshot(): RecorderOut = synchronized {
    RecorderOut(
      stages.toSeq.sortBy(_._1).map { case (id, s) =>
        StageOut(id, stageJob.getOrElse(id, -1), s.attempts, s.failed, s.cpuNs,
          s.maxTaskCpuNs, s.wallMs, s.gcMs, s.shuffleWriteBytes, s.shuffleReadBytes,
          s.fetchWaitMs, s.spillDiskBytes, s.spillMemBytes, s.scanBytes, s.scanRows,
          if (s.firstLaunchMs == Long.MaxValue) None else Some(s.firstLaunchMs))
      },
      jobs.values.toSeq,
      plans.toSeq.map(p => p.copy(tags = executionTags.getOrElse(p.executionId, Seq.empty))),
      storagePeak)
  }
}
