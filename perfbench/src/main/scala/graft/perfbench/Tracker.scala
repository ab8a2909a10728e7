package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One finished Spark stage attempt, as the listener saw it. */
final case class StageRec(
    stageId: Int,
    attempt: Int,
    jobId: Int,
    name: String,
    submitMs: Long,
    completeMs: Long,
    cpuNs: Long,
    gcMs: Long,
    runMs: Long,
    shuffleWriteBytes: Long,
    shuffleWriteRecords: Long,
    spillBytes: Long,
    failed: Boolean)

/** One finished Spark job with the description it ran under. */
final case class JobRec(jobId: Int, op: Int, desc: String, startMs: Long, endMs: Long, ok: Boolean)

/** The benchmark's SparkListener: records every job and stage attempt with
  * its task metrics, and tracks the bytes held by persisted datasets from
  * block-update events (current total and a resettable peak).
  *
  * Events arrive on the listener bus thread; readers drain the bus first
  * (see [[org.apache.spark.PerfbenchBus]]) and then read under the lock. */
final class Tracker extends SparkListener {
  private val lock = new Object
  private val jobDesc = mutable.HashMap.empty[Int, (Int, String, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  private var peak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobDesc(e.jobId) = (prop("perfbench.op").map(_.toInt).getOrElse(-1),
      prop("spark.job.description").getOrElse(""), e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    val (op, desc, start) = jobDesc.remove(e.jobId).getOrElse((-1, "", e.time))
    jobs += JobRec(e.jobId, op, desc, start, e.time, e.jobResult == JobSucceeded)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val submit = i.submissionTime.getOrElse(0L)
    stages += StageRec(i.stageId, i.attemptNumber(), stageJob.getOrElse(i.stageId, -1),
      i.name.takeWhile(_ != '\n').take(80), submit, i.completionTime.getOrElse(submit),
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten,
      if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
      i.failureReason.isDefined)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (!info.blockId.isRDD) return
    lock.synchronized {
      val key = info.blockManagerId.executorId + "/" + info.blockId.name
      val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += bytes - blocks.getOrElse(key, 0L)
      if (bytes == 0L) blocks.remove(key) else blocks(key) = bytes
      if (cached > peak) peak = cached
    }
  }

  /** Start a new peak window at the current cached total; returns it. */
  def resetPeak(): Long = lock.synchronized { peak = cached; cached }
  def peakBytes: Long = lock.synchronized(peak)

  /** Every finished job and stage attempt so far. */
  def snapshot: (Seq[JobRec], Seq[StageRec]) = lock.synchronized((jobs.toSeq, stages.toSeq))
}
