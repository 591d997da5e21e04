package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One micro-batch as its progress event reports it. */
final case class Batch(
    query: String,
    batchId: Long,
    startMs: Long,
    inputRows: Long,
    durations: Map[String, Long],
    stateRows: Long,
    stateMem: Long,
    commitMs: Long,
    updateMs: Long,
    removalMs: Long,
    droppedByWatermark: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** Keeps every progress event. Spark computes these whether or not
  * anyone listens, so this listener is installed in untraced runs too. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    buf.add(Batch(
      p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      ops.map(_.allRemovalsTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
  }

  /** Every batch of one query, in batch order. */
  def batches(query: String): Seq[Batch] =
    buf.asScala.toSeq.filter(_.query == query).sortBy(_.batchId)
}

/** Completed stage, with the task metrics the per-layer split needs. */
final case class StageRec(
    stageId: Int,
    jobId: Int,
    startMs: Long,
    endMs: Long,
    cpuMs: Double,
    runMs: Long,
    gcMs: Long,
    inputBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    taskReadBytes: Seq[Long])

final case class JobRec(jobId: Int, batchId: Option[Long], startMs: Long, endMs: Long)

/** Job, stage and task record of a traced operation; added for the
  * traced repetition only and removed after it. */
final class TaskTrace extends SparkListener {
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val jobsStarted = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val taskReads = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobsStarted.put(e.jobId, JobRec(e.jobId, batch, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobsStarted.remove(e.jobId)).foreach(j => jobs.add(j.copy(endMs = e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      val r = m.shuffleReadMetrics
      taskReads.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(r.remoteBytesRead + r.localBytesRead)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(
      i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      m.executorCpuTime / 1e6, m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      Option(taskReads.get(i.stageId)).map(_.asScala.toSeq).getOrElse(Nil)))
  }

  def stageRecs: Seq[StageRec] = stages.asScala.toSeq.sortBy(_.startMs)
  def jobRecs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.startMs)
}

/** Per-layer figures shared by every workload's trace. */
object Layers {

  /** The Spark-level part of the per-layer record. `scan` stages read
    * input files; `stitch` stages read a shuffle inside a streaming
    * micro-batch (state update, extraction and the sink's write run
    * in that one stage). Skew is max ÷ mean shuffle-read bytes per
    * task, over the stages that read a shuffle. */
  def stageMetrics(t: TaskTrace): Map[String, Double] = {
    val st = t.stageRecs
    val streamingJobs = t.jobRecs.filter(_.batchId.isDefined).map(_.jobId).toSet
    val scan = st.filter(_.inputBytes > 0)
    val stitch = st.filter(s => s.shuffleReadBytes > 0 && streamingJobs.contains(s.jobId))
    val skews = st.filter(_.taskReadBytes.count(_ > 0) > 1).map { s =>
      val xs = s.taskReadBytes.map(_.toDouble)
      xs.max / (xs.sum / xs.size)
    }
    Map(
      "scan_stage.cpu_ms" -> scan.map(_.cpuMs).sum,
      "stitch_stage.cpu_ms" -> stitch.map(_.cpuMs).sum,
      "stage.gc_ms" -> st.map(_.gcMs.toDouble).sum,
      // task time spent off the CPU: waiting on I/O, locks or memory
      "stage.task_offcpu_ms" -> st.map(s => s.runMs - s.cpuMs).sum,
      "shuffle.bytes_written" -> st.map(_.shuffleWriteBytes.toDouble).sum,
      "shuffle.partition_skew" -> (if (skews.isEmpty) 0.0 else skews.max),
      "spill.bytes" -> st.map(_.spillBytes.toDouble).sum)
  }

  /** Length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that
    * its child spans cover. */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionMs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs) / 1e6, math.min(c.endNs, s.endNs) / 1e6)))
      s.id -> (s.ms - covered)
    }.toMap
  }
}
