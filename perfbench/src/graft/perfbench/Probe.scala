package graft.perfbench

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One node of the trace tree: pass > query > construct/plan/action >
  * job > stage. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, level: String, name: String,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty)

/** Task-level counters summed over the tasks of one query phase. */
final class Counters {
  var jobs, stages, stagesSkipped, stageIds, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes = 0L
  var shuffleReadRecords, fetchWaitMs, spillBytes = 0L
  var inputBytes, inputRecords, materializedBytes = 0L
  var taskSkew = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
    stageIds += o.stageIds; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes
    shuffleReadRecords += o.shuffleReadRecords
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    materializedBytes += o.materializedBytes
    taskSkew = math.max(taskSkew, o.taskSkew)
  }
}

/** Per-stage record kept by the listener. */
final class StageRec(val id: Int, val owner: String) {
  var submitted = 0L
  var completed = 0L
  var isShuffleMap = false
  var rddIds: Seq[Int] = Nil
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val taskShuffleReadRecords = mutable.ArrayBuffer.empty[Long]
}

/** Everything the traced run learns from outside the program: a
  * SparkListener on the session's context, plus the streaming
  * progress events forwarded by [[StreamProbe]].
  *
  * Jobs carry the job group the benchmark sets around each query
  * phase (`pb:<query id>:<phase>`). Jobs started on other threads
  * (streaming micro-batches run under the stream's own group) are
  * attributed to the query phase whose time window holds their start.
  */
final class Probe extends SparkListener {
  /** (owner key, start ms, end ms) of each query phase, in order. */
  private val windows = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val open = new AtomicReference[(String, Long)](null)
  private val jobOwner = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val stageOwner = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  val stages = mutable.Map.empty[Int, StageRec]
  val counters = mutable.Map.empty[String, Counters]
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long)]

  def begin(owner: String): Unit = open.set((owner, System.currentTimeMillis()))
  def end(): Unit = synchronized {
    val (o, t0) = open.getAndSet(null)
    windows += ((o, t0, System.currentTimeMillis()))
  }

  private def ownerAt(t: Long): String = {
    val cur = open.get
    if (cur != null && t >= cur._2) cur._1
    else windows.reverseIterator.find { case (_, a, b) => t >= a && t <= b }
      .orElse(windows.lastOption).map(_._1).getOrElse("none")
  }

  /** The latest job that includes the stage. */
  def jobOf(stageId: Int): Option[Int] = synchronized(stageJob.get(stageId))

  def rddsOf(stageId: Int): Seq[Int] = synchronized {
    stages.get(stageId).map(_.rddIds).getOrElse(Nil)
  }

  private def c(owner: String): Counters = counters.getOrElseUpdate(owner, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val owner = group.filter(_.startsWith("pb:")).getOrElse(ownerAt(e.time))
    jobOwner(e.jobId) = owner
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach { s =>
      if (!stageOwner.contains(s)) stageOwner(s) = owner
      stageJob(s) = e.jobId
    }
    c(owner).jobs += 1
    c(owner).stageIds += e.stageIds.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val owner = jobOwner.getOrElse(e.jobId, "none")
    val ids = jobStages.getOrElse(e.jobId, Nil)
    val skipped = ids.count(s => !stages.get(s).exists(_.submitted > 0))
    c(owner).stagesSkipped += skipped
    val start = ids.flatMap(stages.get).map(_.submitted).filter(_ > 0)
    jobSpans += ((owner, e.jobId, if (start.isEmpty) e.time else start.min, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val rec = stages.getOrElseUpdate(id,
      new StageRec(id, stageOwner.getOrElse(id, ownerAt(System.currentTimeMillis()))))
    rec.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    rec.isShuffleMap = org.apache.spark.PerfbenchInternals.isShuffleMap(e.stageInfo)
    rec.rddIds = e.stageInfo.rddInfos.map(_.id)
    c(rec.owner).stages += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { rec =>
      rec.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      if (rec.taskMs.size >= 2) {
        val sorted = rec.taskMs.sorted
        val median = math.max(sorted(sorted.size / 2), 1L)
        c(rec.owner).taskSkew = math.max(c(rec.owner).taskSkew, sorted.last.toDouble / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val rec = stages.getOrElseUpdate(e.stageId,
      new StageRec(e.stageId, stageOwner.getOrElse(e.stageId, ownerAt(e.taskInfo.finishTime))))
    val k = c(rec.owner)
    k.tasks += 1
    rec.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      k.runMs += m.executorRunTime; k.cpuNs += m.executorCpuTime; k.gcMs += m.jvmGCTime
      k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      k.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      k.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      k.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      k.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      k.spillBytes += m.diskBytesSpilled
      k.inputBytes += m.inputMetrics.bytesRead
      k.inputRecords += m.inputMetrics.recordsRead
      rec.taskShuffleReadRecords += m.shuffleReadMetrics.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      c(ownerAt(System.currentTimeMillis())).materializedBytes += b.memSize + b.diskSize
  }
}

/** Streaming figures summed over the progress events of a pass. */
final class StreamCounters {
  var batches = 0L
  var walCommitMs = 0L
  /** Last reported (state rows, state bytes) per streaming query run. */
  val state = mutable.Map.empty[java.util.UUID, (Long, Long)]
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`,
  * so every session the program creates (the stream queries run on
  * `newSession()`s) reports here. Inactive unless a trace is on. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    StreamProbe.current.get match {
      case null =>
      case k => k.synchronized {
        val p = e.progress
        k.batches += 1
        def ms(key: String): Long = Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
        k.walCommitMs += ms("walCommit") + ms("commitOffsets")
        if (p.stateOperators.nonEmpty)
          k.state(p.runId) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
}

object StreamProbe {
  val current = new AtomicReference[StreamCounters](null)
}
