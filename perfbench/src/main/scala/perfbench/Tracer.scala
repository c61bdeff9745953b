package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Work one phase span caused, as counted from Spark's listener events. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskWaitMs, taskRunMs, taskCpuMs, taskGcMs = 0.0
  var peakExecMemBytes = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var fetchWaitMs = 0.0
  var inputBytes, outputBytes = 0L
  var batches = 0L
  var addBatchMs, walCommitMs, stateCommitMs = 0.0
  var stateRows = 0L
}

/** Listener for the traced run. The harness opens a phase span (build,
  * plan or exec of one query), tags the jobs it submits with the local
  * property [[SpanProperty]], and drains the listener bus when the phase
  * ends, so every event of the phase has been counted before the next
  * phase opens. Jobs submitted from threads that do not carry the
  * property are charged to the phase open at the time. Streaming
  * progress events reach every SparkContext listener as "other" events,
  * whatever session ran the stream. */
final class Tracer(spans: SpanLog) extends SparkListener {
  import Tracer._

  @volatile var openPhase: Int = -1
  private val counters = mutable.Map.empty[Int, Counters]
  private val jobPhase = mutable.Map.empty[Int, Int]
  /** Open jobs: span id and start time. */
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]

  /** Counters of phase span `id` (read after the bus has drained). */
  def countersOf(id: Int): Counters = synchronized(counters.getOrElseUpdate(id, new Counters))

  private def phaseOfJob(job: Int): Int = jobPhase.getOrElse(job, openPhase)
  private def phaseOfStage(stage: Int): Int =
    stageJob.get(stage).map(phaseOfJob).getOrElse(openPhase)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tagged = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
    val phase = tagged.map(_.toInt).getOrElse(openPhase)
    jobPhase(e.jobId) = phase
    jobSpan(e.jobId) = (spans.reserve(), e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    countersOf(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for ((id, start) <- jobSpan.remove(e.jobId))
      spans.put(Span(id, phaseOfJob(e.jobId), "job", s"job ${e.jobId}",
        start.toDouble, e.time.toDouble))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    countersOf(phaseOfStage(si.stageId)).stages += 1
    val start = stageSubmitted.remove((si.stageId, si.attemptNumber()))
      .orElse(si.submissionTime).getOrElse(0L)
    val parent = stageJob.get(si.stageId).flatMap(jobSpan.get).map(_._1)
      .getOrElse(phaseOfStage(si.stageId))
    spans.put(Span(spans.reserve(), parent, "stage", s"stage ${si.stageId} ${si.name}",
      start.toDouble, si.completionTime.getOrElse(start).toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countersOf(phaseOfStage(e.stageId))
    c.tasks += 1
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuMs += m.executorCpuTime / 1e6
      c.taskGcMs += m.jvmGCTime
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val prog = p.progress
      val d = prog.durationMs
      if (d.containsKey("addBatch")) {
        val phase = openPhase
        val c = countersOf(phase)
        c.batches += 1
        c.addBatchMs += d.get("addBatch").doubleValue
        if (d.containsKey("walCommit")) c.walCommitMs += d.get("walCommit").doubleValue
        prog.stateOperators.foreach { so =>
          c.stateCommitMs += so.commitTimeMs
          c.stateRows += so.numRowsUpdated
        }
        val start = java.time.Instant.parse(prog.timestamp).toEpochMilli.toDouble
        val dur = Option(d.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        spans.put(Span(spans.reserve(), phase, "batch", s"${prog.name} batch ${prog.batchId}",
          start, start + dur))
      }
    }
    case _ =>
  }
}

object Tracer {
  /** Local property carrying the id of the phase span a job belongs to. */
  val SpanProperty = "perfbench.span"
}

/** In-memory span store, written out when the run ends. */
final class SpanLog {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var next = 0
  def reserve(): Int = synchronized { next += 1; next }
  def put(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized(buf.toList)
}
