package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metrics summed over one stage. */
final class StageRec(val id: Int) {
  var submitMs, completeMs = 0L
  var tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, fetchWaitMs, delayMs = 0L
  var shuffleRead, shuffleWrite, spill, input, peakMem = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "submit_ms" -> submitMs, "complete_ms" -> completeMs,
    "tasks" -> tasks, "empty_tasks" -> emptyTasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "fetch_wait_ms" -> fetchWaitMs,
    "delay_ms" -> delayMs, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> input, "peak_mem_bytes" -> peakMem)
}

final class JobRec(val id: Int, val group: String, val startMs: Long,
                   val stageIds: Seq[Int], val sourcesCallSite: Boolean) {
  var endMs = 0L
  def toMap: Map[String, Any] = Map(
    "id" -> id, "group" -> group, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stageIds, "sources_call_site" -> sourcesCallSite)
}

/** The traced run's scheduler listener: every job with its job group
  * and call site, every stage with its task metrics summed, and the
  * AQE re-plans of the operation in progress. Attached only for traced
  * passes, so untraced passes run without it. */
final class TraceListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val aqeUpdates = mutable.Map.empty[Int, Int].withDefaultValue(0)
  /** Set by the bench thread between operations, after a bus drain. */
  @volatile var currentOp: Int = -1

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    // The result stage's details hold the job's long call site; the
    // first program frame tells which layer launched the job.
    val callSite = e.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).getOrElse("")
    val firstProgramFrame = callSite.linesIterator.map(_.trim)
      .find(_.startsWith("graft.")).getOrElse("")
    jobs += new JobRec(e.jobId, group, e.time, e.stageIds,
      firstProgramFrame.startsWith("graft.sources."))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = stage(e.stageInfo.stageId)
      s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
      s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null && info != null) {
      val s = stage(e.stageId)
      s.tasks += 1
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        s.emptyTasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      // the scheduler delay as the Spark UI defines it
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        m.executorRunTime + info.gettingResultTime
      s.delayMs += math.max(0L, info.finishTime - info.launchTime - overhead)
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
      aqeUpdates(currentOp) += 1
    }
    case _ => ()
  }
}

/** Keeps the last successful SQL execution: after a bus drain that is
  * the operation's final write, whose plan carries the sink row count
  * and whose tracker carries the Catalyst phase times. */
final class LastExecution extends QueryExecutionListener {
  @volatile private var last: QueryExecution = _
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = last = qe
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def get: Option[QueryExecution] = Option(last)
  def clear(): Unit = last = null
}

/** Every micro-batch's progress, kept in full: `recentProgress` only
  * holds the last ~100 batches. */
final class ProgressLog extends StreamingQueryListener {
  val events = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { events += e.progress }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def forRun(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    synchronized { events.filter(_.runId == runId).toSeq }
}
