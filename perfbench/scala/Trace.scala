package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store of a traced run.  Listeners append raw records
  * only while `on` is set; `Driver` attributes them to ops afterwards
  * by timestamp (one client runs its ops one after another, so every
  * event inside an op's window belongs to that op). */
object Trace {
  @volatile var on: Boolean = false

  final case class Job(startMs: Long, endMs: Long, stages: Int)
  final case class Task(endMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      schedDelayMs: Long, scanBytes: Long, scanRows: Long,
      shufWriteBytes: Long, shufWriteRows: Long, shufReadBytes: Long,
      fetchWaitMs: Long, spillBytes: Long, outBytes: Long, outRows: Long)
  final case class Plan(startMs: Long, analysisMs: Long, optimizerMs: Long,
      planningMs: Long, scanFiles: Long, scanRows: Long)
  final case class Progress(atMs: Long, triggerMs: Long, addBatchMs: Long,
      planningMs: Long, walMs: Long, stateCommitMs: Long, stateRows: Long,
      stateBytes: Long, inputRows: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val plans = new ConcurrentLinkedQueue[Plan]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  def inWindow[T](q: ConcurrentLinkedQueue[T], t: T => Long, lo: Long, hi: Long): Seq[T] =
    q.asScala.filter(x => t(x) >= lo && t(x) <= hi).toSeq
}

/** Spark job, stage and task spans. */
class JobSpans extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Trace.on) jobStart.put(e.jobId, (e.time, e.stageInfos.size))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) Trace.jobs.add(Trace.Job(s._1, e.time, s._2))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (Trace.on && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      val run = m.executorRunTime
      val delay = math.max(0L, i.duration - run - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
      Trace.tasks.add(Trace.Task(i.finishTime, run, m.executorCpuTime,
        m.jvmGCTime, delay, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
}

/** `QueryExecution.tracker` phase times and scan sizes of every action,
  * on every session (registered through `spark.sql.queryExecutionListeners`). */
class PlanPhases extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  private def record(qe: QueryExecution): Unit = if (Trace.on) {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _)
      .getOrElse(System.currentTimeMillis())
    var files = 0L
    var rows = 0L
    try collectWithSubqueries(qe.executedPlan) {
      case b: BatchScanExec =>
        files += b.inputRDD.partitions.length
        rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case f: FileSourceScanExec =>
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    } catch { case _: Throwable => () }
    Trace.plans.add(Trace.Plan(start, ms("analysis"), ms("optimization"),
      ms("planning"), files, rows))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Micro-batch progress of every streaming query, on every session
  * (registered through `spark.sql.streaming.streamingQueryListeners`). */
class StreamSpans extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (Trace.on) {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    Trace.progress.add(Trace.Progress(System.currentTimeMillis(),
      d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit"),
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
      ops.map(_.memoryUsedBytes).sum, p.numInputRows))
  }
}
