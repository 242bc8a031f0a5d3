package graft.perfbench

import java.time.Instant

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything the benchmark reads from Spark's own listener bus, kept in
  * memory. Times are epoch milliseconds, the clock Spark stamps its
  * events with.
  */
object Recorder {
  final case class JobRec(id: Int, exec: Int, submit: Long, stages: Seq[Int],
      batch: Option[Long], var end: Long = -1L)
  final case class StageRec(id: Int, job: Int, var submit: Long = -1L,
      var complete: Long = -1L)
  final case class TaskRec(stage: Int, launch: Long, finish: Long,
      waitMs: Long, failed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, inRows: Long, shWrite: Long, shRead: Long,
      fetchWaitMs: Long, spillDisk: Long, outBytes: Long, outRows: Long)
  final case class BatchRec(query: String, batch: Long, start: Long,
      durations: Map[String, Long], inputRows: Long, stateCommitMs: Long,
      stateUpdateMs: Long, stateRows: Long, stateMem: Long) {
    def trigger: Long = durations.getOrElse("triggerExecution", 0L)
  }
  final case class PlanRec(end: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, exchanges: Int)

  /** Local property that tags every job with the entry execution that
    * submitted it; stream threads inherit it from the calling thread.
    */
  val ExecKey = "graft.perfbench.exec"
  private val BatchKey = "streaming.sql.batchId"

  /** Record everything (true) or only micro-batch progress (false, the
    * untraced mode, whose end-to-end latency needs progress events).
    */
  @volatile var full = false

  /** Shuffle bytes written, summed over every task in both modes: an
    * end-to-end counter.
    */
  val shuffleWritten = new java.util.concurrent.atomic.AtomicLong

  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  val tasks = ArrayBuffer.empty[TaskRec]
  val batches = ArrayBuffer.empty[BatchRec]
  val plans = ArrayBuffer.empty[PlanRec]

  /** Shuffle exchanges in a physical plan, AQE stages unwrapped; a reused
    * exchange is not counted again.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty(ExecKey)))
        .map(_.toInt).getOrElse(-1)
      val batch = props.flatMap(p => Option(p.getProperty(BatchKey)))
        .map(_.toLong)
      Recorder.synchronized {
        jobs += JobRec(e.jobId, exec, e.time, e.stageIds, batch)
        e.stageIds.foreach(s => stages.getOrElseUpdate(s, StageRec(s, e.jobId)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (full)
      Recorder.synchronized {
        jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (full) Recorder.synchronized {
        stages.get(e.stageInfo.stageId).foreach { s =>
          s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (full) Recorder.synchronized {
        stages.get(e.stageInfo.stageId).foreach { s =>
          s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      def get(f: org.apache.spark.executor.TaskMetrics => Long): Long =
        m.map(f).getOrElse(0L)
      shuffleWritten.addAndGet(get(_.shuffleWriteMetrics.bytesWritten))
      if (full) Recorder.synchronized {
        val submit = stages.get(e.stageId).map(_.submit).getOrElse(-1L)
        // waiting is launch minus stage submission, per task, never
        // negative: it is not derived from wall × tasks − run
        val waitMs = if (submit < 0) 0L else math.max(0L, i.launchTime - submit)
        tasks += TaskRec(e.stageId, i.launchTime, i.finishTime, waitMs, i.failed,
          get(_.executorRunTime), get(_.executorCpuTime), get(_.jvmGCTime),
          get(_.inputMetrics.bytesRead), get(_.inputMetrics.recordsRead),
          get(_.shuffleWriteMetrics.bytesWritten),
          get(_.shuffleReadMetrics.totalBytesRead),
          get(_.shuffleReadMetrics.fetchWaitTime), get(_.diskBytesSpilled),
          get(_.outputMetrics.bytesWritten), get(_.outputMetrics.recordsWritten))
      }
    }

    /** Streaming progress arrives here from the SparkContext bus, so
      * streams on any session (cloned ones too) are seen.
      */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent =>
        val q = p.progress
        val ops = q.stateOperators.toSeq
        val rec = BatchRec(q.runId.toString, q.batchId,
          Instant.parse(q.timestamp).toEpochMilli,
          q.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          q.numInputRows, ops.map(_.commitTimeMs).sum,
          ops.map(_.allUpdatesTimeMs).sum, ops.map(_.numRowsUpdated).sum,
          ops.map(_.memoryUsedBytes).sum)
        Recorder.synchronized { batches += rec }
      case _ =>
    }
  }
}

/** Per-action Catalyst phase times; installed through
  * `spark.sql.queryExecutionListeners`, which instantiates it.
  */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (Recorder.full) {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      val ex = try Recorder.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
      val rec = Recorder.PlanRec(phases.values.map(_.endTimeMs).max,
        ms("analysis"), ms("optimization"), ms("planning"), ex)
      Recorder.synchronized { Recorder.plans += rec }
    }
  }
}
