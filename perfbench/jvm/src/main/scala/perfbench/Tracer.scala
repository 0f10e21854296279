package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Event collector for the traced run. It keeps everything in memory
  * and hands it over as JSON-ready maps once the listener bus is
  * drained; run.py builds the span tree and the per-layer figures.
  *
  * Spark jobs are attributed later by time window, not by job group:
  * jobs submitted from `graft.Overlap` pool threads carry no group.
  */
final class Tracer extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stages = mutable.Map.empty[(Int, Int), mutable.Map[String, Any]]
  private val taskSums = mutable.Map.empty[(Int, Int), Array[Double]]

  // per task: count, run_ms, cpu_ns, gc_ms, wait_ms, shuffle write bytes,
  // records, time_ns, shuffle read bytes, records, fetch wait ms, spill
  // disk, spill mem, input bytes, input records, failed
  private val TaskFields = Seq("tasks", "run_ms", "cpu_ns", "gc_ms", "wait_ms",
    "sw_bytes", "sw_records", "sw_time_ns", "sr_bytes", "sr_records",
    "fetch_wait_ms", "spill_disk", "spill_mem", "in_bytes", "in_records",
    "failed_tasks")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = mutable.Map[String, Any]("id" -> e.jobId, "start_ms" -> e.time,
      "stages" -> e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val key = (si.stageId, si.attemptNumber())
    stages(key) = mutable.Map[String, Any]("id" -> si.stageId,
      "attempt" -> si.attemptNumber(),
      "submit_ms" -> si.submissionTime.getOrElse(0L),
      "end_ms" -> si.completionTime.getOrElse(0L),
      "num_tasks" -> si.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    val a = taskSums.getOrElseUpdate(key, new Array[Double](TaskFields.size))
    a(0) += 1
    val info = e.taskInfo
    a(4) += math.max(0L, info.launchTime - stageSubmit.getOrElse(key, info.launchTime))
    if (info.failed || info.killed) a(15) += 1
    val m = e.taskMetrics
    if (m != null) {
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.jvmGCTime
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.shuffleWriteMetrics.recordsWritten
      a(7) += m.shuffleWriteMetrics.writeTime
      a(8) += m.shuffleReadMetrics.totalBytesRead
      a(9) += m.shuffleReadMetrics.recordsRead
      a(10) += m.shuffleReadMetrics.fetchWaitTime
      a(11) += m.diskBytesSpilled
      a(12) += m.memoryBytesSpilled
      a(13) += m.inputMetrics.bytesRead
      a(14) += m.inputMetrics.recordsRead
    }
  }

  // ---- per-session listeners: final-frame planning and streaming ----

  private val queries = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val graftExprs = mutable.Map.empty[String, Int]

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Listen on one job's fresh session, tagging its events with `row`. */
  def attach(s: SparkSession, row: String): Unit = {
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(row, funcName, qe, ok = true)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        record(row, funcName, qe, ok = false)
    })
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        val phases = Seq("triggerExecution", "addBatch", "getBatch", "latestOffset",
          "queryPlanning", "walCommit", "commitOffsets")
          .map(k => k -> (if (d.containsKey(k)) d.get(k).longValue() else 0L)).toMap
        val ops = p.stateOperators
        Tracer.this.synchronized {
          progress += mutable.Map[String, Any]("row" -> row,
            "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
            "input_rows" -> p.numInputRows,
            "state_rows" -> ops.map(_.numRowsTotal).sum,
            "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
            "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
            "duration_ms" -> phases)
        }
      }
    })
  }

  private def record(row: String, funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Map("start_ms" -> v.startTimeMs, "end_ms" -> v.endTimeMs) }
    val found = mutable.Set.empty[String]
    try PlanWalk.foreach(qe.executedPlan) { p =>
      p.expressions.foreach(_.foreach { x =>
        val c = x.getClass.getName
        if (c.startsWith("graft.")) found += c.stripPrefix("graft.functions.")
      })
    } catch { case _: Throwable => () }
    synchronized {
      found.foreach(c => graftExprs(c) = graftExprs.getOrElse(c, 0) + 1)
      queries += mutable.Map[String, Any]("row" -> row, "func" -> funcName,
        "ok" -> ok, "phases" -> phases)
    }
  }

  def snapshot(): Map[String, Any] = synchronized {
    for ((key, st) <- stages) {
      val a = taskSums.getOrElse(key, new Array[Double](TaskFields.size))
      TaskFields.zipWithIndex.foreach { case (f, i) => st(f) = a(i) }
    }
    Map("spark_jobs" -> jobs.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "queries" -> queries.map(_.toMap).toSeq,
      "progress" -> progress.map(_.toMap).toSeq,
      "graft_exprs" -> graftExprs.toMap)
  }
}
