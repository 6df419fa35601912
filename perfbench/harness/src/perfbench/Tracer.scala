package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's engine-side recorder: Spark jobs, stages and tasks
  * (SparkListener), planning phases, join output rows and scanned file
  * bytes per executed plan (QueryExecutionListener), and streaming micro-batches
  * (StreamingQueryListener). Events are kept in memory and written out by
  * [[finish]]. */
final class Tracer(spark: SparkSession, out: Harness.Json) {
  private val events = ArrayBuffer.empty[Seq[(String, Any)]]
  private def add(kv: (String, Any)*): Unit = events.synchronized(events += kv)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add(
      "kind" -> "job_start", "job" -> e.jobId, "ms" -> e.time,
      "op" -> Option(e.properties).map(_.getProperty(Harness.OpProperty)).orNull,
      "stages" -> e.stageIds)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = add(
      "kind" -> "job_end", "job" -> e.jobId, "ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      add("kind" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(0L),
        "end_ms" -> s.completionTime.getOrElse(0L), "tasks" -> s.numTasks,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sr_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "fetch_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "in_rows" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = add(
      "kind" -> "task", "stage" -> e.stageId, "start_ms" -> e.taskInfo.launchTime,
      "end_ms" -> e.taskInfo.finishTime, "failed" -> e.taskInfo.failed)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      val plan = Tracer.nodes(qe.executedPlan)
      def sum(pick: SparkPlan => Boolean, metric: String) =
        plan.filter(pick).flatMap(_.metrics.get(metric)).map(_.value).sum
      add("kind" -> "qe", "func" -> funcName,
        "start_ms" -> phases.values.map(_.startTimeMs).minOption.getOrElse(0L),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"),
        "join_rows" -> sum(n => n.nodeName.contains("Join") ||
          n.nodeName.contains("CartesianProduct"), "numOutputRows"),
        "scan_bytes" -> sum(_.isInstanceOf[FileSourceScanExec], "filesSize"))
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("kind" -> "progress",
        "ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "batch_ms" -> p.batchDuration,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Write every event out, once the listener bus has delivered them all. */
  def finish(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    events.synchronized(events.foreach(kv => out.line(kv: _*)))
  }
}

object Tracer {
  /** Every node of an executed plan, through AQE wrappers, query stages and
    * subqueries; a reused exchange is counted where it first ran. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }
}
