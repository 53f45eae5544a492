package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the traced run's events through public Spark listener APIs:
  * jobs, stages and per-stage task metrics (SparkListener), SQL
  * executions with their QueryPlanningTracker phases
  * (QueryExecutionListener) and streaming trigger progress
  * (StreamingQueryListener).
  *
  * Every callback runs on a listener-bus thread. The records are read
  * only after `SparkContext.stop()`, which drains the bus and joins
  * those threads, so plain buffers suffice. The runner tags each job
  * with the local property [[Recorder.TagKey]]; perfbench/layers.py
  * attributes everything else by the time windows of the runner's spans.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  val sqlStarts = mutable.HashMap.empty[Long, Long]
  val sqlEnds = mutable.HashMap.empty[Long, Long]
  val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  val triggers = mutable.ArrayBuffer.empty[Map[String, Any]]
  // per (stageId, attempt): the Counters totals over its ended tasks
  private val taskTotals = mutable.HashMap.empty[(Int, Int), Array[Long]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      jobs += Map(
        "job" -> e.jobId, "start_ms" -> e.time,
        "tag" -> props.flatMap(p => Option(p.getProperty(TagKey))).orNull,
        "stages" -> e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs += Map("job" -> e.jobId, "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = taskTotals.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](Counters.size))
      t(0) += 1
      if (m != null) {
        val out = m.outputMetrics
        val shr = m.shuffleReadMetrics
        Seq(
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          out.bytesWritten,
          // records of tasks that wrote no bytes are the benchmark's
          // noop sink, not the program's writes
          if (out.bytesWritten > 0) out.recordsWritten else 0L,
          shr.totalBytesRead, shr.fetchWaitTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        ).zipWithIndex.foreach { case (v, i) => t(i + 1) += v }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val totals = taskTotals.getOrElse((s.stageId, s.attemptNumber()), new Array[Long](Counters.size))
      stages += Map(
        "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(-1L),
        "complete_ms" -> s.completionTime.getOrElse(-1L),
        "failed" -> s.failureReason.isDefined) ++ Counters.zip(totals)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd => sqlEnds(s.executionId) = s.time
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(phase: String): Long = phases.get(phase).map(_.durationMs).getOrElse(0L)
      // the tracker's id is not always the SQL execution id, so run.py
      // attributes a plan to a call by the time its last phase ended
      plans += Map("func" -> funcName, "ok" -> ok,
        "end_ms" -> (if (phases.isEmpty) -1L else phases.values.map(_.endTimeMs).max),
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(key: String): Long = Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)
      triggers += Map(
        "start_ms" -> Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "wal_commit_ms" -> ms("walCommit"), "commit_offsets_ms" -> ms("commitOffsets"),
        "query_planning_ms" -> ms("queryPlanning"))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Everything recorded; call only after the SparkContext has stopped. */
  def events: Map[String, Any] = Map(
    "jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
    "sql" -> sqlStarts.toSeq.sortBy(_._1).map { case (id, start) =>
      Map("execution" -> id, "start_ms" -> start, "end_ms" -> sqlEnds.getOrElse(id, -1L))
    },
    "plans" -> plans.toSeq, "triggers" -> triggers.toSeq)
}

object Recorder {
  /** Local property carrying "<phase>|<round>|<cell or setup fn>". */
  val TagKey = "perfbench.span"

  /** Names of the per-stage task totals, in recording order. */
  val Counters: Seq[String] = Seq(
    "tasks", "run_ms", "cpu_ns", "gc_ms", "in_bytes", "in_records",
    "out_bytes", "out_records", "shuffle_read_bytes", "fetch_wait_ms",
    "shuffle_write_bytes", "spill_bytes")
}
