package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event log of one traced run: jobs, stages (with their task
  * metrics summed), the write commands' planning phases and the stream
  * progress reports. Nothing is attributed here — every record keeps
  * its own timestamps and the job group Spark stamped on it, and
  * `perfbench/stats.py` attributes and aggregates after the run. All
  * callbacks arrive on the listener-bus thread; [[Recorder.snapshot]] is read
  * only after the bus is drained.
  */
final class Recorder extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
  private val jobById = mutable.Map.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]
  private val phases = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val streamRuns = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val batches = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = mutable.Map[String, Any]("id" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "end_ms" -> e.time, "stages" -> e.stageIds)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_("end_ms") = e.time)
  }

  private def stage(info: StageInfo) = stages.getOrElseUpdate(
    (info.stageId, info.attemptNumber()),
    mutable.Map[String, Any]("id" -> info.stageId, "tasks" -> 0L,
      "run_ms" -> 0L, "cpu_ns" -> 0L, "gc_ms" -> 0L, "task_wait_ms" -> 0L,
      "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
      "shuffle_records" -> 0L, "fetch_wait_ms" -> 0L, "spill_bytes" -> 0L,
      "peak_mem_bytes" -> 0L, "input_bytes" -> 0L, "input_records" -> 0L,
      "output_bytes" -> 0L, "output_records" -> 0L))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = stage(e.stageInfo)
      s("submit_ms") = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      s("num_tasks") = e.stageInfo.numTasks
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i)
      i.submissionTime.foreach(t => s("submit_ms") = t)
      s("end_ms") = i.completionTime.getOrElse(System.currentTimeMillis())
      s("num_tasks") = i.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      mutable.Map[String, Any]("id" -> e.stageId))
    def add(k: String, v: Long): Unit =
      s(k) = s.getOrElse(k, 0L).asInstanceOf[Long] + v
    add("tasks", 1)
    s.get("submit_ms").foreach { sub =>
      add("task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub.asInstanceOf[Long]))
    }
    Option(e.taskMetrics).foreach { m =>
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      s("peak_mem_bytes") = math.max(s.getOrElse("peak_mem_bytes", 0L)
        .asInstanceOf[Long], m.peakExecutionMemory)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
      add("output_records", m.outputMetrics.recordsWritten)
    }
  }

  /** Catalyst phases of every successful query execution; stats.py keeps
    * the ones whose phases fall inside a query's execute span, i.e. the
    * noop write command — the tracker is read, never re-planned.
    */
  val queryExecutions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Recorder.this.synchronized {
      phases += Map("func" -> funcName) ++ qe.tracker.phases.map {
        case (phase, p) => phase -> Map("start_ms" -> p.startTimeMs,
          "end_ms" -> p.endTimeMs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Recorder.this.synchronized {
        streamRuns += Map("run_id" -> e.runId.toString,
          "start_ms" -> java.time.Instant.parse(e.timestamp).toEpochMilli)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators.toSeq
        batches += Map("run_id" -> p.runId.toString,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "trigger_ms" -> d("triggerExecution"), "add_batch_ms" -> d("addBatch"),
          "wal_commit_ms" -> d("walCommit"),
          "commit_offsets_ms" -> d("commitOffsets"),
          "input_rows" -> p.numInputRows,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Everything recorded, as plain maps and sequences for the run record. */
  def snapshot: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.map(_.toMap).toList,
      "stages" -> stages.values.map(_.toMap).toList,
      "phases" -> phases.toList, "stream_runs" -> streamRuns.toList,
      "batches" -> batches.toList)
  }
}
