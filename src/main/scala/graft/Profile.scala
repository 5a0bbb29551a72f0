package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What the engine's own events say one query cost: its jobs, stages and
  * tasks; task run, CPU and GC time; shuffle read and write, disk spill and
  * the largest peak execution memory of any one task. For streaming
  * queries also the micro-batch count, each `durationMs` phase summed over
  * the batches, the state stores' commit time, and the most state rows any
  * one batch held.
  */
final case class ProfileRow(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskRunMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0,
    shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    peakExecMemBytes: Long = 0,
    batches: Long = 0, phaseMs: Map[String, Long] = Map.empty,
    stateCommitMs: Long = 0, stateRows: Long = 0) {

  /** One JSON object; the streaming fields appear only when a batch ran. */
  def json: String = {
    val mb = 1.0 / (1 << 20)
    val stream =
      if (batches == 0) ""
      else {
        val phases = phaseMs.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
        s""","batches":$batches,"phase_ms":${phases.mkString("{", ",", "}")},""" +
          s""""state_commit_ms":$stateCommitMs,"state_rows":$stateRows"""
      }
    f"""{"shuffle_write_mb":${shuffleWriteBytes * mb}%.1f,"shuffle_read_mb":${shuffleReadBytes * mb}%.1f,""" +
      f""""spill_mb":${spillBytes * mb}%.1f,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
      f""""task_run_ms":$taskRunMs,"task_cpu_ms":${taskCpuNs / 1000000},"gc_ms":$gcMs,""" +
      f""""peak_exec_mem_mb":${peakExecMemBytes * mb}%.1f$stream}"""
  }
}

/** The engine-side profiler: one SparkListener and one
  * StreamingQueryListener on `spark`, feeding one [[ProfileRow]], attached
  * from construction until [[close]]. [[take]] drains the listener bus
  * (every event posted so far is delivered; no polling, no sleep) and
  * returns what was gathered since the previous take, so a caller brackets
  * each query with two takes.
  *
  * A task counts only if its stage was submitted after the previous take:
  * when one task fails a job, the job's other tasks are killed and report
  * after the error has surfaced, and they must not land in the next row.
  */
final class Profile(spark: SparkSession) {
  private var row = ProfileRow()
  private val stagesSinceTake = mutable.Set.empty[Int]

  private val tasks = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Profile.this.synchronized { row = row.copy(jobs = row.jobs + 1) }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Profile.this.synchronized {
        stagesSinceTake += e.stageInfo.stageId
        row = row.copy(stages = row.stages + 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Profile.this.synchronized {
      val m = e.taskMetrics
      if (m != null && stagesSinceTake(e.stageId))
        row = row.copy(
          tasks = row.tasks + 1,
          taskRunMs = row.taskRunMs + m.executorRunTime,
          taskCpuNs = row.taskCpuNs + m.executorCpuTime,
          gcMs = row.gcMs + m.jvmGCTime,
          shuffleReadBytes = row.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = row.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          spillBytes = row.spillBytes + m.diskBytesSpilled,
          peakExecMemBytes = math.max(row.peakExecMemBytes, m.peakExecutionMemory))
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val phases = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = e.progress.stateOperators
      Profile.this.synchronized {
        row = row.copy(
          batches = row.batches + 1,
          phaseMs = phases.foldLeft(row.phaseMs) { case (acc, (k, v)) =>
            acc.updated(k, acc.getOrElse(k, 0L) + v) },
          stateCommitMs = row.stateCommitMs + ops.map(_.commitTimeMs).sum,
          stateRows = math.max(row.stateRows, ops.map(_.numRowsTotal).sum))
      }
    }
  }

  spark.sparkContext.addSparkListener(tasks)
  spark.streams.addListener(streams)

  def take(): ProfileRow = {
    GraftSqlBridge.drainListeners(spark.sparkContext)
    synchronized {
      val r = row
      row = ProfileRow()
      stagesSinceTake.clear()
      r
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(tasks)
    spark.streams.removeListener(streams)
  }
}
