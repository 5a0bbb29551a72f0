package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed call: `parent` is the span that was open on the same thread
  * when it started (0 = none); `run` names the benchmark run.
  */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, endNs: Long)

/** Span recorder and counters for the traced run. With tracing off,
  * `span` runs its body and records nothing, and no listener is attached.
  * Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession, val run: String, val enabled: Boolean) {
  /** Whether the current round is traced; the traced run alternates. */
  @volatile var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private val nextId = new AtomicInteger()
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  val counters = new SparkCounters
  if (enabled) {
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters.scans)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        synchronized { spans += Span(id, name, stack.headOption.getOrElse(0), run, t0, t1) }
      }
    }

  /** Waits until every listener event posted so far is delivered, so the
    * counters cover the calls made before this point.
    */
  def drain(): Unit = if (enabled) PerfbenchBridge.drainListeners(spark.sparkContext)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Per span name: the summed self time in ms, i.e. each span's duration
    * minus the part of its interval that its child spans cover.
    */
  def selfMs: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
          .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (a, b)) =>
            val from = math.max(a, end)
            (sum + math.max(0L, b - from), math.max(end, b))
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""run":"${s.run}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Benchmark-owned Spark listener: jobs, tasks and task metrics, plus the
  * files each finished query's scans opened. Counts only while `on`.
  */
final class SparkCounters extends SparkListener {
  @volatile var on = false
  val jobs, tasks, cpuNs, gcMs, shuffleWriteBytes, spillBytes, bytesRead, recordsRead =
    new AtomicLong()
  val filesOpened = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      bytesRead.addAndGet(m.inputMetrics.bytesRead)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }

  /** Reads the `numFiles` metric of every file scan in a finished query. */
  val scans: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on) filesOpened.addAndGet(collect(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "tasks" -> tasks.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get, "spill_bytes" -> spillBytes.get,
    "bytes_read" -> bytesRead.get, "records_read" -> recordsRead.get,
    "files_opened" -> filesOpened.get)
}
