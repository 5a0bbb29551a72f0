package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: operation and failure counts, timing
  * samples split by whether their round was traced, and per-layer samples.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val cpus: Int,
                val work: String, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  private val samples = mutable.Map[(String, Boolean), mutable.ArrayBuffer[Double]]()
  private val layers = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def traced: Boolean = tracer.on

  /** Runs one operation; it fails when it throws or a gate reports a problem. */
  def op(name: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val problems =
      try body
      catch { case t: Throwable => Seq(s"threw $t") }
    if (problems.nonEmpty) {
      failed += 1
      problems.take(5).foreach(p => System.err.println(s"[perfbench] FAILED $name: $p"))
    }
  }

  /** Off during warm-up rounds, whose samples are dropped. */
  var recording = true

  def sample(metric: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate((metric, traced), mutable.ArrayBuffer()) += v

  def samplesOf(metric: String, traced: Boolean): Seq[Double] =
    samples.get((metric, traced)).map(_.toSeq).getOrElse(Nil)

  /** A per-layer sample, kept only in traced rounds; reported as the median. */
  def layer(name: String, v: Double): Unit =
    if (traced) layers.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def layerValues: Map[String, Double] = layers.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dir(name: String): String = Dirs.fresh(s"$work/$name")
}

object Stats {
  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Harrell-Davis estimate of the `p`th percentile: a weighted mean of
    * every order statistic, the weights taken from a Beta((n+1)p,
    * (n+1)(1-p)) distribution. The latency samples of a mix of operations
    * cluster by operation, and a percentile that falls between two
    * clusters is, read off one or two order statistics, the extreme of a
    * cluster; this estimate averages over the neighbours instead.
    */
  def hdPercentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.length
    if (n == 1) s.head
    else {
      val q = p / 100.0
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        (n + 1) * q, (n + 1) * (1 - q))
      var prev = 0.0
      var sum = 0.0
      for (i <- 1 to n) {
        val c = beta.cumulativeProbability(i.toDouble / n)
        sum += (c - prev) * s(i - 1)
        prev = c
      }
      sum
    }
  }
}

/** One workload: a setup that can be repeated, and rounds of timed
  * operations that record `latency_ms` and `records_per_s` samples.
  */
trait Workload {
  def setup(): Unit
  def round(): Unit
  /** Untimed rounds between the set-ups and the timed rounds. */
  def warmupRounds: Int = 0
  /** Gates that need the whole run, and per-layer measurements done alone. */
  def finish(): Unit = ()
}

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--cpus <n>]
  * perfbench.Main --selftest --work <dir>
  * }}}
  *
  * Prints detail lines, then as its last stdout line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`.
  */
object Main {
  val SetupReps = 3

  val Workloads: Map[String, Ctx => Workload] = Map(
    "ingest_backlog" -> (new IngestBacklog(_)),
    "ingest_trickle" -> (new IngestTrickle(_)),
    "archive_read" -> (new ArchiveRead(_)))

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selftest = args.contains("--selftest")
    val cpus = o.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new java.io.File(o("work")).getAbsolutePath
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Tables.session("perfbench", cpus.toString)
    System.err.println(f"[perfbench] session up ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s after JVM start")
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try if (selftest) SelfTest.run(spark, work) else bench(spark, o, cpus, work)
      finally spark.stop()
    sys.exit(code)
  }

  private def bench(spark: SparkSession, o: Map[String, String], cpus: Int, work: String): Int = {
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o.getOrElse("trace", "0") == "1"
    val make = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name; one of ${Workloads.keys.mkString(",")}"))
    val tracer = new Tracer(spark, s"$name-$seed", trace)
    val ctx = new Ctx(spark, seed, cpus, work, tracer)
    val w = make(ctx)

    // set up several times and report the median; in the traced run the
    // last repetition is traced, for the overhead estimate
    val setupS = (0 until SetupReps).map { rep =>
      setTraced(tracer, trace && rep == SetupReps - 1)
      val t0 = System.nanoTime()
      tracer.span("setup")(w.setup())
      ((System.nanoTime() - t0) / 1e9, tracer.on)
    }
    // measured before the rounds: caches that grow with every read (Spark
    // keeps each file index's listing until its cache is full) would make an
    // end-of-run figure depend on how many rounds fit in the time
    val heapMb = heapAfterGcMb()
    // the JIT keeps compiling through the first rounds after a set-up;
    // those rounds are run, and gated, but not timed
    val w0 = System.nanoTime()
    setTraced(tracer, false)
    ctx.recording = false
    (0 until w.warmupRounds).foreach(_ => w.round())
    ctx.recording = true
    val warmupS = (System.nanoTime() - w0) / 1e9
    // rounds run until the time is up; the traced run traces rounds in the
    // order untraced, traced, traced, untraced, ..., so that a warm-up
    // trend does not read as tracing overhead
    val t0 = System.nanoTime()
    var rounds = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || rounds < (if (trace) 2 else 1)) {
      setTraced(tracer, trace && (rounds % 4 == 1 || rounds % 4 == 2))
      tracer.drain()
      val before = tracer.counters.snapshot
      tracer.span("round")(w.round())
      if (ctx.traced) {
        tracer.drain()
        val after = tracer.counters.snapshot
        def delta(k: String) = (after(k) - before(k)).toDouble
        ctx.layer("spark.jobs", delta("jobs"))
        ctx.layer("spark.tasks", delta("tasks"))
        ctx.layer("spark.task_cpu_ms", delta("cpu_ns") / 1e6)
        ctx.layer("spark.gc_ms", delta("gc_ms"))
        ctx.layer("spark.shuffle_write_mb", delta("shuffle_write_bytes") / (1024.0 * 1024.0))
        ctx.layer("spark.spill_mb", delta("spill_bytes") / (1024.0 * 1024.0))
      }
      rounds += 1
    }
    val roundsS = (System.nanoTime() - t0) / 1e9
    val f0 = System.nanoTime()
    setTraced(tracer, trace)
    w.finish()
    val finishS = (System.nanoTime() - f0) / 1e9
    setTraced(tracer, false)

    def e2e(traced: Boolean): Map[String, Double] = {
      val lat = ctx.samplesOf("latency_ms", traced)
      Map("records_per_s" -> Stats.hdPercentile(ctx.samplesOf("records_per_s", traced), 50),
        "latency_p50_ms" -> Stats.hdPercentile(lat, 50),
        "latency_p90_ms" -> Stats.hdPercentile(lat, 90))
    }
    val untracedSetup = setupS.filterNot(_._2).map(_._1)
    val plain = e2e(traced = false)
    val detail = Map(
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "rounds" -> rounds,
      "warmup_rounds" -> w.warmupRounds, "warmup_s" -> warmupS, "rounds_s" -> roundsS, "finish_s" -> finishS,
      "error_rate" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "samples.latency_ms" -> ctx.samplesOf("latency_ms", false).length,
      "samples.records_per_s" -> ctx.samplesOf("records_per_s", false).length,
      "samples.setup_s" -> untracedSetup.length,
      "setup_s.reps" -> setupS.map(_._1).mkString(","))
    println(Json.obj(detail))

    val metrics: Seq[(String, Double, String)] =
      if (!trace)
        Seq(("setup_s", Stats.median(untracedSetup), "s"),
          ("heap_after_gc_mb", heapMb, "MB"),
          ("records_per_s", plain("records_per_s"), "1/s"),
          ("latency_p50_ms", plain("latency_p50_ms"), "ms"),
          ("latency_p90_ms", plain("latency_p90_ms"), "ms"))
      else {
        val traced = e2e(traced = true)
        def pct(a: Double, b: Double) = (a - b) / b * 100.0
        val overhead = Seq(
          ("trace.overhead.setup_s_pct",
            pct(setupS.last._1, setupS(SetupReps - 2)._1), "%"),
          ("trace.overhead.records_per_s_pct",
            pct(plain("records_per_s"), traced("records_per_s")), "%"),
          ("trace.overhead.latency_p50_ms_pct",
            pct(traced("latency_p50_ms"), plain("latency_p50_ms")), "%"),
          ("trace.overhead.latency_p90_ms_pct",
            pct(traced("latency_p90_ms"), plain("latency_p90_ms")), "%"),
          ("trace.spans", tracer.all.length.toDouble, "count"),
          ("samples.latency_ms", ctx.samplesOf("latency_ms", true).length.toDouble, "count"))
        val self = tracer.selfMs
        val selfMetrics = Layers.SelfTimed.map(l => (s"self_ms.$l", self.getOrElse(l, 0.0), "ms"))
        val layerValues = ctx.layerValues
        val unknown = layerValues.keySet -- Layers.All.map(_._1)
        require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(",")}")
        tracer.write(s"${new java.io.File(work).getParent}/trace-$name-$seed.jsonl")
        Layers.All.map { case (k, unit) => (k, layerValues.getOrElse(k, 0.0), unit) } ++
          overhead ++ selfMetrics
      }
    val correct = ctx.failed == 0
    println(Json.result(correct, ctx.attempted, ctx.failed, metrics))
    if (correct) 0 else 1
  }

  private def setTraced(t: Tracer, on: Boolean): Unit = {
    if (t.on && !on) t.drain()
    t.on = on && t.enabled
    t.counters.on = t.on
  }

  private def heapAfterGcMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    // the second collection frees what the context cleaner released after the first
    System.gc()
    Thread.sleep(200)
    System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

object Json {
  private def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(v: Double) =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def obj(m: Map[String, Any]): String = m.toSeq.sortBy(_._1).map {
    case (k, v: String) => s"${str(k)}:${str(v)}"
    case (k, v: Double) => s"${str(k)}:${num(v)}"
    case (k, v) => s"${str(k)}:$v"
  }.mkString("{", ",", "}")

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (k, v, u) => s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}""" }
        .mkString("{", ",", "}") + "}"
}
