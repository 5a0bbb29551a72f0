package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with total + per-query wall seconds. Results are
  * materialized through the `noop` sink so the full plan executes (a bare
  * `count()` would let Catalyst prune projections).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the harness contract (local[32], shuffle.partitions=32);
    // the original stub's default of 4 silently under-parallelized any run
    // that forgot to export SPARK_GRAFT_CPUS — see BENCH_NOTES round-10
    // core-count correction
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // untimed warmup: run the whole suite once at smoke scale so janino
    // codegen, JIT, and file-index init are paid before timing — per-query
    // numbers then measure steady-state latency at the target SF
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    // SPARK_GRAFT_BENCH_SKIP: comma-separated query names to exclude at
    // stress SFs. Since round 5, q20 self-guards (in-operator candidate
    // bound check routes to minhash-LSH on saturated vocabularies) so the
    // knob is no longer needed for it; kept as a general escape hatch.
    // Skipped names are reported in the output line so totals stay honest.
    val skip: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_SKIP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    // fail fast on names that match nothing: a typo'd skip would silently
    // run the query it was meant to exclude while the JSON reports it
    // skipped
    val unknown = skip -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"SPARK_GRAFT_BENCH_SKIP names not registered: ${unknown.mkString(",")}")
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => skip(q._1))
    val w0 = System.nanoTime()
    queries.foreach { case (_, fn) =>
      try fn(spark, warmupDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val warmup = (System.nanoTime() - w0) / 1e9
    def runSuite(): Seq[(String, Double)] =
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    // cold pass at the target SF pays the page-cache/file-index cost once
    // (reported as cold_sec); the reported per-query numbers are
    // MEDIANS over n steady passes — the harness box shows ±25% run-to-run
    // noise, which single-pass numbers repeatedly misread as regressions
    val coldRun = runSuite()
    val cold = coldRun.map(_._2).sum
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val runs: Seq[Seq[(String, Double)]] = (1 to passes).map(_ => runSuite())
    val names = runs.head.map(_._1)
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val stats = names.map { n =>
      val xs = runs.map(_.find(_._1 == n).get._2)
      n -> ((med(xs), xs.min, xs.max))
    }
    // "queries" stays a flat name->seconds map (the driver's documented
    // shape, now the per-query median); "queries_spread" carries the
    // {median,min,max} triple per query
    val qs = stats.map { case (k, (m, _, _)) => "\"" + k + "\":" + f"$m%.3f" }
      .mkString("{", ",", "}")
    val spread = stats.map { case (k, (m, lo, hi)) =>
      "\"" + k + "\":" + f"""{"median":$m%.3f,"min":$lo%.3f,"max":$hi%.3f}"""
    }.mkString("{", ",", "}")
    // per-query COLD times (first pass at the target SF): cold − steady
    // per cache-building query is what attributes the suite's cold_sec
    // overhead to each OpCache family (see BENCH_NOTES cold-vs-steady
    // table), keeping the "build once" memoization claim auditable
    val coldQs = coldRun.map { case (k, t) => "\"" + k + "\":" + f"$t%.3f" }
      .mkString("{", ",", "}")
    val total = stats.map(_._2._1).sum
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // one extra untimed pass measuring per-query shuffle/spill volume via
    // task metrics — the scale evidence behind the plan audit ("is there a
    // shuffle here that becomes the bottleneck at 100x?") measured, not
    // guessed. Runs AFTER the timed passes so listener settling sleeps
    // never pollute the reported latencies.
    val shWrite = new AtomicLong; val shRead = new AtomicLong; val spill = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    // task-end events are async: wait until the counters are unchanged
    // across two consecutive 50 ms reads (bounded ~2 s) — a fixed sleep
    // would let a heavy query's late events land in the next query's window
    def settle(): Unit = {
      var tries = 0
      var prev = (-1L, -1L, -1L)
      var cur = (shWrite.get, shRead.get, spill.get)
      while (prev != cur && tries < 40) {
        Thread.sleep(50); prev = cur
        cur = (shWrite.get, shRead.get, spill.get); tries += 1
      }
    }
    val io = queries.map { case (name, fn) =>
      settle()
      val (w0, r0, s0) = (shWrite.get, shRead.get, spill.get)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      settle()
      val mb = 1.0 / (1 << 20)
      f""""$name":{"shuffle_write_mb":${(shWrite.get - w0) * mb}%.1f,"shuffle_read_mb":${(shRead.get - r0) * mb}%.1f,"spill_mb":${(spill.get - s0) * mb}%.1f}"""
    }.mkString("{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_spread":$spread,"queries_io":$io,"queries_cold":$coldQs,"passes":$passes,"skipped":$skipped,"warmup_sec":$warmup%.3f,"cold_sec":$cold%.3f,"sf":"$sfDir"}"""
    // The full line goes to the repo file ONLY — printing it too is what
    // kept breaking the driver's 2000-char stdout tail parse (r04..r07 the
    // line was cut mid-way; r08 its truncated remnant preceded the compact
    // line). stdout carries exactly one JSON object, the compact line
    // below, and build.sbt's StdoutOutput strategy keeps sbt's "[info] "
    // prefix off it.
    // cwd-relative default (sbt runs from the repo root) so the binary
    // is not coupled to one checkout layout; SPARK_GRAFT_BENCH_FILE
    // overrides for any other launch directory
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE",
        "BENCH_LAST.json")), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: $e") }
    // self-limiting: the line + sbt's trailing "[success] Total time"
    // (~75 chars) must fit the 2000-char window together. Full names for
    // 90+ queries don't (r09 cut 30 entries), and even "qNN"-prefix keys
    // with %.1f-second values overflow past ~160 queries (r10 cut 23 —
    // exactly where a fast-tail regression would hide). So the compact
    // line carries the ENTIRE map as "queries_ds": unambiguous "qNN"
    // registry-name prefixes -> integer DECISECONDS (0.1 s resolution,
    // the same precision the old per-query %.1f carried in ~40% fewer
    // bytes); BENCH_LAST.json keeps the full-name full-precision map.
    // "queries_omitted" is emitted unconditionally so the fidelity gate
    // is auditable at a glance; the overflow fill below only engages if
    // the registry someday outgrows even deciseconds.
    // "cold_sec" rides the compact line so the driver sees BOTH numbers:
    // steady medians amortize every session-scoped artifact memo, the
    // cold pass prices each build — gating on steady alone would let a
    // memo hide work from the round-over-round comparison (the round-12
    // verdict's accounting-shift caveat, item 2 of its next-round list).
    val base = f"""{"metric":"total","value":$total%.3f,"unit":"sec","cold_sec":$cold%.3f,"sf":"$sfDir","detail":"BENCH_LAST.json""""
    val entries = stats.sortBy(-_._2._1)
      .map { case (k, (m, _, _)) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + math.round(m * 10).toString }
    val buf = new StringBuilder
    var omitted = 0
    entries.foreach { e =>
      if (base.length + buf.length + e.length + 60 <= 1880) {
        if (buf.nonEmpty) buf.append(','); buf.append(e)
      } else omitted += 1
    }
    val steadyPart = s"""$base,"queries_omitted":$omitted,"queries_ds":{$buf}"""
    // compact per-query COLD map: deciseconds for the queries whose cold
    // pass exceeds their steady median by >= 0.3 s (the memo-amortized
    // families), largest delta first, greedily filled into whatever
    // budget the steady map left — steady entries are NEVER displaced
    // (they are the regression gate; cold attribution is the audit
    // trail, with the full-precision map always in BENCH_LAST.json).
    val medByName = stats.toMap
    val coldEntries = coldRun
      .map { case (k, t) => (k, t, t - medByName(k)._1) }
      .filter(_._3 >= 0.3).sortBy(-_._3)
      .map { case (k, t, _) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + math.round(t * 10).toString }
    val cbuf = new StringBuilder
    var coldOmitted = 0
    coldEntries.foreach { e =>
      if (steadyPart.length + cbuf.length + e.length + 45 <= 1900) {
        if (cbuf.nonEmpty) cbuf.append(','); cbuf.append(e)
      } else coldOmitted += 1
    }
    println(s"""$steadyPart,"cold_omitted":$coldOmitted,"queries_cold_ds":{$cbuf}}""")
    spark.stop()
  }
}
