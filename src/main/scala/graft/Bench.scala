package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with total + per-query wall seconds. Also home of
  * [[ladder]], the one measurement loop that `Bench` and `QProbe` share.
  */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** One query's measurements from [[ladder]]: wall seconds of its cold
    * pass and of each steady pass, its [[ProfileRow]], and the first error
    * it raised at the target SF (`None`: every pass ran to the end).
    */
  final case class Rung(name: String, cold: Double, steady: Seq[Double],
                        profile: ProfileRow, error: Option[Throwable]) {
    def median: Double = {
      val s = steady.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  }

  /** The measurement loop: one untimed pass over `warmupDir`, one cold
    * pass and `passes` steady passes over `sfDir`, then one untimed pass
    * under a [[Profile]]. Every run writes through the `noop` sink so the
    * full plan executes (a bare `count()` would let Catalyst prune
    * projections). Returns the warmup's wall seconds and one [[Rung]] per
    * query, in order.
    */
  def ladder(spark: SparkSession, queries: Seq[(String, Query)], sfDir: String,
             warmupDir: String, passes: Int): (Double, Seq[Rung]) = {
    def run(fn: Query, dir: String): Option[Throwable] =
      try { fn(spark, dir).write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable => Some(e) }
    def timed(fn: Query): (Double, Option[Throwable]) = {
      val t0 = System.nanoTime()
      val error = run(fn, sfDir)
      ((System.nanoTime() - t0) / 1e9, error)
    }
    // the warmup runs every query once at smoke scale so janino codegen,
    // JIT and file-index init are paid before timing; per-query numbers
    // then measure steady-state latency at the target SF. Its errors are
    // not the target SF's: a query that fails there fails again below.
    val w0 = System.nanoTime()
    queries.foreach { case (_, fn) => run(fn, warmupDir) }
    val warmup = (System.nanoTime() - w0) / 1e9
    // pass 0 is the cold pass: it pays the page-cache/file-index cost once
    // (reported as cold). The per-query numbers are MEDIANS over the steady
    // passes: the harness box shows ±25% run-to-run noise, which
    // single-pass numbers repeatedly misread as regressions.
    val timedPasses = (0 to passes).map(_ => queries.map { case (_, fn) => timed(fn) })
    // the profiled pass runs AFTER the timed ones, so the listeners never
    // touch a reported latency
    val profile = new Profile(spark)
    val profiled =
      try queries.map { case (_, fn) =>
        profile.take()
        val error = run(fn, sfDir)
        (profile.take(), error)
      } finally profile.close()
    val rungs = queries.indices.map { i =>
      val times = timedPasses.map(_(i))
      val error = (times.flatMap(_._2) ++ profiled(i)._2).headOption
      error.foreach(e => System.err.println(s"[bench] ${queries(i)._1} failed: ${e.getMessage}"))
      Rung(queries(i)._1, times.head._1, times.tail.map(_._1), profiled(i)._1, error)
    }
    (warmup, rungs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the harness contract (local[32], shuffle.partitions=32);
    // the original stub's default of 4 silently under-parallelized any run
    // that forgot to export SPARK_GRAFT_CPUS — see BENCH_NOTES round-10
    // core-count correction
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
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
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val (warmup, rungs) = ladder(spark, queries, sfDir, warmupDir, passes)
    // a failed query has no time: it is listed under "failed" and left out
    // of every timing map and of both totals
    val ok = rungs.filter(_.error.isEmpty)
    // "queries" stays a flat name->seconds map (the driver's documented
    // shape, now the per-query median); "queries_spread" carries the
    // {median,min,max} triple per query
    val qs = ok.map(r => "\"" + r.name + "\":" + f"${r.median}%.3f").mkString("{", ",", "}")
    val spread = ok.map { r =>
      "\"" + r.name + "\":" +
        f"""{"median":${r.median}%.3f,"min":${r.steady.min}%.3f,"max":${r.steady.max}%.3f}"""
    }.mkString("{", ",", "}")
    // per-query COLD times (first pass at the target SF): cold − steady
    // per cache-building query is what attributes the suite's cold_sec
    // overhead to each OpCache family (see BENCH_NOTES cold-vs-steady
    // table), keeping the "build once" memoization claim auditable
    val coldQs = ok.map(r => "\"" + r.name + "\":" + f"${r.cold}%.3f").mkString("{", ",", "}")
    val total = ok.map(_.median).sum
    val cold = ok.map(_.cold).sum
    val skipped = skip.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failed = rungs.filter(_.error.nonEmpty).map("\"" + _.name + "\"").mkString("[", ",", "]")
    // per-query engine profile (jobs, tasks, CPU, GC, shuffle, spill, peak
    // memory, streaming phases): the scale evidence behind the plan audit
    // ("is there a shuffle here that becomes the bottleneck at 100x?")
    // measured, not guessed
    val profiles = rungs.map(r => "\"" + r.name + "\":" + r.profile.json).mkString("{", ",", "}")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_spread":$spread,"queries_profile":$profiles,"queries_cold":$coldQs,"passes":$passes,"skipped":$skipped,"failed":$failed,"warmup_sec":$warmup%.3f,"cold_sec":$cold%.3f,"sf":"$sfDir"}"""
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
    val entries = ok.sortBy(-_.median)
      .map(r => "\"" + r.name.takeWhile(_ != '_') + "\":" + math.round(r.median * 10).toString)
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
    val coldEntries = ok.filter(r => r.cold - r.median >= 0.3).sortBy(r => r.median - r.cold)
      .map(r => "\"" + r.name.takeWhile(_ != '_') + "\":" + math.round(r.cold * 10).toString)
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
