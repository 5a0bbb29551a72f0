package graft

/** Focused per-query ladder: runs the NAMED registered queries through
  * Bench's own loop ([[Bench.ladder]]: untimed sf0.001 warmup pass, one
  * cold pass at SPARK_GRAFT_SF_DIR, median over SPARK_GRAFT_BENCH_PASSES
  * (default 3) steady passes, one untimed profiled pass, noop sink)
  * without paying the other ~180 queries per iteration. Prints one
  * `QPROBE` line per query with its times and its [[ProfileRow]] (a query
  * that raised is marked `failed`), then each query's formatted physical
  * plan, untimed. Usage:
  * `sbt "runMain graft.QProbe q144_entity_resolution q90_integrity_audit"`.
  * Same session config as Bench so the measured plans are the suite's.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "QProbe: name at least one registered query")
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"QProbe: not registered: ${unknown.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    val spark = Tables.session("graft-qprobe", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val queries = args.toSeq.map(n => n -> SparkEntry.queries(n))
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt)
    val (_, rungs) = Bench.ladder(spark, queries, sfDir, warmupDir, passes)
    rungs.foreach { r =>
      val times =
        if (r.error.nonEmpty) "failed"
        else f"median=${r.median}%.3f min=${r.steady.min}%.3f max=${r.steady.max}%.3f cold=${r.cold}%.3f"
      println(s"QPROBE ${r.name} $times sf=$sfDir profile=${r.profile.json}")
    }
    queries.foreach { case (n, fn) =>
      println(s"=== $n ===")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"plan failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
