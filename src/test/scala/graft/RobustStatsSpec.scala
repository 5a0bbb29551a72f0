package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, EventOps, Relational, TextAnalysis}

/** Intent pins for q139-q142. The DuckDB oracle certifies cross-engine
  * agreement but cannot catch a formulation bug both engines share (the
  * q123 lesson) — these fixtures pin what each statistic MEANS.
  */
class RobustStatsSpec extends AnyFunSuite with SparkFixture {

  test("q140 window closed form equals the textbook CUSUM recursion") {
    import spark.implicits._
    val daily = Tables.events(spark, sfDir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val t = daily.map(_._2).sum
    val d = daily.length.toLong
    val k = t / 4
    var sp = 0L; var sn = 0L
    val expected = daily.map { case (day, n) =>
      val v = n * d - t
      sp = math.max(0L, sp + v - k)
      sn = math.max(0L, sn - v - k)
      (day, n, sp, sn)
    }
    val got = EventOps.cusumDrift(spark, sfDir)
      .select($"day", $"n_events", $"cusum_pos", $"cusum_neg")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }

  test("q141 lower median / MAD / outlier semantics on hand fixtures") {
    import spark.implicits._
    val dir = tempDir("q141fix").toString
    def doc(n: Int): String = Seq.fill(n)("w").mkString(" ")
    // src a: counts 1,2,3,4 -> lower median (rank 2) = 2; devs 1,0,1,2
    // sorted 0,1,1,2 -> MAD = 1; no dev > 5 -> 0 outliers.
    // src b: counts 5,5,5,100 -> median 5, devs 0,0,0,95 -> MAD = 0;
    // dev > 0 -> exactly the wild doc flags (the mad=0 edge).
    Seq(
      ("a1", doc(1), "a"), ("a2", doc(2), "a"), ("a3", doc(3), "a"),
      ("a4", doc(4), "a"),
      ("b1", doc(5), "b"), ("b2", doc(5), "b"), ("b3", doc(5), "b"),
      ("b4", doc(100), "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.tokenDispersion(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 4L, 2L, 1L, 0L), ("b", 4L, 5L, 0L, 1L)))
  }

  test("q142 integer pagerank matches a hand-iterated fixture and conserves bounds") {
    import spark.implicits._
    val dir = tempDir("q142fix").toString
    // parts {1,2}, suppliers {1,2,3}; part 1 <-> {s1, s2}, part 2 <-> {s2, s3}
    val pairs = Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L))
    pairs.toDF("l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // hand iteration over node ids (2p, 2s+1) with the integer update
    val edges = pairs.flatMap { case (p, s) =>
      Seq((2 * p, 2 * s + 1), (2 * s + 1, 2 * p)) }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / deg(src) }.sum }
      r = r.keys.map(n => n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    val expected = deg.keys.filter(_ % 2 == 1).toSeq.sorted
      .map(n => ((n - 1) / 2, deg(n), r(n)))
    val got = Clustering.bipartitePagerank(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // symmetric structure: s1 and s3 are isomorphic, s2 dominates
    val byS = got.map(x => x._1 -> x._3).toMap
    assert(byS(1L) == byS(3L) && byS(2L) > byS(1L))
  }

  test("q139 stats are exact on a null/dup fixture and run in ONE Expand scan") {
    import spark.implicits._
    val dir = tempDir("q139fix").toString
    val ts = java.sql.Timestamp.valueOf("1995-06-01 00:00:00")
    Seq(
      (1L, 10L, "O", "1-URGENT", 10.00, ts),
      (2L, 10L, "F", "1-URGENT", 20.50, ts),
      (2L, 11L, "O", "2-HIGH", 20.50, ts))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
        "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = Relational.columnStatsProfile(spark, dir)
    val rows = df.as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(rows("orders.o_orderkey") == ((3L, 0L, 2L, 1L, 2L)))
    assert(rows("orders.o_custkey") == ((3L, 0L, 2L, 10L, 11L)))
    assert(rows("orders.o_orderstatus") == ((3L, 0L, 2L, -1L, -1L)))
    assert(rows("orders.o_totalprice_cents") == ((3L, 0L, 2L, 1000L, 2050L)))
    // 1995-06-01 = epoch day 9282
    assert(rows("orders.o_orderdate_eday") == ((3L, 0L, 1L, 9282L, 9282L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "multi-distinct must plan one Expand")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      "all column stats must come from ONE scan")
  }
}
