package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Relational, TextAnalysis}

/** Intent pins for q143-q146: hand fixtures that define what each
  * operator MEANS, independent of the cross-engine oracle (which only
  * certifies that both engines share one formulation).
  */
class OverlapSkylineSpec extends AnyFunSuite with SparkFixture {

  test("q143 vocabulary Jaccard/overlap on a hand fixture") {
    import spark.implicits._
    val dir = tempDir("q143fix").toString
    // a: {x,y,z}; b: {y,z,w}; c: {q}. a∩b = {y,z}: J = 2/4, ovl = 2/3.
    Seq((1L, "x y z", "a"), (2L, "y z", "b"), (3L, "w y", "b"), (4L, "q", "c"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.vocabOverlap(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 3L, 3L, 2L, 500000L, 666666L)))
  }

  test("q144 entity resolution closes chains and keeps singletons canonical") {
    import spark.implicits._
    val dir = tempDir("q144fix").toString
    // family "rose": aaaa ~ aaab (dist 1), aaab ~ aabb (dist 1) but
    // aaaa ~ aabb dist 2 also pairs; one 3-name chain either way.
    // "zzzz rose" is dist 4 from all -> singleton; family "lily" isolated.
    Seq("aaaa rose", "aaaa rose", "aaab rose", "aabb rose", "zzzz rose",
      "mmmm lily")
      .toDF("p_name")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Clustering.entityResolution(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("aaaa rose", "aaaa rose", 3L, 4L), // 3 names, 4 part rows (dup aaaa)
      ("aaab rose", "aaaa rose", 3L, 4L),
      ("aabb rose", "aaaa rose", 3L, 4L),
      ("mmmm lily", "mmmm lily", 1L, 1L),
      ("zzzz rose", "zzzz rose", 1L, 1L)))
  }

  test("q145 chi-square matches a hand computation and zeroes under independence") {
    import spark.implicits._
    val dir = tempDir("q145fix").toString
    def orders(rows: Seq[(String, String, Int)]) = {
      rows.flatMap { case (st, pr, k) => Seq.fill(k)((st, pr)) }
        .zipWithIndex
        .map { case ((st, pr), i) => (i.toLong, st, pr) }
        .toDF("o_orderkey", "o_orderstatus", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    }
    // independent 2x2: counts proportional to r*c -> every d = 0
    orders(Seq(("A", "1", 10), ("A", "2", 20), ("B", "1", 5), ("B", "2", 10)))
    val ind = Relational.chiSquareScreen(spark, dir)
      .select($"contrib_e6", $"chi2_e6", $"dof")
      .as[(Long, Long, Long)].collect()
    assert(ind.forall { case (c, t, f) => c == 0L && t == 0L && f == 1L })
    // dependent 2x2: obs [[10,0],[0,10]], N=20, all r=c=10
    // d = 10*20-100 = 100 per diagonal cell, -100 off; contrib each =
    // 10000/(20*10*10)*1e6 = 5_000_000 e6; chi2 = N = 20 -> 20_000_000.
    orders(Seq(("A", "1", 10), ("A", "2", 0), ("B", "1", 0), ("B", "2", 10)))
    val dep = Relational.chiSquareScreen(spark, dir)
      .select($"observed", $"expected_e6", $"contrib_e6", $"chi2_e6")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(dep.map(_._3).toSet == Set(5000000L))
    assert(dep.forall(_._4 == 20000000L))
    assert(dep.forall(_._2 == 5000000L)) // expected = 100/20 = 5.0
  }

  test("q146 skyline equals brute-force dominance incl. equal-point twins") {
    import spark.implicits._
    val dir = tempDir("q146fix").toString
    // (key, price, size): 1 (1.00, 5) frontier; 2 (1.00, 5) twin ->
    // BOTH survive; 3 (1.00, 3) dominated (same price, smaller);
    // 4 (2.00, 5) dominated (same size, pricier); 5 (2.00, 9) frontier;
    // 6 (3.00, 9) dominated; 7 (0.50, 1) frontier (cheapest).
    val rows = Seq((1L, 1.00, 5), (2L, 1.00, 5), (3L, 1.00, 3),
      (4L, 2.00, 5), (5L, 2.00, 9), (6L, 3.00, 9), (7L, 0.50, 1))
    rows.toDF("p_partkey", "p_retailprice", "p_size")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val got = Relational.paretoFrontier(spark, dir)
      .as[(Long, Long, Long)].collect().map(_._1).toSeq
    val pts = rows.map { case (k, p, s) => (k, math.round(p * 100), s.toLong) }
    val brute = pts.filterNot { case (k, p, s) =>
      pts.exists { case (k2, p2, s2) =>
        k2 != k && p2 <= p && s2 >= s && (p2 < p || s2 > s) }
    }.map(_._1).sorted
    assert(got.sorted == brute)
    assert(got.sorted == Seq(1L, 2L, 5L, 7L))
  }
}
