package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Multimodal, Relational, TextAnalysis}

/** Intent pins for q147-q150: hand fixtures that define what each
  * operator MEANS, independent of the cross-engine oracle (which only
  * certifies that both engines share one formulation).
  */
class StatsGraphImageSpec extends AnyFunSuite with SparkFixture {

  test("q147 Spearman hits +1/-1 on monotone fixtures and handles ties") {
    import spark.implicits._
    val dir = tempDir("q147fix").toString
    Seq((0L, "ALPHA"), (1L, "BRAVO"), (2L, "CHARLIE"))
      .toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L), (6L, 1L),
      (7L, 2L), (8L, 2L))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // ALPHA: more orders <-> more spend (concordant) -> rho = +1
    // BRAVO: more orders <-> LESS spend (inverted) -> rho = -1
    // CHARLIE: two customers tied on orders, different spend -> the
    //   doubled-rank tie handling: rx both = 2*1+2-1 = 3, ry 2 and 4
    //   -> sum_d2 = 1+1 = 2, rho = 1 - 1.5*2/(2*3) = 0.5
    val orders = Seq(
      (1L, 10.00), (2L, 10.00), (2L, 10.00), (3L, 10.00), (3L, 10.00), (3L, 10.00),
      (4L, 9.00), (5L, 3.00), (5L, 3.00), (6L, 1.00), (6L, 1.00), (6L, 1.00),
      (7L, 1.00), (8L, 5.00))
      .zipWithIndex.map { case ((c, p), i) => (i.toLong, c, p) }
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.spearmanCorr(spark, dir)
      .select($"n_name", $"rho_e6").as[(String, Long)].collect().toSeq
    assert(got == Seq(("ALPHA", 1000000L), ("BRAVO", -1000000L),
      ("CHARLIE", 500000L)))
  }

  test("q147 grid-rank fallback equals the window form — single giant nation AND real data") {
    import spark.implicits._
    // (1) the 100x shape the fallback exists for: ONE nation holds every
    // customer, so the window form's nation-partitioned sort would be a
    // single giant task; the grid-rank form must produce the same rho
    val dir = tempDir("q147grid").toString
    Seq((0L, "ONLY")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    (1L to 40L).map(c => (c, 0L)).toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // heavy ties in both coordinates exercise the 2·off + kn + 1 identity
    val orders = (1L to 40L).flatMap { c =>
      val n = (c % 4 + 1).toInt // order counts cycle 1..4 -> tie groups
      (0 until n).map(i => (c * 100 + i, c, ((c % 7) + 1) * 2.50))
    }
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val window = Relational.spearmanCorr(spark, dir).collect().map(_.toSeq).toSeq
    val grid = Relational.spearmanCorrGridRank(spark, dir).collect().map(_.toSeq).toSeq
    assert(grid == window, "grid-rank fallback diverged on the single-nation corpus")
    // (2) real data, all nations: the equality is semantic, not a
    // single-partition artifact
    val w2 = Relational.spearmanCorr(spark, sfDir).collect().map(_.toSeq).toSeq
    val g2 = Relational.spearmanCorrGridRank(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(g2 == w2, "grid-rank fallback diverged on the multi-nation corpus")
  }

  test("q148 triangles need every edge frequent, oriented once") {
    import spark.implicits._
    val dir = tempDir("q148fix").toString
    // o10,o11 both carry {1,2,3} -> all three edges support 2 -> triangle.
    // {4,5,6} co-occur only in o13; (4,5) repeats via o12 but (4,6) and
    // (5,6) stay support 1 -> pruned -> NO second triangle.
    val li = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (11L, 1L), (11L, 2L), (11L, 3L),
      (12L, 4L), (12L, 5L),
      (13L, 4L), (13L, 5L), (13L, 6L))
    li.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Clustering.copurchaseTriangles(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 3L, 2L)))
  }

  test("q149 KS distance equals the hand ECDF sup") {
    import spark.implicits._
    val dir = tempDir("q149fix").toString
    def doc(n: Int): String = Seq.fill(n)("t").mkString(" ")
    // a: lens {1,2,3,4}, b: lens {3,4,5,6} -> sup |F_a - F_b| = 1/2
    val docs = Seq(1, 2, 3, 4).map(n => (n.toLong, doc(n), "a")) ++
      Seq(3, 4, 5, 6).map(n => (n.toLong + 10, doc(n), "b"))
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.ksDistance(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 4L, 4L, 500000L)))
  }

  test("q150 dHash kernel: gradient raster is all ones, flat is zero") {
    // strictly increasing luma left-to-right -> every bit set
    val inc = Array.tabulate(16 * 16) { i => val v = (i % 16) * 10; (v << 16) | (v << 8) | v }
    assert(Multimodal.dhashFromRaster(16, 16, inc).toSeq ==
      Seq(0xffffL, 0xffffL, 0xffffL, 0xffffL))
    val flat = Array.fill(16 * 16)(0x808080)
    assert(Multimodal.dhashFromRaster(16, 16, flat).toSeq ==
      Seq(0L, 0L, 0L, 0L))
    // one dark pixel at grid cell (y=0, x=3) of a 9x8-aligned 9x8 image
    // flips exactly the two adjacent gradient bits in band 0
    val px = Array.fill(9 * 8)(0x808080)
    px(3) = 0 // y=0 row, col 3: g(0,2)>g(0,3) -> bit2 stays 0 (not <),
              // g(0,3)<g(0,4) -> bit3 = 1
    val b = Multimodal.dhashFromRaster(9, 8, px)
    assert(b(0) == (1L << 3) && b(1) == 0L && b(2) == 0L && b(3) == 0L)
  }

  test("q150 banded pairs: pigeonhole, bucket cap, and dims floor") {
    import spark.implicits._
    val mk = (id: Long, w: Long, h: Long, b0: Long, b1: Long, b2: Long, b3: Long) =>
      (id, w, h, b0, b1, b2, b3)
    val base = mk(1L, 16L, 16L, 0xabcdL, 0x1234L, 0x5678L, 0x9abcL)
    val dupe = mk(2L, 16L, 16L, 0xabcdL, 0x1234L, 0x5678L, 0x9abcL)   // dist 0
    val near = mk(3L, 16L, 16L, 0xabccL, 0x1235L, 0x5678L, 0x9abcL)   // dist 2 (b0,b1 one bit each)
    val far  = mk(4L, 16L, 16L, 0xabcdL ^ 0xfL, 0x1234L ^ 0xfL,       // dist 16 — shares NO band
      0x5678L ^ 0xfL, 0x9abcL ^ 0xfL)
    val tiny = mk(5L, 4L, 4L, 0xabcdL, 0x1234L, 0x5678L, 0x9abcL)     // dims floor excludes
    val crowd = (100L until 200L).map(i => mk(i, 16L, 16L, 0L, i, i, i)) // 100 share b0=0 -> capped
    val hashes = (Seq(base, dupe, near, far, tiny) ++ crowd)
      .toDF("doc_id", "src_w", "src_h", "b0", "b1", "b2", "b3")
    val got = Multimodal.dhashPairs(hashes)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 0L), (1L, 3L, 2L), (2L, 3L, 2L)))
  }
}
