package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, Similarity, TextAnalysis}

/** q120 (hybrid RRF retrieval) and q121 (z-order pruning report).
  *
  * q120's legs are certified elsewhere (q108's BM25 oracle, q24's cosine
  * oracle); these tests pin the FUSION contract: rank provenance, the
  * two-term reciprocal arithmetic, and the (rrf desc, doc_id) order.
  *
  * q121's oracle certifies cross-engine arithmetic but both sides expand
  * the same generated Morton terms — the dense-grid fixture here pins the
  * INTENT: on a fully dense 256x256 grid the middle-quarter probe must
  * scan exactly the 16 z-buckets whose top-4-bit block intersects the
  * rectangle, versus 64 time-sorted buckets.
  */
class RetrievalLayoutSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("q120 fusion: ranks come from the legs, rrf is the exact two-term sum, order is (rrf desc, doc_id)") {
    val kCand = 50
    val fused = Similarity.hybridRrf(spark, sfDir).collect()
    assert(fused.nonEmpty && fused.length <= 20)

    def round6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    fused.foreach { r =>
      val sr = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val dr = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(sr.isDefined || dr.isDefined, "a fused doc must come from some leg")
      (sr.toSeq ++ dr.toSeq).foreach(rk => assert(rk >= 1 && rk <= kCand))
      val expected = round6(
        sr.map(x => 1.0 / (x + 60)).getOrElse(0.0) +
          dr.map(x => 1.0 / (x + 60)).getOrElse(0.0))
      assert(r.getDouble(3) == expected, s"rrf mismatch on doc ${r.getLong(0)}")
    }
    // output order: rrf desc, doc_id asc on ties
    val pairs = fused.map(r => (r.getDouble(3), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy { case (s, id) => (-s, id) }))

    // rank provenance: sparse ranks must reproduce the BM25 leg's order
    val bmIds = TextAnalysis.bm25TopDocs(spark, sfDir, k = kCand)
      .select($"doc_id").as[Long].collect()
    fused.filterNot(_.isNullAt(1)).foreach { r =>
      assert(bmIds(r.getLong(1).toInt - 1) == r.getLong(0),
        s"sparse_rank ${r.getLong(1)} does not point at doc ${r.getLong(0)} in the BM25 order")
    }
  }

  test("q121 dense 256x256 grid: z-order scans exactly 16 buckets, time-sort 64, identical matches") {
    val dir = tempDir("zorder").toString
    val grid = spark.range(0, 65536).select(
      $"id".as("event_id"),
      timestamp_micros($"id" % 256).as("ts"),
      ($"id" / 256).cast("long").as("user_id"),
      lit("t").as("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
    grid.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = EventOps.zorderPruning(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val z = out("zorder"); val t = out("tsort")
    // layout: (layout, n_buckets, buckets_scanned, rows_scanned, rows_matching, scan_frac)
    assert(z.getLong(1) == 256 && t.getLong(1) == 256)
    assert(z.getLong(2) == 16, s"z-order must scan the 4x4 top-bit blocks, got ${z.getLong(2)}")
    assert(t.getLong(2) == 64, s"time-sort must scan 64 of 256 time buckets, got ${t.getLong(2)}")
    assert(z.getLong(3) == 16 * 256 && t.getLong(3) == 64 * 256)
    assert(z.getLong(4) == 64 * 64 && t.getLong(4) == 64 * 64,
      "both layouts must agree on the true match count")
    assert(z.getDouble(5) == 0.0625 && t.getDouble(5) == 0.25)
  }

  test("q121 on harness data: layouts agree on matches, z-order prunes at least as well as time-sort") {
    val out = EventOps.zorderPruning(spark, sfDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val z = out("zorder"); val t = out("tsort")
    assert(z.getLong(4) == t.getLong(4))
    assert(z.getLong(3) >= z.getLong(4) && t.getLong(3) >= t.getLong(4))
    assert(z.getDouble(5) <= t.getDouble(5),
      s"z-order scan_frac ${z.getDouble(5)} should not exceed time-sort's ${t.getDouble(5)}")
  }
}
