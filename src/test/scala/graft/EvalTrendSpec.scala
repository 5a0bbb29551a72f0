package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, Pipeline, Relational, Similarity}

/** Intent pins for q155-q158. */
class EvalTrendSpec extends AnyFunSuite with SparkFixture {

  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  test("q155 dedup eval: LSH pairs are a verified SUBSET of exact pairs") {
    import spark.implicits._
    // on real corpus geometry (sf0.001) the invariants must hold exactly:
    // every LSH pair passes the same exact-cosine verify, so lsh ⊆ exact
    val r = Similarity.dedupEval(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    val (nExact, nLsh, nCommon, nMissed, nFalse, prec, recall) = r
    assert(nExact > 0, "fixture corpus must contain exact pairs")
    assert(nCommon == nLsh, "every LSH pair must be exact-verified")
    assert(nFalse == 0L)
    assert(prec == 1000000L)
    assert(nMissed == nExact - nLsh)
    assert(recall <= 1000000L && recall == nCommon * 1000000L / nExact)
  }

  test("q156 split leakage flags the cross-split twin and keeps the in-split one") {
    import spark.implicits._
    val dir = tempDir("q156fix").toString
    // pick ids by their REAL split buckets so the fixture is stable
    def bucket(id: Long): Long = hash60(id.toString) % 100
    val train = (1L to 500L).filter(bucket(_) < 90)
    val test = (1L to 500L).filter(bucket(_) >= 95)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t2 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (train(0), t1, "s"), (test(0), t1, "s"),   // cross-split twin -> leak
      (train(1), t2, "s"), (train(2), t2, "s"))  // in-split twin -> no leak
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.splitLeakage(spark, dir)
      .as[(String, String, Long, Boolean)].collect().toSeq
    assert(got == Seq(("test", "train", 1L, true), ("train", "train", 1L, false)))
  }

  test("q157 OLS recovers an exact line and zeroes degenerate variance") {
    import spark.implicits._
    val dir = tempDir("q157fix").toString
    Seq((0L, "ALPHA"), (1L, "BRAVO")).toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // ALPHA on the exact line y = 200x + 100 (cents); BRAVO constant
    // x=1 -> vx=0 -> all three stats pin to 0.0
    val orders = Seq(
      (1L, 3.00), (2L, 2.50), (2L, 2.50), (3L, 3.00), (3L, 2.00), (3L, 2.00),
      (4L, 9.99), (5L, 1.23))
      .zipWithIndex.map { case ((c, p), i) => (i.toLong, c, p) }
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = Relational.olsTrend(spark, dir)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(got == Seq(("ALPHA", 3L, 200.0, 100.0, 1.0),
      ("BRAVO", 2L, 0.0, 0.0, 0.0)))
  }

  test("q158 lag features match the hand gaps incl. floor-div mean") {
    import spark.implicits._
    val dir = tempDir("q158fix").toString
    def ts(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    val rows = Seq(0L, 10L, 30L, 70L, 150L).zipWithIndex
      .map { case (t, i) => (i.toLong, ts(t), 7L, "e") }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.lagFeatures(spark, dir)
      .select($"event_id", $"gap1_us", $"gap2_us", $"mean_gap3")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, -1L, -1L, -1L),
      (1L, 10L, -1L, 10L),
      (2L, 20L, 10L, 15L),
      (3L, 40L, 20L, 23L),  // (70-0)/3 floors
      (4L, 80L, 40L, 46L))) // (150-10)/3 floors
  }
}
