package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, Relational, TextAnalysis}

/** Intent pins for q151-q154. q151/q154 check the statistics against an
  * independent in-test reimplementation (exact integer sums + the same
  * double chains), q152/q153 against fully hand-computed fixtures.
  */
class InferenceSequenceSpec extends AnyFunSuite with SparkFixture {

  /** Test-local twin of the engine's hash60 (first 15 md5 hex chars). */
  private def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map(b => f"$b%02x").mkString.take(15), 16)
  }

  test("q151 bootstrap CI matches an independent replica computation") {
    import spark.implicits._
    val dir = tempDir("q151fix").toString
    val orders = (1L to 200L).map(k => (k, k, 10.00 + (k % 7)))
    orders.toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1L to 200L).map(c => (c, if (c % 2 == 0) "AUTO" else "HOME"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = Relational.bootstrapCi(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // independent replica math: same bits, same floor-div means
    val expect = orders.map { case (k, c, p) =>
      (if (c % 2 == 0) "AUTO" else "HOME", math.round(p * 100), hash60(k.toString))
    }.groupBy(_._1).toSeq.sortBy(_._1).map { case (seg, rows) =>
      val n = rows.size.toLong
      val mean = rows.map(_._2).sum / n
      val means = (0 until 32).flatMap { b =>
        val in = rows.filter(r => ((r._3 >> b) & 1L) == 1L)
        if (in.isEmpty) None else Some(in.map(_._2).sum / in.size)
      }.sorted
      (seg, n, mean, means(1), means(means.size - 2))
    }
    assert(got == expect)
  }

  test("q152 quantile normalization maps both sources onto the global grid") {
    import spark.implicits._
    val dir = tempDir("q152fix").toString
    def doc(n: Int): String = Seq.fill(n)("t").mkString(" ")
    // a: lens 1,2,3,4; b: lens 10,20,30,40. Global sorted: 1,2,3,4,10,
    // 20,30,40. Each source's rank r maps to g = ceil(r*8/4) = 2r ->
    // both normalize onto {2,4,20,40}: same calibrated values.
    val docs = Seq(1, 2, 3, 4).zipWithIndex.map { case (n, i) => (i.toLong, doc(n), "a") } ++
      Seq(10, 20, 30, 40).zipWithIndex.map { case (n, i) => (10L + i, doc(n), "b") }
    docs.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.quantileNormalize(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "a", 1L, 2L), (1L, "a", 2L, 4L), (2L, "a", 3L, 20L), (3L, "a", 4L, 40L),
      (10L, "b", 10L, 2L), (11L, "b", 20L, 4L), (12L, "b", 30L, 20L), (13L, "b", 40L, 40L)))
  }

  test("q153 sequence support allows gaps and counts users once") {
    import spark.implicits._
    val dir = tempDir("q153fix").toString
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    // user 1: A B C (adjacent); user 2: A x B y C (gapped — still
    // supports A->B->C); user 3: C B A (reversed — supports only
    // C->B->A, support 1, pruned). A appearing twice in user 1 must
    // not double-count the user.
    val rows = Seq(
      (1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "C"), (1L, 4L, "A"),
      (2L, 1L, "A"), (2L, 2L, "x"), (2L, 3L, "B"), (2L, 4L, "y"), (2L, 5L, "C"),
      (3L, 1L, "C"), (3L, 2L, "B"), (3L, 3L, "A"))
      .zipWithIndex.map { case ((u, t, e), i) => (i.toLong, ts(t), u, e) }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventOps.frequentSequences(spark, dir)
      .as[(String, String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "B", "C", 2L)))
  }

  test("q154 CUPED: y==x makes theta 1 and kills the raw lift") {
    import spark.implicits._
    val dir = tempDir("q154fix").toString
    def ts(us: Long) = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    // pick two users per hash-parity arm so neither arm is empty
    val ids = (1L to 50L).filter(u => hash60(u.toString) % 2 == 0).take(2) ++
      (1L to 50L).filter(u => hash60(u.toString) % 2 == 1).take(2)
    assert(ids.size == 4)
    // user k gets k pre events (ts < mid) and k post events (ts >= mid);
    // anchor rows pin min=0 and max=1000000 so mid = 500000 exactly —
    // the anchors belong to ids.head and ARE its 1st pre/post event.
    val ev = ids.zipWithIndex.flatMap { case (u, i) =>
      val k = i + 1
      val pre = (0 until k).map(j => (u, 1000L + j))
      val post = (0 until k).map(j => (u, 600000L + j))
      pre ++ post
    } ++ Seq((ids.head, 0L), (ids.head, 1000000L))
    // ids.head now has one extra pre and post event — still y == x.
    val rows = ev.zipWithIndex.map { case ((u, t), i) => (i.toLong, ts(t), u, "e") }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = EventOps.cupedLift(spark, dir)
      .select($"theta", $"lift_adj", $"adj_a", $"adj_b").head
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 0.0)
    assert(r.getDouble(2) == r.getDouble(3)) // both arms land on x-bar
  }
}
