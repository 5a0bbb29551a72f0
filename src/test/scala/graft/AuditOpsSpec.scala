package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Intent pins for the q165-q169 audit/ingest wave. The oracle certifies
  * cross-engine equality on driver data; these fixtures pin the branches
  * the generated data never exercises (corrupt JSON, missing keys,
  * replayed batches) and the statistical intent (median/MAD arithmetic,
  * asymmetric containment) on hand-computable inputs.
  */
class AuditOpsSpec extends AnyFunSuite with SparkFixture {

  private def eventsFixture(rows: Seq[(Long, Long, Long, String, Double, String)]): String = {
    import spark.implicits._
    val dir = tempDir("auditfix").toString
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    rows.map { case (id, tsec, u, et, v, p) => (id, ts(tsec), u, et, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q165 cumulative users: first-touch day only, running sum over days") {
    val day = 86400L
    // user 1 active on days 0 and 2 (counts once, day 0); user 2 day 0;
    // user 3 day 2 -> new (2,1), cum (2,3)
    val dir = eventsFixture(Seq(
      (1L, 10L, 1L, "view", 0.0, "{}"),
      (2L, 2 * day + 5, 1L, "view", 0.0, "{}"),
      (3L, 20L, 2L, "view", 0.0, "{}"),
      (4L, 2 * day + 9, 3L, "view", 0.0, "{}")))
    val got = operators.EventOps.cumulativeUsers(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 2L, 2L), (2L, 1L, 3L)))
  }

  test("q166 leak report: containment is |doc ∩ item| / |item|, zero-hit items still report") {
    import spark.implicits._
    val dir = tempDir("leakfix").toString
    // doc_id 0 and 97 are benchmark items (id % 97 == 0).
    // item 0 = 9 tokens a..i (2 8-grams), fully contained in doc 1 (long
    // doc -> containment 1.0 despite tiny doc-side overlap) and
    // half-contained in doc 2 (first 8 tokens only: 1 of 2 8-grams ->
    // 0.5, leaking at the >= 0.5 bar).
    // item 97 shares nothing -> must still emit a zero row.
    Seq(
      (0L, "bench", "a b c d e f g h i"),
      (97L, "bench", "q r s t u v w x"),
      (1L, "web", "z1 z2 a b c d e f g h i z3 z4 z5 z6 z7 z8 z9"),
      (2L, "web", "a b c d e f g h m n o"),
      (3L, "web", "p p p p p p p p p")
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.benchLeakReport(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq(
      (0L, 2L, 2L, 2L, 1.0),
      (97L, 1L, 0L, 0L, 0.0)))
  }

  test("q167 upsert ledger: a replayed batch id is a no-op (exactly-once past at-least-once delivery)") {
    val dir = eventsFixture(Seq(
      (1L, 10L, 1L, "view", 1.00, "{}"),
      (2L, 20L, 2L, "view", 2.50, "{}"),
      (3L, 30L, 1L, "click", 0.25, "{}")))
    // streamJdbcUpsert itself replays batch 0 after the stream drains and
    // require()s the ledger rejected it — reaching the assert below means
    // the poison replay was swallowed exactly-once.
    val got = graft.streaming.StreamOps.streamJdbcUpsert(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("click", 1L, 25L), ("view", 2L, 350L)))
  }

  test("q168 median/MAD: hand fixture (med 3, mad 1, one 5*MAD outlier)") {
    import spark.implicits._
    val dir = tempDir("madfix").toString
    // token counts 1,2,3,4,100: median 3, adev {2,1,0,1,97}, MAD 1,
    // outliers = adev > 5 -> exactly the 100-token doc
    def words(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(1, 2, 3, 4, 100).zipWithIndex.map { case (n, i) => (i.toLong, "s", words(n)) }
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.madOutliers(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))).toSeq
    assert(got == Seq(("s", 5L, 3.0, 1.0, 1L)))
  }

  test("q180 approx column stats: exact fields identical, ndv inside the HLL envelope, no Expand") {
    val dir = "/root/testdata/sf0.01"
    val exact = operators.Relational.columnStatsProfile(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val approxDf = operators.Relational.columnStatsApprox(spark, dir)
    val approx = approxDf.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (colName, (n, nn, nd, mn, mx)) =>
      val (an, ann, and_, amn, amx) = approx(colName)
      // everything except ndv combines exactly — must be identical
      assert((an, ann, amn, amx) == ((n, nn, mn, mx)), s"$colName exact fields drifted")
      // rsd 0.02 -> 3-sigma ~ 6%; +2 absolute slack covers tiny-ndv
      // columns where the integer envelope would round to zero
      val tol = math.max(2L, math.ceil(nd * 0.06).toLong)
      assert(math.abs(and_ - nd) <= tol,
        s"$colName: approx ndv $and_ vs exact $nd exceeds 3-sigma envelope $tol")
    }
    // the point of the sketch path: ONE plain aggregate, no 6x Expand of
    // the scan (q139's exact distinct counts plan one duplicated pass per
    // aggregate — its measured sf10 cost)
    approxDf.collect() // finalize AQE
    val plan = approxDf.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Expand"), s"sketch profile must not Expand the scan:\n$plan")
  }

  test("q169 variant ingest: corrupt payloads and missing keys count, valid k sums") {
    val dir = eventsFixture(Seq(
      (1L, 10L, 1L, "view", 0.0, """{"k": 7}"""),
      (2L, 20L, 1L, "view", 0.0, "not json"),
      (3L, 30L, 1L, "view", 0.0, """{"x": 2}"""),
      (4L, 40L, 1L, "view", 0.0, """{"k": 5}""")))
    val got = operators.EventOps.variantIngest(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(("view", 1L, 1L, 12L, 7L, 4L)))
  }
}
