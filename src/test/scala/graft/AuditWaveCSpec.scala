package graft

import org.scalatest.funsuite.AnyFunSuite

/** Intent pins for q176-q179: all four reconciliation classes on a hand
  * ledger, every RFM threshold branch, the dedup/short-doc card fields,
  * and the watermark's keep/drop boundary behavior.
  */
class AuditWaveCSpec extends AnyFunSuite with SparkFixture {

  test("q176 recon: all four classes and exact-integer match arithmetic") {
    import spark.implicits._
    val dir = tempDir("reconfix").toString
    // order 1: lines sum exactly to the header formula -> match
    // order 2: off by one cent-unit -> mismatch, diff = 10000 (1 cent at 1e4 scale)
    // order 3: no lines -> no_lines
    // line for order 4: no header -> no_order
    Seq(
      (1L, 100.0), // header_u = 10000 * 10000 = 1e8
      (2L, 100.0),
      (3L, 55.5)
    ).toDF("o_orderkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // one line, no discount/tax: derived_u = ec * 100 * 100
    Seq(
      (1L, 100.0, 0.0, 0.0),  // 10000*100*100 = 1e8 -> match
      (2L, 99.99, 0.0, 0.0),  // 9999*100*100 -> diff 1e4
      (4L, 10.0, 0.0, 0.0)
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Relational.reconReport(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("match", 1L, 0L), ("mismatch", 1L, 10000L),
      ("no_lines", 1L, 0L), ("no_order", 1L, 0L)))
  }

  test("q177 rfm: each threshold branch labels as specified") {
    import spark.implicits._
    val dir = tempDir("rfmfix").toString
    def ts(day: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(day * 86400L))
    // max day = 40 (user 5 anchors it)
    // user 1: 20 events on day 40   -> champion
    // user 2: 1 event  on day 39    -> recent
    // user 3: 20 events on day 5    -> frequent (recency 35 but freq wins order)
    // user 4: 1 event  on day 5     -> at_risk (recency 35)
    // user 5: 1 event  on day 40 +  1 on day 25 -> recent? last_day 40 -> recency 0 -> recent
    // user 6: 1 event  on day 20    -> regular (recency 20, freq 1)
    val rows =
      (1 to 20).map(i => (100L + i, 40L, 1L)) ++
      Seq((200L, 39L, 2L)) ++
      (1 to 20).map(i => (300L + i, 5L, 3L)) ++
      Seq((400L, 5L, 4L), (500L, 40L, 5L), (501L, 25L, 5L), (600L, 20L, 6L))
    rows.map { case (id, day, u) => (id, ts(day), u, "e", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = operators.EventOps.rfmSegments(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("at_risk", 1L), ("champion", 1L), ("frequent", 1L),
      ("recent", 2L), ("regular", 1L)))
  }

  test("q178 card: dup and short-doc fields on a hand corpus") {
    import spark.implicits._
    val dir = tempDir("cardfix").toString
    def words(n: Int) = Seq.tabulate(n)(i => s"w$i").mkString(" ")
    Seq(
      (0L, "a", words(30)),
      (1L, "a", words(30)),            // exact dup of 0 (same text)
      (2L, "a", words(30) + "  "),     // whitespace-normalized dup of 0
      (3L, "b", words(5))              // short doc
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = operators.TextAnalysis.datasetCard(spark, dir).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(5)) ==
      (4L, 2L, 97L, 2L, 1L))
  }

  test("q179 lateness: a late row in an expired window drops, in a live window survives") {
    import spark.implicits._
    val dir = tempDir("latefix").toString
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val hr = 3600L
    // eviction threshold = ms-truncated corpus max ts (5h10s)
    // late rows (ids % 50 == 0):
    //   id 50: ts in hour 0 (window end 1h <= threshold) -> DROPPED
    //   id 100: ts in hour 5 (window end 6h > threshold) -> SURVIVES
    val rows = Seq(
      (1L, 10L), (2L, 5 * hr + 10L),
      (50L, 20L), (100L, 5 * hr + 5L))
    rows.map { case (id, t) => (id, ts(t), 1L, "A", 1.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = operators.EventOps.lateDataAudit(spark, dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ("A", 4L, 3L, 1L))
  }
}
