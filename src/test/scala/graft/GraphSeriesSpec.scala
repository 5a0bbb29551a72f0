package graft

import org.scalatest.funsuite.AnyFunSuite

/** Intent pins for the q170-q174 wave: forward-fill sentinels, MaxSim's
  * late-interaction scoring, LPA community structure on a hand graph,
  * percentile interpolation, and negative-sampling determinism.
  */
class GraphSeriesSpec extends AnyFunSuite with SparkFixture {

  private def writeEvents(dir: String, rows: Seq[(Long, Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    rows.map { case (id, tsec, u, et, v, p) => (id, ts(tsec), u, et, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("q170 forward fill: gap hour carries the last observed value; pre-first hour is -1") {
    val dir = tempDir("fffix").toString
    val hr = 3600L
    // type A observed at hours 0 (100 cents) and 2 (200): hour 1 filled 100
    // type B observed at hour 2 only: hours 0-1 are -1 sentinels
    writeEvents(dir, Seq(
      (1L, 10L, 1L, "A", 1.00, "{}"),
      (2L, 2 * hr + 10, 1L, "A", 2.00, "{}"),
      (3L, 2 * hr + 20, 1L, "B", 5.00, "{}")))
    val got = operators.EventOps.forwardFillHourly(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("A", 0L, 1L, 100L), ("A", 1L, 0L, 100L), ("A", 2L, 1L, 200L),
      ("B", 0L, 0L, -1L), ("B", 1L, 0L, -1L), ("B", 2L, 1L, 500L)))
  }

  test("q171 maxsim: an exact copy scores 4.0 and ranks first; chunk-permuted copy also 4.0") {
    import spark.implicits._
    val dir = tempDir("msfix").toString
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextFloat() - 0.5f)
    val base = vec()
    // vec 0 = query (id % 1000 == 0); vec 1 = exact copy (maxsim = 4);
    // vec 2 = CHUNKS of the query in rotated order — single-vector cosine
    // would see a different vector, MaxSim still scores 4.0 because each
    // query chunk finds its twin SOMEWHERE in the doc: the property that
    // makes late interaction late.
    val rotated = (base.slice(16, 64) ++ base.slice(0, 16)).toArray
    val others = (3L to 9L).map(i => (i, vec()))
    (Seq((0L, base), (1L, base.clone()), (2L, rotated)) ++ others)
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = operators.Similarity.maxsimRetrieval(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.take(2) == Seq((0L, 1L, 1L, 4.0), (0L, 2L, 2L, 4.0)))
    assert(got.size == 5 && got.forall(_._1 == 0L))
  }

  test("q172 LPA: two dense triangles stay separate communities across a weak bridge") {
    import spark.implicits._
    val dir = tempDir("lpafix").toString
    // orders o1,o2 = triangle {1,2,3}; o3,o4 = triangle {10,11,12};
    // o5,o6 = bridge edge (3,10) — every edge has support 2
    val rows = Seq(
      (1L, Seq(1L, 2L, 3L)), (2L, Seq(1L, 2L, 3L)),
      (3L, Seq(10L, 11L, 12L)), (4L, Seq(10L, 11L, 12L)),
      (5L, Seq(3L, 10L)), (6L, Seq(3L, 10L))
    ).flatMap { case (o, ps) => ps.map(p => (o, p)) }
    rows.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = operators.Clustering.labelPropagation(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 3L), (11L, 3L), (12L, 3L)))
  }

  test("q173 percentile bands: interpolated p50/p90/p99 on two values") {
    val dir = tempDir("pbfix").toString
    writeEvents(dir, Seq(
      (1L, 10L, 1L, "A", 1.00, "{}"),
      (2L, 20L, 2L, "A", 2.00, "{}")))
    val r = operators.EventOps.hourlyPercentileBands(spark, dir).collect().head
    assert((r.getString(0), r.getLong(1), r.getLong(2)) == ("A", 0L, 2L))
    assert(r.getDouble(3) == 150.0 && r.getDouble(4) == 190.0 && r.getDouble(5) == 199.0)
  }

  test("q174 negative samples: deterministic, never self, neg metadata joined") {
    import spark.implicits._
    val dir = tempDir("negfix").toString
    (0L to 9L).map(i => (i, s"src${i % 2}", "t"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run() = operators.Pipeline.negativeSamples(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toSeq
    val a = run(); val b = run()
    assert(a == b)
    assert(a.forall(t => t._1 != t._3) && a.forall(t => t._2 >= 1 && t._2 <= 3))
    assert(a.forall(t => t._5 == s"src${t._3 % 2}"))
  }
}
