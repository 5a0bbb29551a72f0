package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Multimodal, Relational}

/** Intent pins for q160-q162. */
class ResampleBucketCapSpec extends AnyFunSuite with SparkFixture {

  test("q160 resample matches an independent integer-interp reference") {
    import spark.implicits._
    val dir = tempDir("q160fix").toString
    // ids cover all four source rates; id 0 (8000 Hz) UPSAMPLES to 11025
    val docs = Seq((0L, "abcd"), (1L, "abcdefgh"), (2L, "xyzw"), (3L, "hello world"))
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Multimodal.audioResample(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val expect = docs.map { case (id, text) =>
      val src = text.getBytes("UTF-8").map(b => (b & 0xff).toLong * 257L)
      val srcRate = 8000L * (1 + id % 4)
      val nIn = src.length.toLong
      val nOut = nIn * 11025L / srcRate
      def s(j: Long): Long = src(math.min(j, nIn - 1).toInt)
      val vs = (0L until nOut).map { i =>
        val pos = i * srcRate
        val idx = pos / 11025L; val frac = pos % 11025L
        (s(idx) * (11025L - frac) + s(idx + 1) * frac) / 11025L
      }
      (id, srcRate, nIn, nOut,
        vs.sum, if (vs.isEmpty) 0L else vs.max)
    }
    assert(got == expect)
    // the fractional blend path must actually run (non-divisor rate)
    assert(got.exists(_._5 % 257L != 0L))
  }

  test("q161 bucketed join audit: zero exchanges and the plain-join rollup") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val got = Relational.bucketedJoinAudit(spark, dir)
    val rows = got.collect()
    assert(rows.forall(_.getLong(3) == 0L),
      s"bucketed join must plan zero exchanges, got:\n${rows.mkString("\n")}")
    val plain = Tables.table(spark, dir, "orders")
      .join(Tables.table(spark, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(expr("cast(floor(l_extendedprice * 100 + 0.5) as bigint)")).as("revenue_cents"))
      .orderBy($"o_orderpriority")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == plain)
  }

  test("q162 caps every near-dup cluster at 2 kept docs, hash-ranked") {
    import spark.implicits._
    val dir = tempDir("q162fix").toString
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val b = "one two three four five six seven eight nine ten"
    val c = "solo unique text nothing matches this lonely document here now"
    // triple-dup cluster {1,2,3}: exactly 2 kept; pair {10,11}: both
    // kept; singleton 20: not in the frame at all
    val docs = Seq((1L, a), (2L, a), (3L, a), (10L, b), (11L, b), (20L, c))
    docs.map { case (i, t) => (i, t, "s") }.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Clustering.clusterCappedSample(spark, dir)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L, 3L, 10L, 11L))
    val triple = got.filter(_._3 == 3L)
    assert(triple.count(_._5) == 2 && triple.map(_._4).sorted == Seq(1L, 2L, 3L))
    assert(got.filter(_._3 == 2L).forall(_._5))
    // the hash rank, recomputed independently, decides who is kept
    def h(id: Long) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(8).map(x => f"$x%02x").mkString.take(15), 16)
    val dropped = Seq(1L, 2L, 3L).maxBy(h)
    assert(triple.find(_._1 == dropped).exists(!_._5))
  }
}
