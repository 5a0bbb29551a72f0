package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventOps

/** The user-keyed window tier's adversarial-skew proof (q158 vs q187):
  * AQE's skew handling splits joins and aggregations but can never split
  * a WINDOW partition — one key's rows go through one task. This spec
  * builds a 90%-one-user corpus and pins, with task metrics, that
  *  - the plain user-keyed window (q158's plan) funnels the hot key's
  *    >=90% of the corpus through a single task — the measured
  *    straggler, and
  *  - the chunked form (q187: (user, ts-bucket) partitions seeded with a
  *    <=3-event carry) keeps every task's shuffle read at the balanced
  *    N/parallelism share, while producing the EXACT same rows, and
  *  - at the data level, no chunked window PARTITION KEY exceeds the
  *    per-bucket occupancy bound — the scale-free claim (task size
  *    tracks parallelism; key size is what must stay bounded at 100 TB).
  * Value-exactness is also pinned against hand arithmetic, so both
  * forms' window semantics are checked against a reference, not just
  * each other. Measurements run with AQE partition coalescing off —
  * coalescing merges this test's tiny partitions into one task and
  * would blur per-task attribution (at real scale they are not tiny).
  */
class AdversarialSkewSpec extends AnyFunSuite with SparkFixture {

  private val nEvents = 4000
  private val hotShare = 0.9
  private val bucketUs = 3600000000L // 1 h buckets; events span ~41 h

  /** Synthetic skewed events table: user 1 owns 90% of rows, 41 other
    * users share the rest; timestamps are 37 s apart so hot-user events
    * spread across ~41 one-hour buckets (written with nanos-long ts —
    * one of the shipped testdata encodings, so Tables.events
    * normalizes it).
    */
  private def writeSkewed(): String = {
    import spark.implicits._
    val rows = (0 until nEvents).map { i =>
      val user = if (i % 10 < (hotShare * 10).toInt) 1L else 2L + (i % 41)
      val tsUs = 1700000000000000L + i.toLong * 37000000L
      (i.toLong, user, tsUs * 1000L, if (i % 3 == 0) "click" else "view")
    }
    val dir = tempDir("skew_events").toString
    rows.toDF("event_id", "user_id", "ts", "event_type")
      .repartition(8)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Max shuffle records read by any single task while `action` runs. */
  private def maxTaskRead(action: => Unit): Long = {
    val max = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          max.getAndUpdate(cur => math.max(cur, m.shuffleReadMetrics.recordsRead)): Unit
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      // listener events are delivered asynchronously; the write action
      // has returned, so a short settle covers the tail of task-end posts
      val deadline = System.nanoTime() + 10000000000L
      var last = -1L
      while (System.nanoTime() < deadline && max.get() != last) {
        last = max.get(); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    max.get()
  }

  test("90%-one-key corpus: plain window funnels the hot key through one task; chunked stays balanced and exact") {
    import org.apache.spark.sql.functions._
    val dir = writeSkewed()
    val plain = EventOps.lagFeatures(spark, dir)
    val chunked = EventOps.lagFeaturesChunked(spark, dir, bucketUs)

    // exactness: identical rows in identical order
    val plainRows = plain.collect().toSeq.map(_.toString)
    assert(plainRows.size === nEvents)
    assert(chunked.collect().toSeq.map(_.toString) === plainRows,
      "chunked lag features diverged from the plain window")

    // hand arithmetic on the hot user's head: events 0,1,2,3 are all
    // user 1 and 37 s apart, so every defined gap is exactly 37 s
    val hot = plain.where(col("user_id") === 1L).limit(4).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(hot(0) === ((0L, -1L, -1L, -1L)))
    assert(hot(1) === ((1L, 37000000L, -1L, 37000000L)))
    assert(hot(2) === ((2L, 37000000L, 37000000L, 37000000L)))
    assert(hot(3) === ((3L, 37000000L, 37000000L, 37000000L)))

    // data-level scale claim: the largest chunked window KEY is
    // bucket-bounded (hot user ~88 rows/bucket; 128 = generous lid),
    // vs the plain window's single 3600-row key
    val maxKey = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr(s"ts_us div ${bucketUs}L"))
      .count().agg(max("count")).collect()(0).getLong(0)
    assert(maxKey <= 128, s"largest (user, bucket) key holds $maxKey rows")

    // task-level measurement, AQE coalescing off for attribution
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      val plainMax = maxTaskRead {
        EventOps.lagFeaturesCore(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val chunkedMax = maxTaskRead {
        EventOps.lagFeaturesChunkedCore(spark, dir, bucketUs)
          .write.format("noop").mode("overwrite").save()
      }
      val hotRows = (nEvents * hotShare).toLong
      assert(plainMax >= hotRows,
        s"expected the hot key's $hotRows rows through one task, max was $plainMax")
      assert(chunkedMax <= plainMax / 2,
        s"chunked max task read $chunkedMax is not meaningfully below the straggler $plainMax")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(coalesceKey, v)
        case None => spark.conf.unset(coalesceKey)
      }
    }
  }
}
