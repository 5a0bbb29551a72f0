package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

/** `Profile` rows are exact per query: each is what the engine's events
  * reported between two listener-bus drains, so nothing bleeds from one
  * query into the next, and `Bench.ladder` marks a query that raised as
  * failed.
  */
class ProfileSpec extends AnyFunSuite with SparkFixture {

  private val grouped: Bench.Query = (s, _) =>
    s.range(0, 10000, 1, 4).groupBy(col("id") % 10).count()
  private val mapOnly: Bench.Query = (s, _) =>
    s.range(0, 10000, 1, 4).select((col("id") * 2).as("x"))
  // one task fails at once while the job's other three spin for 300 ms
  // (a kill interrupts a sleep, not a spin), so their kill reports arrive
  // after the error has surfaced, while the next query is still running
  private val throwing: Bench.Query = (s, _) => {
    import s.implicits._
    s.range(0, 4, 1, 4).as[Long].map { i =>
      if (i == 0) throw new IllegalStateException("boom")
      val end = System.nanoTime() + 300000000L
      while (System.nanoTime() < end) {}
      i
    }.toDF()
  }
  private val slow: Bench.Query = (s, _) => {
    import s.implicits._
    s.range(0, 4, 1, 4).as[Long].map { i => Thread.sleep(1000); i }.toDF()
  }

  private def ladder(queries: (String, Bench.Query)*): Map[String, Bench.Rung] =
    Bench.ladder(spark, queries, "unused", "unused", passes = 1)._2.map(r => r.name -> r).toMap

  // the map-only query runs right after the groupBy, in one ladder
  private lazy val groupedThenMap = ladder("grouped" -> grouped, "mapOnly" -> mapOnly)

  test("a groupBy over 4 partitions gets its jobs, stages and shuffle") {
    val g = groupedThenMap("grouped")
    assert(g.error.isEmpty)
    val p = g.profile
    assert(p.jobs >= 1 && p.stages >= 2 && p.tasks >= 4, p)
    assert(p.shuffleWriteBytes > 0 && p.shuffleReadBytes > 0, p)
  }

  test("a map-only query run right after it reports no shuffle") {
    val m = groupedThenMap("mapOnly")
    assert(m.error.isEmpty)
    val p = m.profile
    assert(p.jobs >= 1 && p.tasks >= 4, p)
    assert(p.shuffleWriteBytes == 0 && p.shuffleReadBytes == 0, p)
    assert(p.batches == 0, p)
  }

  test("an AvailableNow stateful stream reports its batches, phases and state rows") {
    val in = tempDir("profile_in").toString
    val ckpt = tempDir("profile_ckpt").toString
    spark.range(0, 1000, 1, 2).selectExpr("id % 7 as k").write.mode("overwrite").parquet(in)
    val profile = new Profile(spark)
    val row =
      try {
        profile.take()
        spark.readStream.schema("k long").parquet(in)
          .groupBy("k").count()
          .writeStream.format("noop").outputMode(OutputMode.Update)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        profile.take()
      } finally profile.close()
    assert(row.batches >= 1, row)
    assert(row.phaseMs.contains("addBatch") && row.phaseMs.contains("walCommit"), row)
    assert(row.stateRows == 7, row)
    assert(row.jobs >= 1 && row.tasks >= 1, row)
  }

  test("a throwing query is marked failed and leaves the next query's row unaffected") {
    val rungs = ladder("throwing" -> throwing, "slow" -> slow)
    assert(rungs("throwing").error.exists(_.getMessage.contains("boom")))
    assert(rungs("slow").error.isEmpty)
    val p = rungs("slow").profile
    assert((p.jobs, p.stages, p.tasks) == (1, 1, 4), p)
  }
}
