package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Intent pin for q159: the transformWithState event-time-TIMER
  * sessionizer. The decisive property: each user's FINAL session has no
  * closing row, so it can only reach the sink through
  * `handleExpiredTimer` — if the per-user counts equal the batch truth,
  * the timers demonstrably fired (an inline-only implementation would
  * lose exactly one session per user).
  */
class TimerSessionSpec extends AnyFunSuite with SparkFixture {

  test("q159 timer sessions equal the batch gap-split, incl. timer-only finals") {
    import spark.implicits._
    val dir = tempDir("q159fix").toString
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    val G = 1800L
    // user 7: events at 0,60 | gap 2h | 7200,7260 -> 2 sessions, 4 events
    //   (the second session closes ONLY by timer)
    // user 8: one event -> 1 session, timer-only
    // user 9: exactly-gap boundary: 0 then +1800s -> the >= rule splits
    //   them into 2 sessions of 1 event each
    val rows = Seq(
      (7L, 0L), (7L, 60L), (7L, 7200L), (7L, 7260L),
      (8L, 500L),
      (9L, 0L), (9L, G))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, ts(t), u, "e") }
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.streaming.StreamOps.timerSessionsStreamed(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((7L, 2L, 4L), (8L, 1L, 1L), (9L, 2L, 2L)))
  }

  test("timer sessions recover open sessions AND pending timers across a checkpoint restart") {
    // The q91 restart proof's timer-surface sibling: stop the query with
    // sessions OPEN in RocksDB state, restart from the same checkpoint,
    // and pin that (a) an open session CONTINUES across the boundary
    // (user 7: 2 events before the stop + 1 after, all within the gap,
    // must close as ONE 3-event session) and (b) a key receiving NO rows
    // after the restart still closes by TIMER from recovered state
    // (user 8: its only event arrived before the stop).
    import spark.implicits._
    val work = tempDir("tsess_restart")
    val src = work.resolve("src"); Files.createDirectories(src)
    val ckpt = work.resolve("ckpt").toString
    val sinkDir = work.resolve("out").toString
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec))
    def writeFile(name: String, mtimeSec: Long, rows: (Long, Long, Long)*): Unit = {
      val stage = work.resolve(s"stage_$name")
      rows.toSeq.map { case (e, u, t) => (e, ts(t), u, "e") }
        .toDF("event_id", "ts", "user_id", "event_type")
        .coalesce(1).write.parquet(stage.toString)
      val f = stage.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
      val dest = src.resolve(s"$name.parquet")
      java.nio.file.Files.move(f.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000))
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def runOnce(): Unit = {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
        val schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$src/*.parquet")
          .withWatermark("ts", "10 minutes")
          .select($"user_id".cast("long"), unix_micros($"ts"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .transformWithState(
            new graft.streaming.TimerSessionProcessor(1800L * 1000000L),
            TimeMode.EventTime(), OutputMode.Append)
          .toDF("user_id", "start_us", "end_us", "n_in_session")
          .writeStream.outputMode(OutputMode.Append)
          .format("parquet").option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // phase A: user 7's session is OPEN (2 events), user 8's single
      // event pending timer-close; the query then STOPS
      writeFile("a1", 1000L, (0L, 7L, 0L), (1L, 7L, 60L), (2L, 8L, 100L))
      runOnce()
      // phase B: user 7 continues inside the gap; sentinels drain
      writeFile("b1", 1001L, (3L, 7L, 300L))
      writeFile("s1", 1002L, (4L, -1L, 7600L))
      writeFile("s2", 1003L, (5L, -2L, 15200L))
      runOnce()
      val got = spark.read.parquet(sinkDir)
        .where($"user_id" >= 0L)
        .groupBy($"user_id")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("n_sessions"),
          org.apache.spark.sql.functions.sum($"n_in_session").as("n_events"))
        .orderBy($"user_id")
        .as[(Long, Long, Long)].collect().toSeq
      assert(got === Seq((7L, 1L, 3L), (8L, 1L, 1L)),
        s"restart lost open-session or timer state: $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }
}
