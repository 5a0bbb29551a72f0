package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** The driver's events file has arrived with `ts` in three physical types:
  * parquet TIMESTAMP(NANOS) (read as LongType under `nanosAsLong`),
  * timestamp[us] without tz (TIMESTAMP_NTZ) and a tz-aware timestamp
  * (TIMESTAMP). One tiny events file per arrival: the batch read
  * (`Tables.events`) and a streaming read through `Tables.withEventTs`
  * must agree on `(ts, ts_us)`, and a sentinel written with
  * `Tables.rawEventTsLit` must read back at max + offset.
  */
class EventTimeSpec extends AnyFunSuite with SparkFixture {

  // 2024-01-05 10:00:00.123456, +90 min, +1 day (UTC), in microseconds
  private val us = Seq(1704448800123456L, 1704454200123456L, 1704535200123456L)

  private def ltzFrame: DataFrame = {
    import spark.implicits._
    us.zipWithIndex.map { case (u, i) => (i.toLong, u, i.toLong * 10, "click", 1.5) }
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(us) AS ts", "user_id", "event_type", "value")
  }

  /** INT64 TIMESTAMP(NANOS), which Spark cannot write: parquet-hadoop's
    * example writer, 789 ns past each microsecond (truncated on read). */
  private def writeNanos(file: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(schema)
      .withConf(spark.sessionState.newHadoopConf())
      .build()
    val groups = new SimpleGroupFactory(schema)
    try us.zipWithIndex.foreach { case (u, i) =>
      w.write(groups.newGroup()
        .append("event_id", i.toLong).append("ts", u * 1000L + 789L)
        .append("user_id", i.toLong * 10).append("event_type", "click")
        .append("value", 1.5))
    } finally w.close()
  }

  private val arrivals: Seq[(String, DataType, Path => Unit)] = Seq(
    ("nanos-long", LongType, p => writeNanos(p.resolve("events.parquet"))),
    ("ntz", TimestampNTZType, p => ltzFrame.withColumn("ts", col("ts").cast(TimestampNTZType))
      .coalesce(1).write.parquet(p.resolve("events.parquet").toString)),
    ("ltz", TimestampType, p => ltzFrame
      .coalesce(1).write.parquet(p.resolve("events.parquet").toString)))

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(1))

  arrivals.foreach { case (arrival, rawType, write) =>
    test(s"$arrival: batch and stream normalization agree on (ts, ts_us); sentinel reads back at max + offset") {
      Scratch.withWorkDir(s"evtime_$arrival") { dir =>
        write(dir)
        val raw = Tables.table(spark, dir.toString, "events")
        assert(raw.schema("ts").dataType == rawType)

        val batch = Tables.events(spark, dir.toString).select(col("ts"), col("ts_us"))
        assert(batch.schema("ts").dataType == TimestampType)
        assert(rows(batch).map(_.getLong(1)) == us)

        val sink = s"evtime_${arrival.replace("-", "_")}"
        val q = Tables.withEventTs(spark.readStream.schema(raw.schema)
            .parquet(s"$dir/[e]vents.parquet"))
          .select(col("ts"), unix_micros(col("ts")).as("ts_us"))
          .writeStream.format("memory").queryName(sink)
          .trigger(Trigger.AvailableNow()).start()
        try {
          q.awaitTermination()
          assert(rows(spark.table(sink)) == rows(batch))
        } finally spark.catalog.dropTempView(sink)

        val offsetUs = 2L * 3600L * 1000000L
        val sentDir = Files.createDirectories(dir.resolve("sentinel"))
        raw.limit(1).withColumn("ts", Tables.rawEventTsLit(raw, us.max + offsetUs))
          .write.parquet(sentDir.resolve("events.parquet").toString)
        val sent = Tables.table(spark, sentDir.toString, "events")
        assert(sent.schema("ts").dataType == rawType, "sentinel must keep the raw ts type")
        assert(Tables.events(spark, sentDir.toString).select("ts_us").head.getLong(0) ==
          us.max + offsetUs)
      }
    }
  }
}
