package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** End-to-end smoke drive of the engine's custom surfaces (streaming
  * source, archive store/read, msgpack SQL functions) — a fast runtime
  * check that everything is wired, independent of the oracle harness:
  * `sbt "runMain graft.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session("graft-smoke", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._

    // 1. streaming: fake sharded stream -> kinesis-graft source -> decode -> memory sink
    streaming.FakeKinesis.reset()
    streaming.FakeKinesis.createStream("demo", 2)
    val rt = StructType(Seq(StructField("id", LongType), StructField("kind", StringType)))
    (1L to 10L).foreach { i =>
      streaming.FakeKinesis.putRecord("demo", s"k$i",
        functions.MsgPackCodec.encode(
          new GenericInternalRow(Array[Any](i, UTF8String.fromString("t"))), rt))
    }
    val q = spark.readStream.format("kinesis-graft").option("stream", "demo")
      .option("minFetchIntervalMs", "100").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select($"shard_id", $"sequence_number", $"rec.id".as("id"))
      .writeStream.format("memory").queryName("smoke_stream").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("smoke_stream")
    println(s"SMOKE stream_rows=${streamed.count()} shards=${streamed.select("shard_id").distinct().count()}")

    // 1b. streaming dedup over the same stream (id 1 published twice)
    streaming.FakeKinesis.putRecord("demo", "k1",
      functions.MsgPackCodec.encode(
        new GenericInternalRow(Array[Any](1L, UTF8String.fromString("dup"))), rt))
    val q2 = spark.readStream.format("kinesis-graft").option("stream", "demo").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select($"rec.id".as("event_id"), current_timestamp().as("ts"))
      .transform(df => streaming.StreamOps.dedupStream(df))
      .writeStream.format("memory").queryName("smoke_dedup").start()
    q2.processAllAvailable(); q2.stop()
    println(s"SMOKE dedup_rows=${spark.table("smoke_dedup").count()} (expect 10: 11 puts, 1 dup)")

    // 2. archive: store -> pruned range read
    io.Scratch.withWorkDir("smoke_tri") { work =>
      val root = work.resolve("arch").toString
      val ev = Seq((1L, "2024-01-05 10:00:00", 2.5), (2L, "2024-01-08 11:00:00", 7.5))
        .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
      sources.Archive.store(ev, root, "c1")
      val pruned = sources.Archive.read(spark, root, "c1", "20240105", "20240106")
      println(s"SMOKE archive_pruned_rows=${pruned.count()} (expect 1)")
    }

    // 3. SQL surface: permissive decode of garbage
    val corrupt = spark.sql("SELECT from_msgpack(X'deadbeef', 'a BIGINT') AS r").collect()(0).isNullAt(0)
    println(s"SMOKE corrupt_decodes_null=$corrupt")

    // 4. JDBC checkpoint store: open, upsert, stats (reference table shape)
    val db = streaming.CheckpointDb.open("jdbc:derby:memory:smoke;create=true")
    try {
      db.checkpoint("smoke", "demo", "shard-0", "9", System.currentTimeMillis() / 1000L)
      println(s"SMOKE checkpoint_db_last=${db.lastSequenceNumber("smoke", "demo", "shard-0").orNull}" +
        s" stats=${db.stats("smoke", System.currentTimeMillis() / 1000L).size}")
    } finally db.close()

    // 5. flagship entry
    println(s"SMOKE entry_rows=${SparkEntry.entry(spark).count()} (expect > 0)")
    spark.stop()
  }
}
