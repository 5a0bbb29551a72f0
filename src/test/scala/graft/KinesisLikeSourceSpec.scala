package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MsgPackCodec
import graft.io.Scratch
import graft.streaming.{Checkpoints, FakeKinesis, ShardOffsets, StreamOps}
import graft.streaming.StreamOps.{Sink, StateShape}

/** The streaming read path (SURVEY.md §2.1 S1-S4, §2.3 C1-C3) against the
  * in-memory service, mirroring the reference's multi-shard and
  * corrupt-record tests (`/root/reference/triton/stream_reader_test.go`).
  */
class KinesisLikeSourceSpec extends AnyFunSuite with SparkFixture {

  private val recType = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType)))

  private def put(stream: String, key: String, id: Long, kind: String): Unit =
    FakeKinesis.putRecord(stream, key,
      MsgPackCodec.encode(new GenericInternalRow(
        Array[Any](id, UTF8String.fromString(kind))), recType))

  test("trim_horizon drains all shards; records decode; cross-shard order free") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s1", 3)
    (1L to 20L).foreach(i => put("s1", s"k$i", i, if (i % 2 == 0) "even" else "odd"))
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s1").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id", "rec.kind")
      .writeStream.format("memory").queryName("t1").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t1").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.map(_._1).sorted.toSeq === (1L to 20L))
    assert(got.count(_._2 == "even") === 10)
  }

  test("incremental batches + checkpoint resume without duplication") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s2", 2)
    val ckpt = tempDir("src_ckpt").toString
    val out = tempDir("src_out").toString
    (1L to 5L).foreach(i => put("s2", s"k$i", i, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("kinesis-graft")
        .option("stream", "s2").load()
        .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
        .select("rec.id")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq === (1L to 5L))
    (6L to 9L).foreach(i => put("s2", s"k$i", i, "a"))
    run() // restarted query, same checkpoint -> resumes AFTER_SEQUENCE_NUMBER, no dupes
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq === (1L to 9L))
  }

  test("startingPosition=latest skips the backlog") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s3", 1)
    (1L to 7L).foreach(i => put("s3", s"k$i", i, "old"))
    val df = spark.readStream.format("kinesis-graft")
      .option("stream", "s3").option("startingPosition", "latest").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id")
    val q = df.writeStream.format("memory").queryName("t3").start()
    q.processAllAvailable()
    put("s3", "kx", 100L, "new")
    q.processAllAvailable(); q.stop()
    assert(spark.table("t3").collect().map(_.getLong(0)).toSeq === Seq(100L))
  }

  test("corrupt records dead-letter to null, good ones survive (S4)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s4", 1)
    put("s4", "k1", 1L, "good")
    FakeKinesis.putRecord("s4", "k2", Array[Byte](0xc1.toByte, 0x00)) // reserved tag
    put("s4", "k3", 3L, "good")
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s4").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select(col("sequence_number"), col("rec.id").as("id"))
      .writeStream.format("memory").queryName("t4").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t4").collect()
    assert(rows.length === 3) // all delivered
    assert(rows.count(_.isNullAt(1)) === 1) // one dead-lettered
    assert(rows.filter(!_.isNullAt(1)).map(_.getLong(1)).sorted.toSeq === Seq(1L, 3L))
  }

  test("throttling is retried with backoff (reference retry whitelist)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s5", 1)
    put("s5", "k", 42L, "x")
    FakeKinesis.injectThrottles("s5", 3) // < maxRetries=4 -> must succeed
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s5").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id")
      .writeStream.format("memory").queryName("t5").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("t5").collect().map(_.getLong(0)).toSeq === Seq(42L))
  }

  test("per-shard poll spacing honors minFetchIntervalMs (reference MinPollInterval)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s6", 1)
    put("s6", "k", 1L, "x")
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s6").option("minFetchIntervalMs", "150").load()
      .select(col("sequence_number"))
      .writeStream.format("memory").queryName("t6").start()
    q.processAllAvailable() // batch 1 fetches shard-0
    put("s6", "k", 2L, "x")
    val t0 = System.currentTimeMillis()
    q.processAllAvailable() // batch 2 must wait out the poll interval
    val elapsed = System.currentTimeMillis() - t0
    q.stop()
    assert(spark.table("t6").count() === 2)
    assert(elapsed >= 100, s"second fetch should be rate-limited, took ${elapsed}ms")
  }

  test("pacing state sweeps retired (stream, shard) keys — bounded under shard churn") {
    // a long-interval stream reserves a slot, then a churner hammers the
    // map with more one-shot short-interval keys than the sweep threshold;
    // the sweep (rate-limited to 1/s, hence the sleep) must evict the
    // stale churn keys but NOT the still-active long-interval entry
    streaming.ShardReader.nextAllowedFetch("keep-stream", "shardId-0", 60000L)
    (1 to 6000).foreach { i =>
      streaming.ShardReader.nextAllowedFetch(s"churn-$i", "shardId-0", 1L)
    }
    Thread.sleep(1100)
    streaming.ShardReader.nextAllowedFetch("churn-final", "shardId-0", 1L)
    assert(streaming.ShardReader.pacingEntries <= 4097,
      s"stale pacing keys not swept: ${streaming.ShardReader.pacingEntries}")
    val wait = streaming.ShardReader.nextAllowedFetch("keep-stream", "shardId-0", 60000L)
    assert(wait > 0,
      "active long-interval entry must survive a short-interval caller's sweep and still rate-limit")
  }

  test("shards appearing mid-query are discovered and read (re-list per batch)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s7", 1)
    put("s7", "k1", 1L, "x")
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s7").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select(col("shard_id"), col("rec.id").as("id"))
      .writeStream.format("memory").queryName("t7").start()
    q.processAllAvailable()
    FakeKinesis.addShards("s7", 1) // reshard while the query is running
    // drive keys onto both shards of the grown stream
    (2L to 9L).foreach(i => put("s7", s"k$i", i, "x"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t7").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.map(_._2).sorted.toSeq === (1L to 9L))
    assert(rows.map(_._1).distinct.sorted.toSeq === Seq("shard-0", "shard-1"),
      s"new shard must be read mid-query, saw ${rows.map(_._1).distinct.toSeq}")
  }

  test("deep backlog drains across multiple bounded fetches (reference RequestLimit)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s8", 1)
    (1L to 250L).foreach(i => put("s8", "samekey", i, "x")) // one shard, 250 records
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s8").option("maxRecordsPerFetch", "100").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id")
      .writeStream.format("memory").queryName("t8").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("t8").collect().map(_.getLong(0)).sorted.toSeq === (1L to 250L))
    // 250 records at <=100/call cannot arrive in fewer than 3 fetches
    assert(FakeKinesis.getRecordsCalls >= 3,
      s"expected paged draining, saw ${FakeKinesis.getRecordsCalls} getRecords calls")
  }

  test("a 20k-record shard drains in 100-record pages, every record exactly once, in order") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s11", 1)
    (1L to 20000L).foreach(i => put("s11", "samekey", i, "x"))
    // consecutive pages of the service itself tile the shard
    val pages = Iterator.iterate(FakeKinesis.getRecords("s11", "shard-0", -1L, 100)) { prev =>
      FakeKinesis.getRecords("s11", "shard-0", prev.last.sequenceNumber, 100)
    }.takeWhile(_.nonEmpty).toVector
    assert(pages.map(_.size).distinct === Vector(100))
    assert(pages.flatten.map(_.sequenceNumber) === (0L until 20000L))
    assert(FakeKinesis.getRecords("s11", "shard-0", 19999L, 100).isEmpty)
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s11").option("maxRecordsPerFetch", "100").load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select(col("sequence_number"), col("rec.id").as("id"))
      .writeStream.format("memory").queryName("t11").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("t11").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.map(_._1) === (0L until 20000L))
    assert(rows.map(_._2) === (1L to 20000L))
  }

  test("short pages are not exhaustion: a service returning fewer than limit loses nothing") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s10", 1)
    (1L to 30L).foreach(i => put("s10", "k", i, "x"))
    // ShortPageShardService serves at most 7 records per call however large
    // the limit — the real-Kinesis behavior the reader must tolerate: a
    // short page means "call again", only an empty page means drained
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s10")
      .option("service", ShortPageShardService.getClass.getName.stripSuffix("$"))
      .option("maxRecordsPerFetch", "1000")
      .load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id")
      .writeStream.format("memory").queryName("t10").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("t10").collect().map(_.getLong(0)).sorted.toSeq === (1L to 30L),
      "records past the first short page must still arrive in the same batch")
  }

  test("service seam is structural: a custom ShardService drives the source") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s9", 1)
    put("s9", "k1", 7L, "x")
    val q = spark.readStream.format("kinesis-graft")
      .option("stream", "s9")
      .option("service", RecordingShardService.getClass.getName.stripSuffix("$"))
      .load()
      .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
      .select("rec.id")
      .writeStream.format("memory").queryName("t9").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("t9").collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(RecordingShardService.calls.get() > 0,
      "the named service implementation must be the one invoked")
  }

  test("an empty shard: the others drain exactly once under AvailableNow; its offset stays -1") {
    FakeKinesis.reset()
    FakeKinesis.createStream("s12", 3)
    // keys that hash to shards 0 and 2 only: shard-1 stays empty
    Iterator.from(1).map(i => s"k$i").filter(k => math.floorMod(k.hashCode, 3) != 1)
      .take(12).zipWithIndex.foreach { case (k, i) => put("s12", k, i + 1L, "x") }
    val heads = Seq("shard-0", "shard-1", "shard-2")
      .map(sh => sh -> FakeKinesis.latestSequence("s12", sh)).toMap
    assert(heads("shard-1") === -1L && heads("shard-0") >= 0L && heads("shard-2") >= 0L)
    Scratch.withWorkDir("empty_shard") { work =>
      def drainIds(): Seq[Long] = StreamOps.drain(StateShape.Stateless, work,
          spark.readStream.format("kinesis-graft").option("stream", "s12").load()
            .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
            .select("rec.id"),
          Sink.Files)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(drainIds() === (1L to 12L))
      assert(spark.streams.active.isEmpty, "the AvailableNow query must terminate")
      // pinned as the source behaves: the empty shard is listed, at -1
      // (trim horizon), beside each other shard's last sequence number
      val offsets = Checkpoints.offsets(spark, work.resolve("ckpt").toString)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(offsets === heads)
      // a second drain on the same checkpoint adds nothing
      assert(drainIds() === (1L to 12L))
    }
  }

  test("offsets serialize/deserialize stably (C1/C2 shape)") {
    val o = ShardOffsets(Map("shard-1" -> 5L, "shard-0" -> -1L))
    assert(o.json === """{"shard-0":-1,"shard-1":5}""")
    assert(ShardOffsets.fromJson(o.json) === o)
  }
}

/** A stand-in "real client": proves the `service` option swaps the
  * implementation with no source changes (delegates to the in-memory
  * state, counts invocations).
  */
/** Serves at most 7 records per getRecords call regardless of the caller's
  * limit — models real Kinesis returning short non-empty pages while a
  * backlog remains.
  */
object ShortPageShardService extends graft.streaming.ShardService {
  override def listShards(stream: String): Seq[String] =
    graft.streaming.FakeKinesis.listShards(stream)
  override def latestSequence(stream: String, shard: String): Long =
    graft.streaming.FakeKinesis.latestSequence(stream, shard)
  override def getRecords(stream: String, shard: String, afterSeq: Long,
                          limit: Int): Seq[graft.streaming.FakeKinesis.Rec] =
    graft.streaming.FakeKinesis.getRecords(stream, shard, afterSeq, math.min(limit, 7))
}

object RecordingShardService extends graft.streaming.ShardService {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  override def listShards(stream: String): Seq[String] = {
    calls.incrementAndGet(); FakeKinesisDelegate.listShards(stream)
  }
  override def latestSequence(stream: String, shard: String): Long = {
    calls.incrementAndGet(); FakeKinesisDelegate.latestSequence(stream, shard)
  }
  override def getRecords(stream: String, shard: String, afterSeq: Long,
                          limit: Int): Seq[graft.streaming.FakeKinesis.Rec] = {
    calls.incrementAndGet(); FakeKinesisDelegate.getRecords(stream, shard, afterSeq, limit)
  }
  private val FakeKinesisDelegate = graft.streaming.FakeKinesis
}
