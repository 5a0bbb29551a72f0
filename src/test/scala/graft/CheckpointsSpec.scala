package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MsgPackCodec
import graft.streaming.{Checkpoints, FakeKinesis}

/** C4: the queryable checkpoint/lag surface over a real streaming query's
  * offset log (`/root/reference/triton/checkpoint.go:127-151`).
  */
class CheckpointsSpec extends AnyFunSuite with SparkFixture {

  test("offset log reads back as (batch, shard, seq) with ages; stats lines render") {
    FakeKinesis.reset()
    FakeKinesis.createStream("ck", 2)
    val rt = StructType(Seq(StructField("id", LongType)))
    (1L to 6L).foreach(i => FakeKinesis.putRecord("ck", s"k$i",
      MsgPackCodec.encode(new GenericInternalRow(Array[Any](i)), rt)))
    val ckpt = tempDir("ck_ckpt").toString
    val out = tempDir("ck_out").toString
    val q = spark.readStream.format("kinesis-graft").option("stream", "ck").load()
      .select(col("sequence_number"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()

    val df = Checkpoints.offsets(spark, ckpt)
    val rows = df.collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(rows.keySet === Set("shard-0", "shard-1"))
    assert(rows.values.sum === FakeKinesis.latestSequence("ck", "shard-0")
      + FakeKinesis.latestSequence("ck", "shard-1"))
    assert(df.select("age_sec").collect().forall(_.getLong(0) >= 0))

    val lines = Checkpoints.statsLines(spark, ckpt, "clientA", "ck")
    assert(lines.length === 2)
    assert(lines.forall(_.matches("""clientA\.ck\.shard-\d\.age \d+""")))

    // the production case is a URI-qualified checkpointLocation resolved
    // through the Hadoop FileSystem API (HDFS/S3 in a real deployment; the
    // scheme'd LocalFileSystem here) — same result, no java.io.File path
    val viaUri = Checkpoints.offsets(spark, s"file://$ckpt")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(viaUri === rows)
  }

  test("missing offset dir yields an empty frame, not an error") {
    assert(Checkpoints.offsets(spark, "/tmp/ck_does_not_exist_xyz").count() === 0)
  }

  test("an offsets entry without a matching commit is ignored (in-flight batch)") {
    FakeKinesis.reset()
    FakeKinesis.createStream("ckc", 1)
    val rt = StructType(Seq(StructField("id", LongType)))
    FakeKinesis.putRecord("ckc", "k",
      MsgPackCodec.encode(new GenericInternalRow(Array[Any](1L)), rt))
    val ckpt = tempDir("ckc_ckpt").toString
    val out = tempDir("ckc_out").toString
    val q = spark.readStream.format("kinesis-graft").option("stream", "ckc").load()
      .select(col("sequence_number"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val committed = Checkpoints.offsets(spark, ckpt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(committed.nonEmpty)
    // simulate a crash mid-batch: offsets/99 written, commits/99 absent —
    // offsets() must keep reporting the last COMMITTED batch, not batch 99
    Files.writeString(
      java.nio.file.Paths.get(ckpt, "offsets", "99"),
      "v1\n{}\n{\"shard-0\":12345}\n")
    val after = Checkpoints.offsets(spark, ckpt).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(after === committed, "uncommitted offsets must not surface as consumed")
  }

  test("JDBC checkpoint store: reference table semantics over embedded Derby (G3)") {
    import graft.streaming.CheckpointDb
    val db = CheckpointDb.open("jdbc:derby:memory:cpdb;create=true")
    try {
      // never-checkpointed shard reads as None (reference returns "" ->
      // caller starts at trim_horizon, checkpoint.go:81-95)
      assert(db.lastSequenceNumber("cA", "s1", "shard-0") === None)
      // insert then update under the (client, stream, shard) PK
      db.checkpoint("cA", "s1", "shard-0", "41", nowSec = 1000L)
      db.checkpoint("cA", "s1", "shard-0", "42", nowSec = 1010L)
      db.checkpoint("cA", "s1", "shard-1", "7", nowSec = 1010L)
      db.checkpoint("cB", "s1", "shard-0", "9", nowSec = 1010L)
      assert(db.lastSequenceNumber("cA", "s1", "shard-0") === Some("42"))
      // stats keys + ages exactly as checkpoint.go:127-151 shapes them
      assert(db.stats("cA", nowSec = 1060L) ===
        Map("cA.s1.shard-0.age" -> 50L, "cA.s1.shard-1.age" -> 50L))
      // queryable DataFrame surface
      val rows = db.asDataFrame(spark).collect()
        .map(r => (r.getString(0), r.getString(2), r.getString(3))).toSet
      assert(rows === Set(("cA", "shard-0", "42"), ("cA", "shard-1", "7"), ("cB", "shard-0", "9")))
      // non-JDBC strings belong to the FS offset-log reader
      assertThrows[IllegalArgumentException](CheckpointDb.open("/tmp/some/checkpoint"))
    } finally db.close()
  }

  test("JDBC mirror of a real offset log: one row per shard, reference keys (G3)") {
    import graft.streaming.CheckpointDb
    FakeKinesis.reset()
    FakeKinesis.createStream("ckm", 2)
    val rt = StructType(Seq(StructField("id", LongType)))
    (1L to 4L).foreach(i => FakeKinesis.putRecord("ckm", s"k$i",
      MsgPackCodec.encode(new GenericInternalRow(Array[Any](i)), rt)))
    val ckpt = tempDir("ckm_ckpt").toString
    val out = tempDir("ckm_out").toString
    val q = spark.readStream.format("kinesis-graft").option("stream", "ckm").load()
      .select(col("sequence_number"))
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    val db = CheckpointDb.open("jdbc:derby:memory:cpmirror;create=true")
    try {
      assert(db.mirror(spark, ckpt, "cli", "ckm") === 2)
      val seqs = db.asDataFrame(spark).collect()
        .map(r => r.getString(2) -> r.getString(3).toLong).toMap
      assert(seqs.keySet === Set("shard-0", "shard-1"))
      assert(seqs.values.sum === FakeKinesis.latestSequence("ckm", "shard-0")
        + FakeKinesis.latestSequence("ckm", "shard-1"))
      // re-mirror is idempotent (upsert, not append)
      db.mirror(spark, ckpt, "cli", "ckm")
      assert(db.asDataFrame(spark).count() === 2)
    } finally db.close()
  }

  test("autoMirror listener keeps triton_checkpoint current with no manual mirror call") {
    import graft.streaming.{CheckpointDb, StreamOps}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    FakeKinesis.reset()
    FakeKinesis.createStream("ckauto", 2)
    val rt = StructType(Seq(StructField("id", LongType)))
    (1L to 6L).foreach(i => FakeKinesis.putRecord("ckauto", s"k$i",
      MsgPackCodec.encode(new GenericInternalRow(Array[Any](i)), rt)))
    val ckpt = tempDir("ckauto_ckpt").toString
    val root = tempDir("ckauto_root").toString
    val db = CheckpointDb.open("jdbc:derby:memory:ckauto;create=true")
    val listener = CheckpointDb.autoMirror(spark, db, ckpt, "cli", "ckauto")
    try {
      val events = spark.readStream.format("kinesis-graft").option("stream", "ckauto").load()
        .select(col("sequence_number").cast("long").cast("timestamp").as("ts"),
          col("shard_id"), col("sequence_number"))
      val q = StreamOps.startStore(events, root, "cli", ckpt)
      q.awaitTermination()
      // progress events ride the async listener bus — poll briefly
      val deadline = System.currentTimeMillis() + 15000
      var rows = 0L
      while (rows < 2 && System.currentTimeMillis() < deadline) {
        rows = db.asDataFrame(spark).count()
        if (rows < 2) Thread.sleep(200)
      }
      assert(rows === 2, "listener must upsert one row per shard without a manual mirror call")
      val shards = db.asDataFrame(spark).collect().map(_.getString(2)).toSet
      assert(shards === Set("shard-0", "shard-1"))
    } finally {
      spark.streams.removeListener(listener)
      db.close()
    }
  }
}
