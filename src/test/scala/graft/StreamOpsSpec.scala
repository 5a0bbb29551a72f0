package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Archive
import graft.streaming.StreamOps

/** Streaming sink + event-time operators (SURVEY.md §2.2 K1, §2.5
  * watermarks/stateful rows) driven through MemoryStream.
  */
class StreamOpsSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("store pipeline: stream -> date-partitioned .tri archive, restart-safe (K1)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val root = tempDir("store_root").toString
    val ckpt = tempDir("store_ckpt").toString
    val in = MemoryStream[(Long, Timestamp, Double)]
    in.addData((1L, ts("2024-01-05 10:00:00"), 1.0), (2L, ts("2024-01-06 11:00:00"), 2.0))
    val df = in.toDF.toDF("event_id", "ts", "value")
    StreamOps.startStore(df, root, "clientA", ckpt).awaitTermination()
    // second run with more data resumes from the checkpoint (no re-write of batch 0)
    in.addData((3L, ts("2024-01-06 12:00:00"), 3.0))
    StreamOps.startStore(df, root, "clientA", ckpt).awaitTermination()
    val back = Archive.read(spark, root, "clientA", "20240101", "20241231")
    assert(back.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(back.select("date").distinct().as[String].collect().sorted.toSeq
      === Seq("20240105", "20240106"))
  }

  test("flagship pipeline end to end: sharded stream -> decode -> .tri archive -> range query") {
    import spark.implicits._
    import graft.streaming.FakeKinesis
    FakeKinesis.reset()
    FakeKinesis.createStream("pipe", 2)
    val p = new graft.streaming.StreamProducer
    p.put("pipe", "k1", Map("event_id" -> 1L, "ts" -> ts("2024-01-05 10:00:00"), "value" -> 1.5))
    p.put("pipe", "k2", Map("event_id" -> 2L, "ts" -> ts("2024-01-06 10:00:00"), "value" -> 2.5))
    p.put("pipe", "k3", Map("event_id" -> 3L, "ts" -> ts("2024-01-09 10:00:00"), "value" -> 3.5))
    val root = tempDir("pipe_root").toString
    val ckpt = tempDir("pipe_ckpt").toString
    val decoded = spark.readStream.format("kinesis-graft").option("stream", "pipe").load()
      .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
      .select("r.event_id", "r.ts", "r.value")
    StreamOps.startStore(decoded, root, "prod", ckpt).awaitTermination()
    val got = Archive.read(spark, root, "prod", "20240105", "20240106")
    assert(got.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    assert(got.select("value").as[Double].collect().sorted.toSeq === Seq(1.5, 2.5))
  }

  test("repeated store drains on one checkpoint reuse compiled code, not recompile it") {
    import spark.implicits._
    import graft.streaming.FakeKinesis
    import org.apache.spark.metrics.source.CodegenMetrics
    FakeKinesis.reset()
    FakeKinesis.createStream("redrain", 2)
    val p = new graft.streaming.StreamProducer
    val root = tempDir("redrain_root").toString
    val ckpt = tempDir("redrain_ckpt").toString
    val decoded = spark.readStream.format("kinesis-graft").option("stream", "redrain").load()
      .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
      .select("r.event_id", "r.ts", "r.value")
    // one drain of 40 fresh records; returns the classes compiled meanwhile
    def drain(round: Int): Long = {
      (1 to 40).foreach { i =>
        val id = round * 1000L + i
        p.put("redrain", s"k$i", Map("event_id" -> id, "ts" -> ts("2024-01-05 10:00:00"),
          "value" -> id * 0.5))
      }
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamOps.startStore(decoded, root, "c", ckpt).awaitTermination()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    def ids = Archive.read(spark, root, "c", "20240105", "20240105")
      .select("event_id").as[Long].collect().sorted.toSeq
    drain(1) // compiles what no earlier query of this shape left in the cache
    assert(ids === (1L to 40L).map(1000L + _))
    // each later start() is a new query: its classes must come from the cache
    assert(drain(2) === 0L)
    assert(drain(3) === 0L)
    assert(ids === (1 to 3).flatMap(r => (1L to 40L).map(r * 1000L + _)))
  }

  test("store drains write one .tri file per date, not one per shard and date") {
    import spark.implicits._
    import graft.streaming.FakeKinesis
    FakeKinesis.reset()
    FakeKinesis.createStream("perdate", 8)
    val p = new graft.streaming.StreamProducer
    val root = tempDir("perdate_root")
    val ckpt = tempDir("perdate_ckpt").toString
    val decoded = spark.readStream.format("kinesis-graft").option("stream", "perdate").load()
      .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
      .select("r.event_id", "r.ts", "r.value")
    def put(ids: Seq[Long], day: Long => String): Unit = ids.foreach { id =>
      p.put("perdate", s"k$id", Map("event_id" -> id, "ts" -> ts(s"${day(id)} 12:00:00"),
        "value" -> id * 0.5))
    }
    def triFiles: Long = {
      val st = Files.walk(root)
      try st.filter { f =>
        val n = f.getFileName.toString
        n.endsWith(".tri") && !n.startsWith(".")
      }.count() finally st.close()
    }
    def ids = Archive.read(spark, root.toString, "c", "20240101", "20241231")
      .select("event_id").as[Long].collect().sorted.toSeq
    // 240 records over 3 dates, spread by key hash over all 8 shards
    put(1L to 240L, id => s"2024-01-0${5 + id % 3}")
    assert(FakeKinesis.listShards("perdate").forall(FakeKinesis.latestSequence("perdate", _) >= 0))
    StreamOps.startStore(decoded, root.toString, "c", ckpt).awaitTermination()
    assert(triFiles === 3L) // one per date (per shard and date: 24)
    assert(ids === (1L to 240L))
    // a second, one-date drain on the same checkpoint adds one file
    put(241L to 320L, _ => "2024-01-08")
    StreamOps.startStore(decoded, root.toString, "c", ckpt).awaitTermination()
    assert(triFiles === 4L)
    assert(ids === (1L to 320L))
  }

  test("a restart after a crash before commits/N drains batch N and every record put since") {
    import spark.implicits._
    import graft.streaming.{Checkpoints, FakeKinesis}
    FakeKinesis.reset()
    FakeKinesis.createStream("crash", 4)
    val p = new graft.streaming.StreamProducer
    val root = tempDir("crash_root").toString
    val ckpt = tempDir("crash_ckpt")
    val decoded = spark.readStream.format("kinesis-graft").option("stream", "crash").load()
      .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
      .select("r.event_id", "r.ts", "r.value")
    def put(ids: Seq[Long]): Unit = ids.foreach { id =>
      p.put("crash", s"k$id", Map("event_id" -> id, "ts" -> ts("2024-01-05 12:00:00"),
        "value" -> id * 0.5))
    }
    put(1L to 40L)
    StreamOps.startStore(decoded, root, "c", ckpt.toString).awaitTermination()
    // what a crash between the offset log and the commit log leaves behind
    val commits = ckpt.resolve("commits")
    val newest = commits.toFile.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    Files.delete(commits.resolve(newest.toString))
    Files.deleteIfExists(commits.resolve(s".$newest.crc"))
    put(41L to 60L)
    StreamOps.startStore(decoded, root, "c", ckpt.toString).awaitTermination()
    val committed = Checkpoints.offsets(spark, ckpt.toString)
      .select("shard", "sequence_number").as[(String, Long)].collect().toMap
    val latest = FakeKinesis.listShards("crash")
      .map(sh => sh -> FakeKinesis.latestSequence("crash", sh)).toMap
    assert(committed === latest, "records put after the crash were left uncommitted")
    // batch N is appended a second time on replay; every record is there
    assert(Archive.read(spark, root, "c", "20240105", "20240105")
      .select("event_id").as[Long].collect().distinct.sorted.toSeq === (1L to 60L))
  }

  test("a finished store drain leaves its per-start session clone unreachable") {
    import graft.streaming.FakeKinesis
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    FakeKinesis.reset()
    FakeKinesis.createStream("unpin", 8)
    val p = new graft.streaming.StreamProducer
    (1L to 80L).foreach { id =>
      p.put("unpin", s"k$id", Map("event_id" -> id, "ts" -> ts("2024-01-05 12:00:00"), "value" -> 1.0))
    }
    val decoded = spark.readStream.format("kinesis-graft").option("stream", "unpin").load()
      .selectExpr("from_msgpack(data, 'event_id BIGINT, ts TIMESTAMP, value DOUBLE') AS r")
      .select("r.event_id", "r.ts", "r.value")
    // the session Spark cloned for this start, held here only weakly
    def drain(): java.lang.ref.WeakReference[AnyRef] = {
      val q = StreamOps.startStore(decoded, tempDir("unpin_root").toString, "c",
        tempDir("unpin_ckpt").toString)
      q.awaitTermination()
      new java.lang.ref.WeakReference(
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.sparkSession)
    }
    val clone = drain()
    // AQE's stage-pool threads live 60 s after their stage; a thread that
    // inherited the clone as its active session would keep it that long
    val deadline = System.nanoTime() + 20000000000L
    while (clone.get != null && System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    assert(clone.get == null, "a finished drain's session clone is still reachable")
  }

  test("watermarked tumbling window counts, late row beyond watermark dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String)]
    val out = StreamOps.tumblingCounts(in.toDF.toDF("ts", "event_type"), "10 minutes", "1 hour")
    val q = out.writeStream.format("memory").queryName("tumble")
      .outputMode("append").start()
    in.addData((ts("2024-01-05 10:05:00"), "a"), (ts("2024-01-05 10:40:00"), "a"),
      (ts("2024-01-05 11:10:00"), "b"))
    q.processAllAvailable()
    // advance watermark past 11:10-0:10 -> hour 10 closes
    in.addData((ts("2024-01-05 12:30:00"), "c"))
    q.processAllAvailable()
    // this arrives below the watermark (12:20) -> dropped from hour 10
    in.addData((ts("2024-01-05 10:59:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("tumble")
      .select($"window_start".cast("string"), $"event_type", $"n").as[(String, String, Long)]
      .collect().toSet
    assert(rows.contains(("2024-01-05 10:00:00", "a", 2L))) // late row not counted
  }

  test("session windows in streaming merge by gap") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.sessionCounts(in.toDF.toDF("user_id", "ts"), "1 minute", "30 minutes")
    val q = out.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    in.addData((7L, ts("2024-01-05 10:00:00")), (7L, ts("2024-01-05 10:10:00")),
      (7L, ts("2024-01-05 12:00:00")))
    q.processAllAvailable()
    in.addData((7L, ts("2024-01-05 23:00:00"))) // advance watermark, close sessions
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess").select($"user_id", $"n_in_session").as[(Long, Long)]
      .collect().sorted.toSeq
    assert(rows.take(2) === Seq((7L, 1L), (7L, 2L))) // one 2-event session, one singleton
  }

  test("streaming dedup drops in-watermark duplicates with bounded state") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp)]
    val out = StreamOps.dedupStream(in.toDF.toDF("event_id", "ts"), "10 minutes")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    in.addData((1L, ts("2024-01-05 10:00:00")), (1L, ts("2024-01-05 10:01:00")),
      (2L, ts("2024-01-05 10:02:00")))
    q.processAllAvailable()
    in.addData((1L, ts("2024-01-05 10:03:00"))) // still a duplicate
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L)) // each id exactly once
  }

  test("streaming near-dup flags banded minhash matches across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val unrelated = (100 to 140).map(i => s"other$i").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(spark,
      in.toDF.toDF("doc_id", "ts", "text"), threshold = 0.8)
    val q = out.toDF("doc_a", "doc_b", "est_jaccard").writeStream
      .format("memory").queryName("neardup").outputMode("append").start()
    in.addData((1L, ts("2024-01-05 10:00:00"), base),
      (2L, ts("2024-01-05 10:00:30"), unrelated))
    q.processAllAvailable()
    in.addData((3L, ts("2024-01-05 10:01:00"), nearDup)) // later batch; matches doc 1 via state
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup").as[(Long, Long, Double)].collect()
      .toSet // a pair agreeing on several bands emits per band — dedupe
    assert(pairs.map(p => (p._1, p._2)) === Set((1L, 3L)),
      s"exactly the planted near-dup pair, got $pairs")
    assert(pairs.forall(_._3 >= 0.8))
  }

  test("stream near-dup detector agrees with the batch minhash estimate on the same corpus") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    import graft.operators.TextDedup
    // same corpus through both surfaces: any banding/seed/width drift
    // between the ingest-time detector and the batch minhash family
    // becomes a set difference here. sf0.01 — the corpus the batch
    // detectors are oracle-checked on, with real near-dups.
    val docs = Tables.table(spark, "/root/testdata/sf0.01", "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // batch reference (driver-side, 500 docs): shared signature kernel ->
    // 8x4 band candidates -> signature-agreement estimate >= threshold,
    // exactly the batch detector's banding bar and the stream's estimator
    val md = java.security.MessageDigest.getInstance("MD5")
    val sigs = docs.map { case (id, t) =>
      id -> TextDedup.minhashSignatureFromText(md, t) }.toMap
    val byBand = scala.collection.mutable.Map[(Int, String), List[Long]]()
    docs.foreach { case (id, _) =>
      val sig = sigs(id)
      (0 until 8).foreach { b =>
        val key = (b, s"${sig(b * 4)},${sig(b * 4 + 1)},${sig(b * 4 + 2)},${sig(b * 4 + 3)}")
        byBand(key) = id :: byBand.getOrElse(key, Nil)
      }
    }
    val expected: Set[(Long, Long, Double)] = byBand.values.flatMap { ids =>
      val sorted = ids.sorted
      for { i <- sorted.indices; j <- (i + 1) until sorted.length }
        yield (sorted(i), sorted(j))
    }.toSet[(Long, Long)].flatMap { case (a, b) =>
      val (sa, sb) = (sigs(a), sigs(b))
      val eq = (0 until 32).count(p => sa(p) == sb(p))
      if (eq / 32.0 >= 0.8) Some((a, b, eq / 32.0)) else None
    }
    assert(expected.nonEmpty, "corpus must contain near-dups for agreement to bite")

    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(spark, in.toDF.toDF("doc_id", "ts", "text"))
    val q = out.toDF("doc_a", "doc_b", "est").writeStream
      .format("memory").queryName("agree").outputMode("append").start()
    in.addData(docs.map { case (id, t) => (id, ts("2024-01-05 10:00:00"), t) }.toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("agree").as[(Long, Long, Double)].collect().toSet
    assert(got === expected)
  }

  test("near-dup hot bucket: Map-backed state, per-bucket cap bounds membership") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // 60 identical docs land in the same bucket of every band — the skew
    // case: membership stays O(1) per arrival and the bucket caps at 10
    // members (overflow docs still pair against members, never join)
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val in = MemoryStream[(Long, Timestamp, String)]
    val out = StreamOps.nearDupStream(spark,
      in.toDF.toDF("doc_id", "ts", "text"), threshold = 0.8, maxPerBucket = 10)
    val q = out.toDF("doc_a", "doc_b", "est_jaccard").writeStream
      .format("memory").queryName("hotbucket").outputMode("append").start()
    in.addData((1L to 60L).map(i => (i, ts("2024-01-05 10:00:00"), text)))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("hotbucket").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2)).toSet
    // members are the first 10 ids (rows process in doc_id order):
    // all 45 member pairs + 50 overflow-docs × 10 members
    assert(pairs.size === 45 + 500)
    assert(pairs.forall { case (a, _) => a <= 10L },
      "every pair involves a bucket member (overflow-overflow pairs are the documented loss)")
  }

  test("transformWithState (Spark 4 stateful API) matches the fMGWS counts on RocksDB") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Long, Long)]
      val out = StreamOps.runningUserCountsTws(spark, in.toDS)
      val q = out.toDF("user", "n", "last").writeStream.format("memory")
        .queryName("tws").outputMode("append").start()
      in.addData((1L, 10L), (1L, 20L), (2L, 5L))
      q.processAllAvailable()
      in.addData((1L, 30L))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws").as[(Long, Long, Long)].collect().toSet
      assert(rows.contains((1L, 2L, 20L)))
      assert(rows.contains((1L, 3L, 30L))) // ValueState carried across batches
      assert(rows.contains((2L, 1L, 5L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState recovers RocksDB state across a mid-stream stop + checkpoint restart") {
    // The recovery path production exercises weekly and no other test
    // covered: kill a stateful query between micro-batches, restart it
    // from the SAME checkpoint with live RocksDB state, and prove the
    // counters continue instead of resetting. The file-source checkpoint
    // guarantees phase-A files are NOT re-read after restart, so a
    // continued count can only come from recovered operator state.
    import spark.implicits._
    val work = tempDir("tws_restart")
    val src = work.resolve("src"); Files.createDirectories(src)
    val ckpt = work.resolve("ckpt").toString
    val sink = work.resolve("out").toString
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def writeBatch(name: String, rows: (Long, Long)*): Unit =
        rows.toSeq.toDF("user_id", "ts_us").coalesce(1)
          .write.parquet(src.resolve(name).toString)
      def runOnce(): Unit = {
        val ds = spark.readStream
          .schema("user_id LONG, ts_us LONG")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$src/*") // glob over the per-phase subdirs
          .as[(Long, Long)]
        val q = StreamOps.runningUserCountsTws(spark, ds)
          .toDF("user_id", "n", "last_us")
          .writeStream
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", sink)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // phase A: two micro-batch commits, then the query STOPS
      writeBatch("a1", (1L, 10L), (1L, 20L), (2L, 5L))
      writeBatch("a2", (2L, 15L))
      runOnce()
      val afterA = spark.read.parquet(sink).as[(Long, Long, Long)].collect().toSet
      assert(afterA.contains((1L, 2L, 20L)) && afterA.contains((2L, 2L, 15L)),
        s"phase A emitted $afterA")
      // phase B: new files land, a NEW query resumes from the checkpoint
      writeBatch("b1", (1L, 30L), (3L, 7L))
      runOnce()
      val afterB = spark.read.parquet(sink).as[(Long, Long, Long)].collect().toSet
      // u1 -> 3 proves the ValueState (2) was RECOVERED from RocksDB: the
      // restarted query saw only one u1 row, and phase-A files were not
      // replayed (no duplicate (1,2)-after-restart row could produce 3)
      assert(afterB.contains((1L, 3L, 30L)),
        s"restart did not recover user 1's count state: $afterB")
      assert(afterB.contains((3L, 1L, 7L)))
      // and nothing was double-counted: the running max per user is the
      // exact batch truth over both phases
      val finalCounts = spark.read.parquet(sink)
        .groupBy($"user_id").agg(max($"n").as("n"), max($"last_us").as("last"))
        .as[(Long, Long, Long)].collect().toSet
      assert(finalCounts === Set((1L, 3L, 30L), (2L, 2L, 15L), (3L, 1L, 7L)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("flatMapGroupsWithState keeps running per-user counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val out = StreamOps.runningUserCounts(spark, in.toDS)
    val q = out.toDF("user", "n", "last").writeStream.format("memory")
      .queryName("state").outputMode("append").start()
    in.addData((1L, 10L), (1L, 20L), (2L, 5L))
    q.processAllAvailable()
    in.addData((1L, 30L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("state").as[(Long, Long, Long)].collect().toSet
    assert(rows.contains((1L, 2L, 20L))) // after batch 1
    assert(rows.contains((1L, 3L, 30L))) // state carried into batch 2
    assert(rows.contains((2L, 1L, 5L)))
  }

  test("q59 at production threshold 0.8: estimator-pruned screen vs the batch screen") {
    // q59's oracle mode runs the detector at threshold 0 (pure banding =
    // the batch candidate bar → hash equality). Production runs the
    // detector at the REAL threshold: the 32-sig agreement estimator
    // prunes candidates before the exact verify, so decisions can diverge
    // where the estimate and the exact Jaccard fall on opposite sides of
    // 0.8. This gate measures that divergence on the oracle corpus/split
    // and pins it (number recorded in BENCH_NOTES).
    val dir = "/root/testdata/sf0.01"
    val batch = graft.operators.TextDedup.incrementalDedup(spark, dir, threshold = 0.8)
      .select("doc_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val streamed = StreamOps.incrementalDedupStreamed(spark, dir,
        threshold = 0.8, detectorThreshold = 0.8)
      .select("doc_id", "kept").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed.keySet === batch.keySet, "both screens decide the same incoming docs")
    // pruning is one-sided: the estimator can only LOSE candidates, never
    // invent them, so a doc the streamed screen DROPS must also be
    // dropped by the batch screen (a false drop would be a real bug, not
    // estimator variance)
    streamed.foreach { case (id, kept) =>
      if (!kept) assert(!batch(id),
        s"doc $id dropped by the streamed screen but kept by the batch screen")
    }
    val agree = streamed.count { case (id, k) => batch(id) == k }
    val rate = agree.toDouble / streamed.size
    assert(rate >= 0.9,
      f"keep-decision agreement $rate%.3f fell below 0.9 " +
        f"(${streamed.size - agree} of ${streamed.size} flipped)")
    info(f"q59@0.8 keep-decision agreement: $rate%.3f over ${streamed.size} docs")
  }

  test("q83 streamed router rollup equals the batch gate; nothing misroutes") {
    import spark.implicits._
    val dir = tempDir("q83fix").toString
    // mixed fixture: doc 0 fails (short), docs 1-2 pass, doc 3 fails (no
    // stopwords) — two sources so the rollup has >1 row and each sink
    // receives rows
    val pass16 = "the of " + (1 to 14).map(i => f"wrd$i%02d").mkString(" ")
    Seq(
      (0L, "the of cc", "sA"),
      (1L, pass16, "sA"),
      (2L, pass16, "sB"),
      (3L, (1 to 16).map(i => f"tk$i%03d").mkString(" "), "sB"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = StreamOps.qualityGateStreamed(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(8))))
      .toMap
    assert(got("sA") === ((2L, 1L, 0L))) // n_docs, n_pass, n_misrouted
    assert(got("sB") === ((2L, 1L, 0L)))
    // streamed rollup equals the batch gate's aggregation (same rule
    // battery by construction; this pins the file round trip)
    val batch = graft.operators.TextAnalysis.qualityGate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(batch === Map(0L -> false, 1L -> true, 2L -> true, 3L -> false))
  }

  test("q91 tws running counts over real micro-batches equal the batch rollup") {
    import spark.implicits._
    val dir = tempDir("q91fix").toString
    Seq(
      (1L, "2024-03-01 10:00:00", 7L, "click", 1.0),
      (2L, "2024-03-01 11:00:00", 7L, "view", 1.0),
      (3L, "2024-03-01 12:00:00", 7L, "click", 1.0),
      (4L, "2024-03-01 10:30:00", 8L, "click", 1.0))
      .toDF("event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
      .write.parquet(s"$dir/events.parquet")
    val got = StreamOps.runningCountsStreamed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def us(t: String) = java.time.Instant.parse(t).toEpochMilli * 1000L
    assert(got.toSeq === Seq(
      (7L, 3L, us("2024-03-01T12:00:00Z")),
      (8L, 1L, us("2024-03-01T10:30:00Z"))))
    // the provider override must not leak into the session (getOption
    // reports the conf's default after unset — assert RocksDB is gone)
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("q92 stream-stream join pairs purchases inside the hour, drops the rest") {
    import spark.implicits._
    val dir = tempDir("q92fix").toString
    Seq(
      (1L, "2024-03-01 10:00:00", 7L, "click", 1.0),
      (2L, "2024-03-01 10:30:00", 7L, "purchase", 1.0), // in window: lag 30 min
      (3L, "2024-03-01 12:00:00", 7L, "purchase", 1.0), // 2 h after click: out
      (4L, "2024-03-01 09:59:00", 7L, "purchase", 1.0), // before click: out
      (5L, "2024-03-01 10:00:00", 8L, "click", 1.0),    // user 8: no purchase
      (6L, "2024-03-01 10:10:00", 9L, "purchase", 1.0)) // user 9: no click
      .toDF("event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t")
      .write.parquet(s"$dir/events.parquet")
    val got = StreamOps.streamStreamJoin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq((7L, 1L, 1800000000L, 1800000000L)))
  }

  test("q111 view maintenance really runs multi-batch and matches the one-shot rollup") {
    val dir = "/root/testdata/sf0.001"
    val (viewDf, nBatches) =
      StreamOps.incrementalViewMaintenanceCounted(spark, dir)
    // maxFilesPerTrigger=1 over a multi-file source: a single-batch run
    // would leave the merge path (the operator's reason to exist) dead.
    // 2 is the documented minimum — batch 2 merges into batch 1's view;
    // extra batches re-prove nothing and cost a full fixed-cost cycle each
    assert(nBatches >= 2, s"expected >= 2 micro-batches, got $nBatches")
    val view = viewDf.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batch = graft.Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("user_id")).as("sum_user"))
      .orderBy(col("event_type"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(view === batch)
  }

  test("q83 routes a wholesale-failing corpus without a pass sink") {
    import spark.implicits._
    val dir = tempDir("q83all").toString
    Seq((0L, "a b", "s0"), (1L, "c d", "s0"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = StreamOps.qualityGateStreamed(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(8)))
    assert(got.toSeq === Seq(("s0", 2L, 0L, 0L)))
  }

  test("q130 stream drift: real multi-batch accumulation equals the batch PSI exactly") {
    val (streamed, nBatches) =
      StreamOps.streamSourceDriftCounted(spark, sfDir, 16)
    // >= 2: batch 2's counts merge into batch 1's version — the minimum
    // that keeps the accumulate path live (same rationale as q111 above)
    assert(nBatches >= 2, s"expected >= 2 micro-batches, got $nBatches")
    val batch = graft.operators.TextAnalysis.sourcePsi(spark, sfDir).collect()
    val got = streamed.collect()
    assert(got.map(_.toString).toSeq === batch.map(_.toString).toSeq,
      "streamed count accumulation must reproduce the batch PSI bit-for-bit")
  }
}
