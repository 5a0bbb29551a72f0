package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Archive

/** `.tri` format + archive layout contract
  * (`/root/reference/triton/store_test.go:27-44,84-114`,
  * `/root/reference/triton/archive_test.go:9-74`).
  */
class TriArchiveSpec extends AnyFunSuite with SparkFixture {

  test("tri write/read round-trip preserves rows and types") {
    import spark.implicits._
    val dir = tempDir("tri_rt").resolve("out").toString
    val df = Seq(
      (1L, "click", 1.5, "2024-01-05 10:00:00"),
      (2L, "view", -2.25, "2024-01-05 11:30:00"),
      (3L, "purchase", 0.0, "2024-01-06 09:15:00"))
      .toDF("id", "kind", "v", "t")
      .withColumn("t", to_timestamp($"t"))
    df.write.format("tri").save(dir)
    val back = spark.read.format("tri").load(dir)
    assert(back.schema.map(f => (f.name, f.dataType)).toSet
      === df.schema.map(f => (f.name, f.dataType)).toSet)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq
      === df.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("schema inference merges heterogeneous files (evolving producers)") {
    import spark.implicits._
    val dir = tempDir("tri_mixed").resolve("out").toString
    // two generations of the same stream: a field added later
    Seq((1L, "a")).toDF("id", "kind")
      .write.format("tri").save(dir)
    Seq((2L, "b", 3.5)).toDF("id", "kind", "score")
      .write.format("tri").mode("append").save(dir)
    val back = spark.read.format("tri").load(dir)
    assert(back.columns.toSet === Set("id", "kind", "score"))
    val rows = back.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // old-generation rows read null for the new field
    val scoreIdx = back.columns.indexOf("score")
    assert(rows(0).isNullAt(scoreIdx) && rows(1).getDouble(scoreIdx) === 3.5)
  }

  test("column pruning: reading two columns decodes only those") {
    import spark.implicits._
    val dir = tempDir("tri_prune").resolve("out").toString
    Seq((1L, "a", 9.9), (2L, "b", 8.8)).toDF("id", "kind", "v")
      .write.format("tri").save(dir)
    val pruned = spark.read.format("tri").load(dir).select("id", "kind")
    assert(pruned.columns.toSeq === Seq("id", "kind"))
    assert(pruned.orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
  }

  test("truncated tri file fails the read cleanly (no hang, no partial garbage)") {
    import spark.implicits._
    val dir = tempDir("tri_trunc").resolve("out").toString
    Seq((1L, "a" * 200), (2L, "b" * 200), (3L, "c" * 200)).toDF("id", "s")
      .coalesce(1).write.format("tri").save(dir)
    val f = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".tri")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    java.nio.file.Files.write(f.toPath, bytes.take(bytes.length / 2)) // cut mid-stream
    val ex = intercept[Exception] {
      spark.read.schema("id BIGINT, s STRING").format("tri").load(dir).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[graft.functions.MsgPackCodec.MsgPackException]
        || c.isInstanceOf[java.io.IOException]),
      s"expected a decode/IO failure, got ${causes(ex).map(_.getClass.getName)}")
  }

  test("garbage bytes in place of a .tri file fail cleanly at the snappy layer") {
    val dir = tempDir("tri_garbage").toString
    val rnd = new scala.util.Random(7)
    val junk = Array.fill(4096)(rnd.nextInt(256).toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "junk.tri"), junk)
    val ex = intercept[Exception] {
      spark.read.schema("id BIGINT").format("tri").load(dir).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[java.io.IOException]
        || c.isInstanceOf[graft.functions.MsgPackCodec.MsgPackException]),
      s"expected a framing/decode failure, got ${causes(ex).map(_.getClass.getName)}")
  }

  test("archive store + range read prunes partitions and orders") {
    import spark.implicits._
    val root = tempDir("tri_arch").toString
    val ev = Seq(
      (1L, "2024-01-05 10:00:00", 1.0),
      (2L, "2024-01-06 10:00:00", 2.0),
      (3L, "2024-01-07 10:00:00", 3.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    Archive.store(ev, root, "clientA")
    val in = Archive.read(spark, root, "clientA", "20240105", "20240106")
    assert(in.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // partition pruning visible in the plan: only 2 of 3 date dirs survive
    val plan = in.queryExecution.executedPlan.toString
    assert(in.rdd.getNumPartitions <= 2)
  }

  test("Archive.read plans without running any Spark job (metadata-only invariant check)") {
    import spark.implicits._
    val root = tempDir("tri_meta").toString
    val ev = Seq((1L, "2024-01-05 10:00:00", 1.0), (2L, "2024-01-06 10:00:00", 2.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    Archive.store(ev, root, "clientA")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // client = "" runs the single-client check: it must come from the
      // file index's paths, not a data-touching distinct() job (reference
      // enforces it at listing time, store_reader.go:90-99)
      val df = Archive.read(spark, root, "", "20240101", "20241231")
      Thread.sleep(200) // let any async job-start events drain
      assert(jobs.get() === 0, s"Archive.read ran ${jobs.get()} Spark job(s) before any action")
      assert(df.count() === 2) // the data itself is intact
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("maxRecordsPerFile rotates archive files like the reference's hourly cap (K1)") {
    import spark.implicits._
    val root = tempDir("tri_rotate").toString
    val ev = (1L to 10L).map(i => (i, "2024-01-05 10:00:00", i.toDouble))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
      .coalesce(1) // one task, so the file count is the rotation policy's doing
    Archive.store(ev, root, "c1", maxRecordsPerFile = 3L)
    val dir = new java.io.File(root, "date=20240105/client=c1")
    val files = dir.listFiles().filter(_.getName.endsWith(".tri"))
    assert(files.length >= 4, s"10 records at <=3/file need >=4 files, got ${files.length}")
    val back = Archive.read(spark, root, "c1", "20240101", "20241231")
    assert(back.select("event_id").as[Long].collect().sorted.toSeq === (1L to 10L))
  }

  test("one task's date under the record cap lands in one file, whatever its bytes") {
    import spark.implicits._
    val root = tempDir("tri_one_file").toString
    // ~23 KiB of encoded records from one task
    val ev = (1L to 200L).map(i => (i, "2024-01-05 10:00:00", "x" * 100))
      .toDF("event_id", "ts", "payload").withColumn("ts", to_timestamp($"ts"))
      .coalesce(1)
    Archive.store(ev, root, "c1")
    assert(new java.io.File(root, "date=20240105/client=c1")
      .listFiles().count(_.getName.endsWith(".tri")) === 1)
    val back = Archive.read(spark, root, "c1", "20240101", "20241231")
    assert(back.select("event_id").as[Long].collect().sorted.toSeq === (1L to 200L))
  }

  test("leftover empty client dir does not trip the single-client invariant") {
    import spark.implicits._
    val root = tempDir("tri_empty").toString
    val ev = Seq((1L, "2024-01-05 10:00:00", 1.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    Archive.store(ev, root, "clientA")
    // an aborted write's leftovers: one client dir with no files at all,
    // one holding only a marker file — neither has data rows, so neither
    // may raise the mixed-client error
    assert(new java.io.File(root, "date=20240105/client=ghost").mkdirs())
    val marker = new java.io.File(root, "date=20240105/client=ghost2")
    assert(marker.mkdirs())
    assert(new java.io.File(marker, "_SUCCESS").createNewFile())
    val got = Archive.read(spark, root, "", "20240101", "20241231")
    assert(got.count() === 1)
  }

  test("mixed clients in a range raise (reference single-client invariant)") {
    import spark.implicits._
    val root = tempDir("tri_mixed").toString
    val ev = Seq((1L, "2024-01-05 10:00:00", 1.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    Archive.store(ev, root, "clientA")
    Archive.store(ev, root, "clientB")
    assertThrows[IllegalStateException](
      Archive.read(spark, root, "", "20240101", "20241231"))
    // naming a client selects only it
    assert(Archive.read(spark, root, "clientA", "20240101", "20241231").count() === 1)
  }

  test("client names needing partition-path escaping survive the metadata listing") {
    import spark.implicits._
    val root = tempDir("tri_esc").toString
    val ev = Seq((1L, "2024-01-05 10:00:00", 1.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    // ':' and ' ' are escaped in partition directory names — the
    // directory-listing client check must unescape before comparing
    Archive.store(ev, root, "client: a")
    val got = Archive.read(spark, root, "client: a", "20240101", "20241231")
    assert(got.count() === 1)
    assert(got.select("client").distinct().as[String].collect().toSeq === Seq("client: a"))
  }

  test("mixed-client check reads date and client from escaped file paths") {
    import spark.implicits._
    val root = tempDir("tri_mixed_esc").toString
    def ev(ts: String) = Seq((1L, ts, 1.0))
      .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
    Archive.store(ev("2024-01-05 10:00:00"), root, "client: a")
    // a second client only outside the range is not mixed
    Archive.store(ev("2024-03-01 10:00:00"), root, "clientB")
    assert(Archive.read(spark, root, "", "20240101", "20240131").count() === 1)
    Archive.store(ev("2024-01-06 10:00:00"), root, "client: b")
    val e = intercept[IllegalStateException](
      Archive.read(spark, root, "", "20240101", "20240131"))
    assert(e.getMessage.endsWith("mixed clients in archive range: client: a,client: b"),
      e.getMessage)
    assert(Archive.read(spark, root, "client: a", "20240101", "20240131").count() === 1)
  }

  test("a first record over 1 MiB infers its schema and reads back") {
    import spark.implicits._
    val root = tempDir("tri_big").toString
    val blob = Array.tabulate[Byte](2 << 20)(i => (i * 31).toByte)
    val ev = Seq((1L, "2024-01-05 10:00:00", blob), (2L, "2024-01-05 11:00:00", Array[Byte](7)))
      .toDF("event_id", "ts", "payload").withColumn("ts", to_timestamp($"ts"))
      .coalesce(1)
    Archive.store(ev, root, "c1")
    val back = Archive.read(spark, root, "c1", "20240101", "20241231")
      .orderBy("event_id").select("event_id", "payload").as[(Long, Array[Byte])].collect()
    assert(back.map(_._1).toSeq === Seq(1L, 2L))
    assert(java.util.Arrays.equals(back(0)._2, blob) && back(1)._2.toSeq === Seq[Byte](7))
  }

  test("a sampled file that holds no record is skipped by schema inference") {
    import spark.implicits._
    val dir = tempDir("tri_empty").resolve("out").toString
    // an empty frame writes a header-only .tri file (the snappy stream id)
    Seq.empty[(Long, String)].toDF("id", "kind").coalesce(1).write.format("tri").save(dir)
    Seq((1L, "a")).toDF("id", "kind").write.format("tri").mode("append").save(dir)
    val back = spark.read.format("tri").load(dir)
    assert(back.count() === 1)
    assert(back.select("id", "kind").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("tri works as a file stream source (readStream over the archive)") {
    import spark.implicits._
    val dir = tempDir("tri_stream").resolve("in").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "kind").write.format("tri").save(dir)
    val schema = spark.read.format("tri").load(dir).schema
    val q = spark.readStream.format("tri").schema(schema).load(dir)
      .writeStream.format("memory").queryName("tri_stream").start()
    q.processAllAvailable()
    // late-arriving file is picked up by the next micro-batch
    Seq((3L, "c")).toDF("id", "kind").write.format("tri").mode("append").save(dir)
    q.processAllAvailable(); q.stop()
    assert(spark.table("tri_stream").select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("tri works as a streaming file sink (writeStream.format(tri))") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx = spark.sqlContext
    val out = tempDir("tri_sink").resolve("out").toString
    val ckpt = tempDir("tri_sink_ckpt").toString
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "a"), (2L, "b"))
    val q = in.toDF.toDF("id", "kind")
      .writeStream.format("tri").option("path", out)
      .option("checkpointLocation", ckpt).start()
    q.processAllAvailable(); q.stop()
    assert(spark.read.format("tri").load(out).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L))
  }

  test("archive key parse contract incl. client split and malformed keys") {
    assert(Archive.parseKey("20240105/events-clientA-1704448800.tri")
      === Some(("20240105", "events", "clientA", 1704448800L)))
    assert(Archive.parseKey("20240105/events-1704448800.tri")
      === Some(("20240105", "events", "", 1704448800L)))
    assert(Archive.parseKey("garbage") === None)
    assert(Archive.parseKey("2024/short-1.tri") === None)
    assert(Archive.archiveKey("20240105", "events", "clientA", 1704448800L)
      === "20240105/events-clientA-1704448800.tri")
  }

  test("compact collapses a small-file partition, preserves rows, and is idempotent") {
    import spark.implicits._
    val root = tempDir("tri_compact").resolve("archive").toString
    // 20 rows on one day, rotation cap 3 -> ceil(20/3)-ish files per task
    val df = (1L to 20L).map(i => (i, "click", i * 0.5, f"2024-01-05 10:00:${i % 60}%02d"))
      .toDF("event_id", "event_type", "value", "t")
      .withColumn("ts", to_timestamp($"t")).drop("t")
    Archive.store(df, root, "cA", maxRecordsPerFile = 3)
    val partDir = new java.io.File(s"$root/date=20240105/client=cA")
    def files() = partDir.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val before = files().length
    assert(before > 1, s"fixture should fragment, got $before file(s)")
    val preRows = Archive.read(spark, root, "cA", "20240101", "20241231")
      .select("event_id", "event_type", "value").collect().map(_.toSeq).toSet
    val (b, a) = Archive.compact(spark, root, "cA", "20240105")
    assert(b === before.toLong && a === 1L, s"expected $before -> 1, got $b -> $a")
    assert(files().length === 1)
    // no hidden staging/backup leftovers
    assert(!new java.io.File(s"$root/date=20240105/.bak_client=cA").exists)
    assert(!new java.io.File(s"$root/date=20240105/.compact_client=cA").exists)
    val postRows = Archive.read(spark, root, "cA", "20240101", "20241231")
      .select("event_id", "event_type", "value").collect().map(_.toSeq).toSet
    assert(postRows === preRows, "compaction must preserve the exact row set")
    // idempotent: a single-file partition is left untouched
    assert(Archive.compact(spark, root, "cA", "20240105") === ((1L, 1L)))
    // absent partitions are a no-op, not an error
    assert(Archive.compact(spark, root, "cA", "19990101") === ((0L, 0L)))
  }
}
