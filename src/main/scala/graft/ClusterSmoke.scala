package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Multi-JVM smoke: everything `local[n]` cannot prove. In local mode the
  * driver and executors share one JVM, so class-name resolution of custom
  * services, broadcast transport, codegen'd custom expressions, and kernel
  * closure serialization are never exercised across a process boundary —
  * this main runs them under `local-cluster[2,4,4096]` (2 executor JVMs ×
  * 4 cores × 4 GiB), the closest local approximation of a real cluster.
  *
  * Drives: (1) the sharded-stream source against the directory-backed
  * [[graft.streaming.FileShardService]] — resolved by class name inside
  * executor JVMs, where FakeKinesis's per-JVM state would be empty;
  * (2) stop → produce more → RESUME from the checkpoint (exactly-once
  * across restarts, multi-JVM); (3) `.tri` archive store/read; (4) the
  * codegen'd msgpack expressions; (5) a broadcast star join + kernel
  * operator from the relational/dedup surface; (6) the flagship entry.
  *
  * `tools/cluster_smoke.sh` packages the classes and runs this; prints
  * `CLUSTER-SMOKE ok=true` last on success.
  */
object ClusterSmoke {
  def main(args: Array[String]): Unit = {
    val spark = Tables.session("graft-cluster-smoke", "8",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local-cluster[2,4,4096]"))
    import spark.implicits._
    var ok = true
    def check(name: String, cond: Boolean, detail: => String = ""): Unit = {
      if (!cond) ok = false
      println(s"CLUSTER-SMOKE $name=${if (cond) "pass" else s"FAIL $detail"}")
    }

    // 0. sanity: we really are multi-JVM (executor PIDs differ from driver's)
    val driverPid = ProcessHandle.current().pid()
    val execPids = spark.sparkContext.parallelize(1 to 8, 8)
      .map(_ => ProcessHandle.current().pid()).collect().toSet
    check("multi_jvm", !execPids.contains(driverPid) && execPids.nonEmpty,
      s"driver=$driverPid executors=$execPids")

    // 1. stream source via FileShardService, resolved by name in executor JVMs
    val rt = StructType(Seq(StructField("id", LongType), StructField("kind", StringType)))
    def rec(i: Long): Array[Byte] = functions.MsgPackCodec.encode(
      new GenericInternalRow(Array[Any](i, UTF8String.fromString("t"))), rt)
    io.Scratch.withWorkDir("fss") { work =>
      val streamDir = work.resolve("stream").toString
      import graft.streaming.FileShardService
      (1L to 6L).foreach(i => FileShardService.put(streamDir, s"shard-${i % 2}", i, s"k$i", rec(i)))
      val ckpt = work.resolve("ckpt").toString
      val outDir = work.resolve("out").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("kinesis-graft")
          .option("stream", streamDir)
          .option("service", "graft.streaming.FileShardService")
          .load()
          .withColumn("rec", expr("from_msgpack(data, 'id BIGINT, kind STRING')"))
          .select($"shard_id", $"sequence_number", $"rec.id".as("id"))
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      val ids1 = spark.read.parquet(outDir).select("id").as[Long].collect().sorted.toSeq
      check("stream_first_run", ids1 == (1L to 6L), s"got $ids1")

      // 2. resume: more records after a stop; the checkpoint must dedupe
      (7L to 10L).foreach(i => FileShardService.put(streamDir, s"shard-${i % 2}", i, s"k$i", rec(i)))
      runOnce()
      val ids2 = spark.read.parquet(outDir).select("id").as[Long].collect().sorted.toSeq
      check("stream_resume_exactly_once", ids2 == (1L to 10L), s"got $ids2")
    }

    // 3. archive store -> pruned read (files written by executor tasks)
    io.Scratch.withWorkDir("cs_tri") { work =>
      val root = work.resolve("arch").toString
      val ev = Seq((1L, "2024-01-05 10:00:00", 2.5), (2L, "2024-01-08 11:00:00", 7.5))
        .toDF("event_id", "ts", "value").withColumn("ts", to_timestamp($"ts"))
      sources.Archive.store(ev, root, "c1")
      check("archive_pruned", sources.Archive.read(spark, root, "c1", "20240105", "20240106")
        .count() == 1L)
    }

    // 4. codegen'd msgpack expressions inside executor-side codegen
    val n = spark.range(0, 1000, 1, 8)
      .withColumn("b", expr("to_msgpack(struct(id, cast(id as string) as s))"))
      .withColumn("back", expr("from_msgpack(b, 'id BIGINT, s STRING')"))
      .where($"back.id" === $"id").count()
    check("msgpack_exprs", n == 1000L, s"got $n")

    // 5. broadcast join + a kernel operator, sf0.001
    val dir = "/root/testdata/sf0.001"
    check("star_join", operators.Relational.customerByRegion(spark, dir).count() > 0)
    // sf0.001 holds 28 true jaccard>=0.8 pairs (measured in DuckDB); the
    // 8x4 banding catches a >=0.8 pair with prob ~0.985+, so a healthy
    // multi-JVM run lands in [20, 28] — an always-true >=0 would only
    // catch crashes
    val mh = operators.TextDedup.minhashLshPairs(spark, dir).count()
    check("minhash_kernel", mh >= 20 && mh <= 28, s"got $mh pairs")

    // 6. flagship
    check("entry", SparkEntry.entry(spark).count() > 0)

    println(s"CLUSTER-SMOKE ok=$ok")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
