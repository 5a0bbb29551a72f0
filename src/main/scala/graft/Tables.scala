package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Access to the engine's table layer.
  *
  * The driver testdata (`TESTDATA.md`) is one parquet file per table under a
  * scale-factor directory. At production scale these would be
  * date-partitioned directories on object storage (the archive layout of
  * `/root/reference/triton/store_reader.go:54-67` re-expressed as a Spark
  * partitioned file index), so every reader goes through this single
  * indirection point.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** 6-decimal rounding as pure binary double ops — `round(x, 6)` is NOT
    * portable across engines: Spark rounds the double's shortest decimal
    * representation HALF_UP while DuckDB rounds the binary value, so a
    * score landing on a .x5 boundary (seen at sf0.1: 0.5146875 ->
    * 0.514688 vs 0.514687) hash-mismatches. floor(x*1e6 + 0.5)/1e6 is
    * the same arithmetic in both engines, bit for bit; oracle SQL uses
    * the literal formula.
    */
  def round6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{floor, lit}
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events` with its timestamp normalized: adds `ts_us` (microseconds
    * since epoch, BIGINT) and rewrites `ts` as a microsecond TIMESTAMP.
    * The driver has shipped this column as parquet TIMESTAMP(NANOS) (read
    * as LongType under `spark.sql.legacy.parquet.nanosAsLong=true`) and as
    * timestamp[us] without tz metadata (read as TIMESTAMP_NTZ) across
    * testdata generations; all three arrivals funnel to the same
    * (TIMESTAMP, ts_us) pair here. The NTZ→LTZ cast interprets the wall
    * clock in the session time zone — every graft session pins UTC, so it
    * is exactly the epoch the oracle's `epoch_us(ts)` computes.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros($"ts_us"))
      case TimestampNTZType =>
        raw.withColumn("ts", $"ts".cast(TimestampType))
          .withColumn("ts_us", unix_micros($"ts"))
      case _ =>
        raw.withColumn("ts_us", unix_micros($"ts"))
    }
  }

  /** Session tuned for the local[32] harness but with settings that hold on
    * a real cluster: AQE re-plans skew/shuffle at runtime, shuffle
    * partitions sized to cores (the driver overrides per-run), broadcast
    * threshold left at default so dimension tables broadcast.
    */
  def session(appName: String, cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // default 100 codegen-cache entries thrash under a 180+-query
      // workload: evicted fragments recompile as FRESH classes, whose
      // first execution runs JIT-cold — measured as q142's "in-suite
      // inflation" (3.0 s solo vs 6.3 s after any ~20-query prefix,
      // identical IO/GC, 2.4x task CPU, gone by the very next run).
      // 5000 entries keep every suite fragment's compiled class live;
      // cost is metaspace, not heap. (BENCH_NOTES "Round-11: q142's
      // in-suite inflation mechanized")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // the codegen cache is keyed by (task context classloader, source).
      // With artifact isolation on (Spark's default) every
      // writeStream.start() clones the session into a new artifact
      // session, whose tasks run under a fresh classloader, so each
      // streaming drain recompiled all of its generated classes (7 per
      // 500-record trickle cycle, ~90 ms of janino per cycle). The engine
      // adds no jars or artifacts, so isolation buys nothing here.
      // (BENCH_NOTES "Streaming drains reuse compiled code")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")
      // local-disk IO without a chmod/readlink subprocess per file and
      // per checkpoint rename; same files, .crc checksums and permission
      // bits (graft/io/LocalFs.scala)
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.ForkFreeLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.ForkFreeLocalFs].getName)
      .getOrCreate()
    // opt-in state-store provider for the streaming queries (q43/q47/
    // q59/q72): RocksDB keeps streaming state off-heap, which is how a
    // production cluster sizes stateful executors — the sf10 ladder
    // measured q72's in-memory (HDFS-backed) state store paying a
    // 3.7x GC tax on a 16 GiB heap (BENCH_NOTES). Example:
    //   SPARK_GRAFT_STATESTORE=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    sys.env.get("SPARK_GRAFT_STATESTORE").foreach(p =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
