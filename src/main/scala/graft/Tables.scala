package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

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

  /** `events` with its timestamp normalized by [[withEventTs]], plus
    * `ts_us` (microseconds since epoch, BIGINT).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTs(table(spark, dir, "events")).withColumn("ts_us", unix_micros(col("ts")))

  /** The one event-time rule: `df` (a batch or streaming read of the raw
    * events file) with `ts` rewritten as a microsecond TIMESTAMP. The
    * driver has shipped this column as parquet TIMESTAMP(NANOS) (read as
    * LongType under `spark.sql.legacy.parquet.nanosAsLong=true`), as
    * timestamp[us] without tz metadata (read as TIMESTAMP_NTZ) and as a
    * tz-aware timestamp across testdata generations; all three arrivals
    * funnel to the same TIMESTAMP here. The NTZ→LTZ cast interprets the
    * wall clock in the session time zone — every graft session pins UTC,
    * so it is exactly the epoch the oracle's `epoch_us(ts)` computes.
    */
  def withEventTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** A `ts` literal of the raw events file's own type (the schema of
    * `raw`) that [[withEventTs]] reads back as `us` microseconds since
    * epoch — how a drain lifecycle writes a sentinel row next to the
    * corpus.
    */
  def rawEventTsLit(raw: DataFrame, us: Long): Column = raw.schema("ts").dataType match {
    case LongType => lit(us * 1000L) // nanos convention
    case TimestampNTZType => timestamp_micros(lit(us)).cast(TimestampNTZType)
    case _ => timestamp_micros(lit(us))
  }

  /** The one session builder on a `local[cpus]` master. */
  def session(appName: String, cpus: String): SparkSession =
    session(appName, cpus, s"local[$cpus]")

  /** Session tuned for the local[32] harness but with settings that hold on
    * a real cluster: AQE re-plans skew/shuffle at runtime, shuffle
    * partitions sized to cores (the driver overrides per-run), broadcast
    * threshold left at default so dimension tables broadcast.
    *
    * Under a `local-cluster[n,cores,mem]` master (separate executor JVMs,
    * the harness of tools/cluster_smoke.sh; only Verify and ClusterSmoke
    * pass one) the executors also need the compiled classes on their own
    * class path: `SPARK_GRAFT_CLASSDIR`, by default the directory or jar
    * this class was loaded from.
    */
  def session(appName: String, cpus: String, master: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
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
    val spark = (if (master.startsWith("local-cluster"))
        builder.config("spark.executor.extraClassPath", sys.env.getOrElse("SPARK_GRAFT_CLASSDIR",
          new java.io.File(getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getPath))
      else builder).getOrCreate()
    // The state store stays Spark's default. q91 and q159 choose RocksDB
    // themselves (StreamOps.withRocksDbState). A deployment that wants
    // RocksDB for every stateful query sets
    // spark.sql.streaming.stateStore.providerClass as a Spark conf
    // (`-Dspark.sql.streaming.stateStore.providerClass=...` or `--conf`),
    // which SparkSession.builder() picks up: the sf10 ladder measured q72's in-memory
    // store paying a 3.7x GC tax on a 16 GiB heap (BENCH_NOTES).
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
