package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Archive naming + store/reader surface: the reference's S3 layout
  * (`YYYYMMDD/<stream>-<client>-<unixTs>.tri`,
  * `/root/reference/triton/store.go:91-104`,
  * `/root/reference/triton/archive.go:45-81`) re-expressed as a Spark
  * partitioned file index: `date`/`client` become partition columns so
  * Catalyst partition pruning replaces the hand-rolled per-day prefix
  * listing of `/root/reference/triton/store_reader.go:54-111`.
  */
object Archive {

  /** The reference's archive key regex (`/root/reference/triton/archive.go:46`). */
  val KeyPattern = "^(\\d{8})/(.+)-(\\d+)\\.tri$".r

  def archiveKey(date: String, stream: String, client: String, unixTs: Long): String =
    s"$date/$stream-$client-$unixTs.tri"

  /** Parse `YYYYMMDD/<stream>[-<client>]-<unixTs>.tri` →
    * (date, stream, client, sortValue); malformed keys → None (the skip
    * path of `/root/reference/triton/store_reader.go:75-79`).
    */
  def parseKey(key: String): Option[(String, String, String, Long)] = key match {
    case KeyPattern(date, name, ts) =>
      val (stream, client) = name.lastIndexOf('-') match {
        case -1 => (name, "")
        case i => (name.substring(0, i), name.substring(i + 1))
      }
      Some((date, stream, client, ts.toLong))
    case _ => None
  }

  /** Store a batch of records into the archive: date/client-partitioned
    * `.tri` files. The buffered/rotated/uploaded lifecycle of the
    * reference's Store (`/root/reference/triton/store.go:106-171`) is
    * subsumed by the file sink: each task streams through a snappy-framed
    * writer, files commit atomically, and `maxRecordsPerFile` bounds rows
    * per file the way hourly rotation bounded it.
    *
    * The layout is the caller's: every task writes one file per date it
    * holds, so `df`'s partitioning decides the file count (a caller that
    * wants one file per date rebalances first, as
    * [[graft.streaming.StreamOps.startStore]] does; a caller that wants a
    * fragmented archive repartitions).
    */
  def store(df: DataFrame, root: String, client: String,
            maxRecordsPerFile: Long = 1000000L): Unit =
    writePartitioned(withPartitionColumns(df, client), root, maxRecordsPerFile)

  /** `df` plus the archive's partition columns: `date` (`yyyyMMdd` of
    * `ts`) and `client`. Computed once, before any shuffle a caller puts
    * between this and [[writePartitioned]].
    */
  private[graft] def withPartitionColumns(df: DataFrame, client: String): DataFrame =
    df
      .withColumn("date", date_format(col("ts"), "yyyyMMdd"))
      .withColumn("client", lit(client))

  /** Appends `df` (already carrying `date`/`client`) to the archive at
    * `root`: one `.tri` file per (task, date, client), rotated by
    * `maxRecordsPerFile`.
    */
  private[graft] def writePartitioned(df: DataFrame, root: String,
                                     maxRecordsPerFile: Long = 1000000L): Unit =
    df.write.format("tri")
      .partitionBy("date", "client")
      .option("maxRecordsPerFile", maxRecordsPerFile) // bounds rows like hourly rotation did
      .mode("append")
      .save(root)

  /** Archive range scan — the `cat` query
    * (`/root/reference/triton/store_reader.go:54-111`): date-range +
    * client predicates prune partitions (no data read outside the range),
    * single-client invariant enforced like the reference's mixed-client
    * error (`store_reader.go:90-99`).
    *
    * Spark's file index of `root` is the only listing. A named client is
    * a filter, so the invariant holds by construction and no check runs.
    * With `client = ""` the check reads the `date=`/`client=` directories
    * of the indexed data files (`inputFiles`, which already skips `_`/`.`
    * files and empty directories) — metadata only, never a Spark job.
    */
  def read(spark: SparkSession, root: String, client: String,
           startDate: String, endDate: String): DataFrame = {
    val df = spark.read.format("tri").load(root)
      .where(col("date") >= startDate && col("date") <= endDate)
    if (client.nonEmpty) return df.where(col("client") === client)
    val unescape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName _
    val clients = df.inputFiles.toSeq.flatMap { f =>
      // inputFiles is the whole index, unpruned: the range applies here
      val dir = new org.apache.hadoop.fs.Path(new java.net.URI(f)).getParent
      val date = unescape(dir.getParent.getName.stripPrefix("date="))
      if (date >= startDate && date <= endDate)
        Some(unescape(dir.getName.stripPrefix("client=")))
      else None
    }.distinct.sorted
    if (clients.size > 1)
      throw new IllegalStateException(
        s"mixed clients in archive range: ${clients.mkString(",")}")
    df
  }

  /** Compact one (date, client) partition of the archive — the maintenance
    * job a streaming store makes necessary: each micro-batch of
    * `StreamOps.startStore` appends one `.tri` file per date it touches
    * (more where AQE splits a skewed date), so a day of 5-second batches
    * still leaves thousands of files, each a listing entry and (the format
    * is non-splittable) a separate read task. A batch `store` of a
    * many-partition DataFrame leaves one file per (task, date) at once.
    * Compaction rewrites the partition as
    * ceil(records / maxRecordsPerFile) files and swaps
    * directories in two renames, via hidden (`.`-prefixed) staging and
    * backup names that Spark's partition discovery never sees — so a
    * reader observes either the old file set or the new one, modulo the
    * instant between the renames (run under the maintenance window or a
    * coordinator lock; the reference makes the same single-writer
    * assumption for its uploader). Failure windows: before the first
    * rename nothing changed; a failed second rename rolls the backup
    * back; the final backup delete is retryable garbage. On a
    * rename-as-copy object store the swap degrades to copy+delete —
    * still correct, not atomic.
    *
    * Returns (filesBefore, filesAfter); partitions already at one file
    * (or absent) are left untouched.
    */
  def compact(spark: SparkSession, root: String, client: String, date: String,
              maxRecordsPerFile: Long = 1000000L): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val conf = spark.sessionState.newHadoopConf()
    val partDir = new Path(new Path(root, s"date=${esc(date)}"), s"client=${esc(client)}")
    val fs = partDir.getFileSystem(conf)
    if (!fs.exists(partDir)) return (0L, 0L)
    def dataFiles(p: Path) = fs.listStatus(p).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val before = dataFiles(partDir).length.toLong
    if (before <= 1) return (before, before)
    val df = spark.read.format("tri").load(partDir.toString)
    val n = df.count()
    val nFiles = math.max(1L, (n + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
    val tmp = new Path(partDir.getParent, s".compact_${partDir.getName}")
    val bak = new Path(partDir.getParent, s".bak_${partDir.getName}")
    fs.delete(tmp, true); fs.delete(bak, true)
    df.repartition(nFiles).write.format("tri")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").save(tmp.toString)
    if (!fs.rename(partDir, bak))
      throw new java.io.IOException(s"compact: cannot stage $partDir")
    if (!fs.rename(tmp, partDir)) {
      fs.rename(bak, partDir) // rollback: the old partition comes back
      throw new java.io.IOException(s"compact: cannot swap in $tmp")
    }
    fs.delete(bak, true)
    (before, dataFiles(partDir).length.toLong)
  }
}
