package graft.io

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The driver's scratch disk. Every query that stages, sinks or caches files
  * on local disk does it under one JVM-scoped root in `java.io.tmpdir`,
  * which one shutdown hook deletes:
  *  - `work/<tag>…` — one directory per query run ([[withWorkDir]]), deleted
  *    on every exit path of the run;
  *  - `cache/<tag>…` — corpus-derived files built once and reused by later
  *    runs in the same JVM ([[cacheDir]], memoized by
  *    [[graft.operators.OpCache.directory]]): staged stream inputs, q33's
  *    pinned `.tri` archive, the auto-built ANN index artifacts.
  * Counting the files under the root therefore counts what a pass leaves
  * behind.
  *
  * Shared-filesystem note: the root is driver-local. That is right for
  * `local` and `local-cluster` masters (one host); a multi-node deployment
  * would point these fixtures at a shared path.
  */
object Scratch {

  private lazy val base: Path = {
    val p = Files.createTempDirectory("graft_scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRoot()))
    p
  }

  /** The JVM's scratch root (created on first use). */
  private[graft] def root: Path = base

  private def workRoot: Path = Files.createDirectories(base.resolve("work"))

  /** Work directories alive right now: empty between query runs. */
  private[graft] def liveWorkDirs: Seq[Path] = {
    val st = Files.list(workRoot)
    try st.iterator.asScala.toList finally st.close()
  }

  /** Runs `body` in a fresh directory `work/<tag>…` and deletes the
    * directory however `body` exits. A result that must outlive the
    * directory has to be materialized inside `body` ([[collected]], or a
    * `localCheckpoint`).
    */
  def withWorkDir[T](tag: String)(body: Path => T): T = {
    val d = Files.createTempDirectory(workRoot, tag)
    try body(d) finally delete(d)
  }

  /** A fresh directory `cache/<tag>…`, for a memo that outlives one run;
    * [[graft.operators.OpCache.directory]] owns and deletes it.
    */
  private[graft] def cacheDir(tag: String): Path =
    Files.createTempDirectory(Files.createDirectories(base.resolve("cache")), tag)

  /** The shutdown hook's body: deletes the root. A later scratch call
    * recreates it.
    */
  private[graft] def deleteRoot(): Unit = delete(base)

  /** Deletes `p` and everything under it. Never traverses through a
    * symlink: staged inputs link to the real corpus, so a link is removed
    * and its target left intact.
    */
  def delete(p: Path): Unit = {
    val f = p.toFile
    if (f.isDirectory && !Files.isSymbolicLink(p))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(c => delete(c.toPath))
    f.delete(): Unit
  }

  /** Makes `at` point at `target`: a symlink, so no data bytes move, or a
    * copy (recursive for a directory) where symlinks are unsupported.
    */
  def link(target: Path, at: Path): Unit =
    try { Files.createSymbolicLink(at, target.toAbsolutePath); () }
    catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        val st = Files.walk(target)
        try st.forEach { p => Files.copy(p, at.resolve(target.relativize(p))); () }
        finally st.close()
    }

  /** `rows` as a one-partition DataFrame. */
  def local(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)

  /** Collects a result whose size is bounded (one row per event type, per
    * user, per shard…) and returns it as a one-partition DataFrame that no
    * longer reads any file, so the work directory under it can be deleted.
    */
  def collected(df: DataFrame): DataFrame =
    local(df.sparkSession, df.collect().toSeq, df.schema)
}
