package graft.operators

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.io.Scratch

/** The engine's one session-memo registry. Every memo — a cached Dataset,
  * a driver-side value (a codebook, a rank table, a built-table marker) or
  * a scratch directory (a staged stream input, an archive, an index
  * artifact) — goes through [[dataset]], [[value]] or [[directory]], under
  * one rule:
  *  - the key is (family, application id, input path, the input's
  *    [[dirStamp]], params), so a new session or a rewritten input misses
  *    and rebuilds instead of serving what the old contents produced;
  *  - each family keeps one live entry: a miss releases the family's
  *    previous entry before the build. Queries that share a family with
  *    different params name the params in the family, so they do not
  *    evict each other;
  *  - each kind has one release: a Dataset is unpersisted, a value is
  *    dropped, a directory is deleted ([[graft.io.Scratch.delete]]).
  *
  * Why a registry at all: the cached frames' build closures capture fresh
  * Broadcast handles, which defeats Spark's plan-identity cache dedup, so a
  * bare per-call `.cache()` would leak one entry per call. Unpersisting a
  * cache an older, still-running query references is safe (Spark
  * recomputes evicted partitions from lineage); a directory memo is only
  * evicted by a call with a different key, and its consumers finish with
  * the directory before the next query runs. [[releaseAll]] drops
  * everything, for session teardown or tests. Which memos exist at all is
  * measured (BENCH_NOTES "Memo audit"), and no memo may cover the
  * computation a registered query exists to measure (OPTIMIZATION_r13.md,
  * "The memo-boundary rule").
  */
private[graft] object OpCache {

  private final case class Entry(key: String, value: Any, isLive: () => Boolean,
                                 release: () => Unit)

  private val live = new java.util.HashMap[String, Entry]()
  private var nBuilds = 0L

  /** Cheap content fingerprint of an input path: regular-file count,
    * total bytes, max mtime (millis). Every memo key carries the stamp of
    * its input, so a MUTATED input — a compaction, a re-generated corpus,
    * an appended partition — misses the memo and rebuilds. The walk is
    * driver-side file listing, the same cost class planners already pay
    * per query; bounded at 100k entries (a corpus dir here is a handful of
    * parquet files). Paths the local filesystem can't resolve (remote
    * URIs) stamp as "unstamped": the caller then guarantees immutability.
    */
  def dirStamp(dir: String): String =
    try {
      val p = java.nio.file.Paths.get(dir)
      if (!Files.exists(p)) "absent"
      else {
        var n = 0L; var bytes = 0L; var maxM = 0L
        val st = Files.walk(p)
        try {
          val it = st.iterator()
          while (it.hasNext && n < 100000) {
            val f = it.next()
            try {
              val a = Files.readAttributes(
                f, classOf[java.nio.file.attribute.BasicFileAttributes])
              if (a.isRegularFile) {
                n += 1; bytes += a.size()
                maxM = math.max(maxM, a.lastModifiedTime().toMillis)
              }
            } catch { case _: java.io.IOException => () } // racing delete
          }
        } finally st.close()
        s"$n:$bytes:$maxM"
      }
    } catch { case scala.util.control.NonFatal(_) => "unstamped" }

  /** `build`, cached (`.cache()`), memoized under the rule above. */
  def dataset[T](family: String, s: SparkSession, dir: String, params: Any = "")
                (build: => Dataset[T]): Dataset[T] =
    memo[Dataset[T]](family, s, dir, params, build.cache(), _ => true, _.unpersist())

  /** A driver-side value memoized under the rule above. */
  def value[T](family: String, s: SparkSession, dir: String, params: Any = "")
              (build: => T): T =
    memo[T](family, s, dir, params, build, _ => true, _ => ())

  /** A scratch directory `cache/<family>…` that `build` fills on a miss
    * (deleted again if `build` throws), memoized under the rule above. A
    * directory deleted under the registry (the scratch root's shutdown
    * hook) counts as a miss.
    */
  def directory(family: String, s: SparkSession, dir: String, params: Any = "")
               (build: Path => Unit): Path =
    memo[Path](family, s, dir, params, {
      val d = Scratch.cacheDir(family)
      try build(d) catch { case e: Throwable => Scratch.delete(d); throw e }
      d
    }, Files.isDirectory(_), Scratch.delete)

  private def memo[T](family: String, s: SparkSession, dir: String, params: Any,
                      build: => T, isLive: T => Boolean, release: T => Unit): T =
    synchronized {
      val key = s"${s.sparkContext.applicationId}|$dir|${dirStamp(dir)}|$params"
      val hit = live.get(family)
      if (hit != null && hit.key == key && hit.isLive()) hit.value.asInstanceOf[T]
      else {
        OpCache.release(family)
        val v = build
        nBuilds += 1
        live.put(family, Entry(key, v, () => isLive(v), () => release(v)))
        v
      }
    }

  /** Releases one family's live entry, if any — for a path that proves
    * the memo will never be read (an empty corpus), so a later call
    * rebuilds instead of hitting an unpersisted Dataset.
    */
  def release(family: String): Unit = synchronized {
    Option(live.remove(family)).foreach { e =>
      try e.release()
      catch { case scala.util.control.NonFatal(_) => () } // stopped old session
    }
  }

  /** Releases every live entry. */
  def releaseAll(): Unit = synchronized {
    new java.util.ArrayList(live.keySet).forEach(f => release(f))
  }

  /** Families holding a live entry (one entry each), sorted. */
  private[graft] def liveFamilies: Seq[String] = synchronized {
    import scala.jdk.CollectionConverters._
    live.keySet.asScala.toList.sorted
  }

  /** Memos built since the JVM started: a pass that adds none reused
    * every memo it touched. */
  private[graft] def builds: Long = synchronized(nBuilds)
}
