package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.Tables.{rawEventTsLit, withEventTs}
import graft.io.Scratch
import graft.operators.OpCache
import graft.sources.Archive

/** Streaming operator surface beyond the reference (which is
  * processing-time only — `/root/reference/triton/store.go:109`): event-time
  * windows with watermarks, session windows, and custom keyed state via
  * `flatMapGroupsWithState` — plus the flagship store pipeline
  * (stream → date-partitioned `.tri` archive with checkpointed offsets).
  */
object StreamOps {

  /** How a streaming lifecycle's state is laid out: its state-partition
    * count, whether its trailing no-data micro-batch runs, and its state
    * store. Each lifecycle declares one at its [[drain]], which sets the
    * matching confs from `start()` through `awaitTermination()` only.
    *
    * State partitions: a streaming query takes its STATE partition count
    * from `spark.sql.shuffle.partitions` at its first checkpoint, and
    * unlike a batch shuffle AQE never coalesces it: every micro-batch pays
    * one state-store open/commit/snapshot per partition per stateful
    * operator. These replay lifecycles carry at most ~1M keys, where 32
    * partitions are pure fixed cost (measured 32 → 8: q92 9.7 → 4.5 s,
    * q96 9.7 → 4.4, q159 5.3 → 3.4 at sf0.1; then 8 → 2 in the round-11
    * per-phase profile: q92 state_ms 9100 → 1100, wall 3.0 → 2.4; q96
    * 3.5 → 2.7; q159 3.3 → 3.0; q179 3.9 → 3.5, with 4 in between; BENCH_NOTES
    * "Round-11: the streaming fixed-cost profile"). Batch stages outside
    * the drain (the sink read-back, q59's exact-verify tail) run at the
    * session's own count and coalesce under AQE.
    *
    * No-data batches (`onArrival`): operators that emit ON ARRIVAL (inner
    * stream-stream join, `dropDuplicatesWithinWatermark`, Complete-mode
    * aggregation, TimeMode.None `transformWithState`,
    * flatMapGroupsWithState emitting in handleInput) run a trailing
    * no-data micro-batch that only EVICTS state the one-shot replay is
    * about to discard, at one full batch cycle of cost (measured: q92
    * 2.86 → 2.07 s, the final batch's state commit is the whole
    * difference; output identical, same oracle row). NEVER for
    * Append-mode window, session or outer-join queries: eviction IS their
    * emission (q47/q72/q96/q159/q179).
    *
    * State store (`rocksDb`): the provider conf is read at query start, so
    * only the lifecycles that ask for RocksDB get it (q91's and q159's
    * `transformWithState` needs it); the rest keep the default in-memory
    * store, the measured winner at the suite's state sizes (the
    * state-store probe in BENCH_NOTES).
    */
  sealed trait StateShape
  object StateShape {
    /** No state store: foreachBatch routers, merges and upserts
      * (q83/q111/q130/q167). 2 partitions, for the batch jobs each
      * micro-batch runs.
      */
    case object Stateless extends StateShape

    /** GRID-BOUNDED state (hour × type windows, segment rollups:
      * q43/q47/q119/q179): it never outgrows the grid, so extra partitions
      * are pure commit overhead at EVERY scale (measured: q179 6.7 s at 2
      * partitions vs 11.0 s at 32, sf10, median of 3). 2 partitions.
      */
    final case class Grid(onArrival: Boolean = false) extends StateShape

    /** ROW-KEYED state (per-user sessions and counts, join buffers, dedup
      * keys: q59/q72/q91/q92/q96/q104/q159) grows with the data, so its
      * partitions follow the size of `source` ([[statePartitionsFor]]),
      * never below `floor`.
      */
    final case class RowKeyed(source: String, floor: Int = 2, onArrival: Boolean = false,
                              rocksDb: Boolean = false) extends StateShape
  }

  /** Where a [[drain]] writes, and what it hands back. */
  sealed trait Sink[T] {
    private[streaming] def attach(w: DataStreamWriter[Row], work: Path, view: String): DataStreamWriter[Row]
    private[streaming] def readBack(s: SparkSession, work: Path, view: String, schema: StructType): T
  }
  object Sink {
    /** A parquet file sink at `work/out`, read back (lazily, with the
      * stream's own schema, so an empty sink reads as no rows).
      */
    case object Files extends Sink[DataFrame] {
      private[streaming] def attach(w: DataStreamWriter[Row], work: Path, view: String) =
        w.format("parquet").option("path", work.resolve("out").toString)
      private[streaming] def readBack(s: SparkSession, work: Path, view: String, schema: StructType) =
        s.read.schema(schema).parquet(work.resolve("out").toString)
    }

    /** A memory sink, read back collected (its rows must be bounded); the
      * drain drops its view on every exit path.
      */
    case object Memory extends Sink[DataFrame] {
      private[streaming] def attach(w: DataStreamWriter[Row], work: Path, view: String) =
        w.format("memory").queryName(view)
      private[streaming] def readBack(s: SparkSession, work: Path, view: String, schema: StructType) =
        Scratch.collected(s.table(view))
    }

    /** `foreachBatch(f)`: the lifecycle keeps its own result. */
    final case class Batches(f: (DataFrame, Long) => Unit) extends Sink[Unit] {
      private[streaming] def attach(w: DataStreamWriter[Row], work: Path, view: String) =
        w.foreachBatch((b: DataFrame, id: Long) => f(b, id))
      private[streaming] def readBack(s: SparkSession, work: Path, view: String, schema: StructType) = ()
    }
  }

  /** The one AvailableNow drain every replay lifecycle runs: `out` is
    * written to `sink` under `mode`, checkpointed at `work/ckpt`, started
    * and awaited with `shape`'s confs set, and read back. The confs are
    * restored, the query stopped and a memory sink's view dropped on every
    * exit path, so a failed drain leaves the session as it found it.
    */
  private[graft] def drain[T](shape: StateShape, work: Path, out: DataFrame, sink: Sink[T],
                              mode: OutputMode = OutputMode.Append): T = {
    val s = out.sparkSession
    val view = s"drain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val writer = sink.attach(out.writeStream.outputMode(mode)
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()), work, view)
    try {
      withConfs(s, shapeConfs(s, shape)) {
        val q = writer.start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
      }
      sink.readBack(s, work, view, out.schema)
    } finally { s.catalog.dropTempView(view); () }
  }

  private def shapeConfs(s: SparkSession, shape: StateShape): Seq[(String, String)] = {
    def partitions(n: Int) = "spark.sql.shuffle.partitions" -> n.toString
    def noData(onArrival: Boolean) =
      if (onArrival) Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false") else Nil
    shape match {
      case StateShape.Stateless => Seq(partitions(2))
      case StateShape.Grid(onArrival) => partitions(2) +: noData(onArrival)
      case StateShape.RowKeyed(source, floor, onArrival, rocksDb) =>
        Seq(partitions(math.max(floor, statePartitionsFor(s, source)))) ++ noData(onArrival) ++
          (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          else Nil)
    }
  }

  /** Runs `body` with `confs` set, then puts back each one's previous value
    * (unsetting one that had none).
    */
  private def withConfs[T](s: SparkSession, confs: Seq[(String, String)])(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** State partitions sized to the SOURCE VOLUME — the production rule
    * ("size state partitions to key cardinality") made executable, using
    * the source table's bytes as the cardinality proxy (one filesystem
    * metadata call, no job). Fixed constants fail in one direction or
    * the other — 2 partitions win at the sf0.1 replay (state commit is
    * pure fixed cost) but SERIALIZE multi-million-row state at sf10
    * (measured: q72 15.6 s at 8 parts in round 10 → 43.6 s at 2 parts →
    * 10.9 s sized; q92 23.1 → 7.0, q96 31.4 → 12.8, q104 14.3 → 7.8),
    * while 32 partitions tax every small replay ~0.5-1 s/query. One
    * partition per ~4 MB of source, clamped to [2, cores]: sf0.1 → 2,
    * sf1 → 6, sf10 → 32. Only [[StateShape.RowKeyed]] lifecycles use it.
    */
  private[graft] def statePartitionsFor(s: SparkSession, source: String): Int = {
    val p = new org.apache.hadoop.fs.Path(source)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    val bytes =
      try { if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L }
      catch { case _: java.io.IOException => 0L }
    val cores = math.max(2, s.sparkContext.defaultParallelism)
    math.max(2L, math.min(cores.toLong, bytes / (4L << 20) + 1L)).toInt
  }

  /** The reference's `store` pipeline (`/root/reference/triton.go:90-137`)
    * as one Structured Streaming query: micro-batches append to the
    * date/client-partitioned `.tri` archive, and Spark writes `commits/N`
    * to the checkpoint only after the batch's files are durable (the
    * engine's version of checkpoint-after-upload,
    * the reference's `triton/store.go:51-67`). Like the reference, this is
    * at-least-once, not exactly-once: `foreachBatch` ignores the batch id
    * and appends, so a crash after the archive's job commit but before
    * `commits/N` makes the restart replay batch N and archive every one of
    * its records a second time. Making the batch write idempotent is
    * ROADMAP direction 1 ("Exactly-once archive store across restarts").
    *
    * The source partitions a batch by shard, so a plain `Archive.store`
    * would write one file per (shard, date). Each batch is rebalanced by
    * `date` instead (Spark's `REBALANCE` hint, planned by AQE inside
    * `foreachBatch`), so it writes one file per (date, client) — the
    * reference writes one file per rotation, not one per worker
    * (`store.go:106-171`) — and AQE still splits a date larger than
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` into several files.
    * The hint takes column references only, so the date is computed once,
    * before the shuffle. (BENCH_NOTES "Store drains write one file per date")
    *
    * The batch is written through the session that started the store, not
    * the per-start clone Spark hands to `foreachBatch`: AQE's stage thread
    * pools create a thread per stage, and each new thread inherits the
    * submitting thread's active session and keeps it for its 60 s idle
    * life. Under the clone, every drain pinned its own cloned session
    * that way (about 0.25 MB each, hundreds at a few drains a second).
    */
  def startStore(events: DataFrame, root: String, client: String,
                 checkpointLocation: String): StreamingQuery = {
    val owner = events.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    events.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointLocation)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = GraftSqlBridge.ofRows(owner, batch.queryExecution.logical)
        Archive.writePartitioned(
          Archive.withPartitionColumns(rows, client).hint("rebalance", col("date")), root)
      }
      .start()
  }

  /** Watermarked tumbling event-time window counts — late data beyond the
    * watermark is dropped instead of landing in the wrong hour file
    * (the reference's known late-data flaw, `README.md:53-56`).
    */
  def tumblingCounts(events: DataFrame, watermark: String = "10 minutes",
                     window_ : String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Event-time session windows with a watermark (streaming form of
    * `EventOps.sessionWindowNative`).
    */
  def sessionCounts(events: DataFrame, watermark: String = "30 minutes",
                    gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_in_session"))
      .select(col("user_id"), col("session_window.start").as("session_start"), col("n_in_session"))

  /** Streaming exact dedup: duplicates of an id arriving within the
    * watermark window are dropped with bounded state —
    * `dropDuplicatesWithinWatermark` expires each key once the watermark
    * passes it, so state never grows with the stream (plain
    * `dropDuplicates` on a stream retains every key forever). The live
    * form of the batch `TextDedup.exactDedup` stage.
    */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** [[dedupStream]] under the driver's batch oracle (q104): the input is
    * the events slice with every `event_id % 7 == 0` row DOUBLED, so the
    * stream's one job is collapsing the injected duplicates —
    * `dropDuplicatesWithinWatermark` holds each key only until the
    * watermark passes it (bounded state at any stream length, unlike
    * stream `dropDuplicates`, which retains every key forever). Deduped
    * rows land in a parquet FILE sink (the scalable path — no
    * driver-side collect of row data anywhere); the per-type report read
    * back from it must hash-match the ORIGINAL parquet's groupBy,
    * because a duplicate that survived, or a real row dropped with it,
    * shifts a count or a sum.
    */
  def streamDedupWithinWatermark(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    Scratch.withWorkDir("q104_dedup") { work =>
      // stage the original corpus by SYMLINK (zero data bytes move) and
      // WRITE only the injected-duplicate slice (1/7 of the corpus) next
      // to it — the previous shape wrote original+duplicates (8/7 of the
      // corpus) through parquet per run, pure staging fixed cost. The
      // stream sees the identical row multiset (original ∪ mod-7 slice),
      // so the deduped sink and its per-type report are unchanged; all
      // files land in the one AvailableNow data batch (no
      // maxFilesPerTrigger), so batch composition cannot shift either.
      // the duplicate slice is a pure function of the corpus: build it
      // once per (session, corpus stamp) and symlink it into each run's
      // work dir — the per-pass slice WRITE was staging fixed cost
      val dupStaged = OpCache.directory("q104dup", s, s"$dir/events.parquet") { p =>
        raw.where($"event_id" % 7 === 0).write.parquet(p.resolve("d").toString)
        val st = java.nio.file.Files.list(p.resolve("d"))
        try {
          val it = st.iterator(); var i = 0
          while (it.hasNext) {
            val f = it.next()
            if (f.getFileName.toString.endsWith(".parquet")) {
              java.nio.file.Files.move(f, p.resolve(f"dup_$i%03d.parquet"))
              i += 1
            }
          }
        } finally st.close()
        Scratch.delete(p.resolve("d"))
      }
      val stream = stagedEvents(s, dir, work, raw, dupStaged)
        .select($"event_id", $"ts", $"user_id", $"event_type")
      val deduped = stream
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")
      val report = drain(StateShape.RowKeyed(s"$dir/events.parquet", onArrival = true),
          work, deduped, Sink.Files)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_user"),
          max(unix_micros($"ts")).as("max_ts_us"))
      Scratch.collected(report) // bounded: one row per event type
        .orderBy($"event_type")
    }
  }

  /** Incremental materialized-view maintenance (q111): the rollup every
    * serving layer keeps warm, maintained ACROSS REAL MICRO-BATCHES
    * instead of recomputed — the source is split into 4 files and
    * `maxFilesPerTrigger=1` forces a genuine multi-batch run (unlike the
    * single-AvailableNow-batch harness queries), so the merge logic is
    * exercised where it matters. Each `foreachBatch` aggregates its
    * batch, merges into the previous view version with a sum-combine
    * (commutative, so file arrival order can't change the result), and
    * writes a batch-id-VERSIONED directory — a replayed batch overwrites
    * its own version instead of double-counting, the same exactly-once
    * discipline as the q83 router. The final view must hash-match the
    * one-shot batch rollup of the original parquet ([[versionedSumMerge]]).
    */
  def incrementalViewMaintenance(s: SparkSession, dir: String): DataFrame =
    incrementalViewMaintenanceCounted(s, dir)._1

  /** [[incrementalViewMaintenance]] plus the number of micro-batches that
    * actually ran — the spec pins it > 1, otherwise the merge path this
    * operator exists for would be dead code under a single-batch run.
    */
  private[graft] def incrementalViewMaintenanceCounted(
      s: SparkSession, dir: String): (DataFrame, Int) = {
    import s.implicits._
    val ev = graft.Tables.events(s, dir)
      .select($"ts", $"event_type", $"user_id")
    Scratch.withWorkDir("q111_view") { work =>
      // 2 files = 2 micro-batches: the spec's pinned minimum (> 1) that
      // still exercises the cross-batch merge; each extra batch is pure
      // source-listing + offset-log + parquet-version fixed cost. The
      // 2-file form is a pure function of the corpus — built once per
      // (session, corpus stamp) and symlinked per run; the per-pass
      // repartition WRITE was a corpus-sized staging job every pass
      // (order between the two batches is irrelevant: the merge is a
      // commutative sum-combine, as the spec pins)
      val staged = OpCache.directory("q111src", s, s"$dir/events.parquet") { p =>
        // overwrite: the memo pre-creates the (empty) target directory
        ev.repartition(2).write.mode("overwrite").parquet(p.toString)
      }
      val (view, nBatches) = versionedSumMerge(s, work, staged, "event_type") {
        _.groupBy("event_type").agg(count(lit(1)).as("n"), sum("user_id").as("sum_user"))
      }
      // bounded: one row per event type
      (Scratch.collected(view.select($"event_type", $"n", $"sum_user")).orderBy($"event_type"),
        nBatches)
    }
  }

  /** Drains the staged files `staged` one file per micro-batch through a
    * versioned sum-merge (q111, q130): each batch's `partial` rollup is
    * unioned with the previous version, summed by `keys`, and written to
    * its own `work/view/v<batch id>` directory, so a replayed batch
    * overwrites its own version instead of double-counting. The sum is
    * commutative, so file arrival order cannot change the result. Returns
    * the final version (read lazily from the work dir) and the number of
    * micro-batches that ran.
    *
    * The in-memory current-version pointer is harness-local; production
    * would commit it to a catalog or manifest inside the same transaction
    * as the version write (the q84 rename-swap shows that shape).
    */
  private def versionedSumMerge(s: SparkSession, work: Path, staged: Path, keys: String*)(
      partial: DataFrame => DataFrame): (DataFrame, Int) = {
    val src = java.nio.file.Files.createDirectories(work.resolve("src"))
    linkInto(staged, src)
    val stream = s.readStream.schema(s.read.parquet(src.toString).schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    @volatile var current: Option[String] = None
    val nBatches = new java.util.concurrent.atomic.AtomicInteger(0)
    drain(StateShape.Stateless, work, stream, Sink.Batches { (batch, id) =>
      val part = partial(batch)
      val sums = part.columns.filterNot(keys.contains).map(c => sum(c).as(c)).toSeq
      val merged = current.fold(part) { prev =>
        s.read.parquet(prev).unionByName(part)
          .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
      }
      val out = work.resolve("view").resolve(s"v$id").toString
      merged.write.mode("overwrite").parquet(out)
      current = Some(out)
      nBatches.incrementAndGet(); ()
    })
    (s.read.parquet(current.getOrElse(sys.error(s"$work: the stream produced no batches"))),
      nBatches.get())
  }

  /** Stream-STATIC join under the batch oracle (q119): the enrichment
    * join every ingest runs — events stream against the customer
    * dimension (static side re-read per micro-batch, so a slowly-changing
    * dimension is picked up on file change; no state store involved,
    * unlike the q92/q96 stream-stream forms). Spark broadcasts the
    * dimension side per batch while it fits — the same plan a batch
    * enrichment gets. The inner join drops events whose user has no
    * customer row (the q90 soft-edge orphans) — deterministically, which
    * is what lets the batch oracle replay it. Per-segment rollup through
    * a memory sink; the collect is segments-bounded.
    */
  def streamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val raw = s.read.parquet(path)
    val stream = withEventTs(s.readStream.schema(raw.schema).parquet(s"$dir/[e]vents.parquet"))
    val dim = graft.Tables.table(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment")
    val bySegment = stream
      .select($"user_id", floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .join(dim, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sum_cents"))
    Scratch.withWorkDir("q119_enrich") { work =>
      drain(StateShape.Grid(), work, bySegment, Sink.Memory, OutputMode.Complete)
        .select($"c_mktsegment", $"n", $"sum_cents")
        .orderBy($"c_mktsegment")
    }
  }

  /** Exactly-once streaming upsert into a JDBC store (q167): the
    * foreachBatch MERGE pattern every production pipeline uses to land
    * micro-batch rollups in an OLTP table — Spark's offset log guarantees
    * each batch is DELIVERED at least once, and a batch-id ledger row,
    * committed in the SAME transaction as the data, upgrades that to
    * exactly-once (the transactional twin of C3's commit-after-durable
    * and the reference's select-then-upsert checkpoint txn,
    * `/root/reference/triton/checkpoint.go:27-78`). The registered query
    * then REPLAYS batch 0 against the finished table — the duplicate
    * ledger key makes it a no-op; if the ledger failed, every count
    * doubles and the batch oracle catches it. Embedded Derby stands in
    * for the warehouse exactly as it does for C1.
    *
    * Scale shape: per-batch work collapses to an event_type-bounded
    * rollup before any row touches JDBC, so the OLTP side sees O(types)
    * upserts per batch regardless of stream volume.
    */
  def streamJdbcUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    val dbName = s"upsert${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val conn = java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;create=true")
    def ddl(sql: String): Unit = {
      val st = conn.createStatement()
      try st.executeUpdate(sql)
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      finally st.close()
    }
    ddl("""CREATE TABLE graft_rollup (
          |  event_type VARCHAR(64) NOT NULL PRIMARY KEY,
          |  n BIGINT NOT NULL, sum_cents BIGINT NOT NULL)""".stripMargin)
    ddl("CREATE TABLE graft_applied (batch_id BIGINT NOT NULL PRIMARY KEY)")
    /** Apply one micro-batch transactionally; false = ledger says the
      * batch already landed (the at-least-once duplicate), nothing
      * written.
      */
    def applyBatch(batch: DataFrame, id: Long): Boolean = {
      conn.synchronized {
        val auto = conn.getAutoCommit
        conn.setAutoCommit(false)
        try {
          val led = conn.prepareStatement("INSERT INTO graft_applied VALUES (?)")
          led.setLong(1, id)
          val freshBatch =
            try { led.executeUpdate(); true }
            catch {
              case e: java.sql.SQLException if e.getSQLState == "23505" => false
            }
          led.close()
          if (!freshBatch) { conn.rollback(); false }
          else {
            // aggregate only AFTER the ledger accepts the batch id
            // (guide §1.2: don't compute what you throw away) — the
            // at-least-once replay path used to pay this full
            // aggregation job just to discard it on the duplicate-key
            // rollback. A collect failure mid-txn rolls the ledger
            // insert back with it, so the reorder cannot strand an id.
            val rows = batch
              .select(col("event_type"),
                floor(col("value") * 100 + 0.5).cast("long").as("cents"))
              .groupBy(col("event_type"))
              .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
              .collect() // event_type-bounded
            rows.foreach { r =>
              val (et, n, sc) = (r.getString(0), r.getLong(1), r.getLong(2))
              val up = conn.prepareStatement(
                "UPDATE graft_rollup SET n = n + ?, sum_cents = sum_cents + ? WHERE event_type = ?")
              up.setLong(1, n); up.setLong(2, sc); up.setString(3, et)
              if (up.executeUpdate() == 0) {
                val ins = conn.prepareStatement("INSERT INTO graft_rollup VALUES (?, ?, ?)")
                ins.setString(1, et); ins.setLong(2, n); ins.setLong(3, sc)
                ins.executeUpdate(); ins.close()
              }
              up.close()
            }
            conn.commit()
            true
          }
        } catch { case e: Throwable => conn.rollback(); throw e }
        finally conn.setAutoCommit(auto)
      }
    }
    try {
      val stream = s.readStream.schema(raw.schema).parquet(s"$dir/[e]vents.parquet")
      Scratch.withWorkDir("q167_upsert") { work =>
        drain(StateShape.Stateless, work, stream, Sink.Batches { (b, id) => applyBatch(b, id); () })
      }
      // at-least-once poison: replay the whole source as batch 0 — the
      // ledger must reject it or the oracle sees doubled counts
      require(!applyBatch(raw, 0L), "q167: ledger accepted a replayed batch id")
      val st = conn.createStatement()
      val rs = st.executeQuery(
        "SELECT event_type, n, sum_cents FROM graft_rollup ORDER BY event_type")
      val out = Iterator.continually(rs)
        .takeWhile(_.next())
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .toList
      rs.close(); st.close()
      out.toDF("event_type", "n", "sum_cents").coalesce(1)
        .orderBy($"event_type")
    } finally {
      conn.close()
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$dbName;drop=true")
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    }
  }

  /** Streaming near-duplicate detection during ingest: each arriving
    * document computes the same 32-hash minhash signature as the batch
    * detector (`TextDedup.minhashLshPairs` — shared seeds, so estimates
    * agree across surfaces), explodes to its 8 LSH band keys, and keyed
    * state per (band, key) holds the signatures seen there. A new
    * document is compared only against its band-mates — the banding bar
    * is identical to the batch plan — and a pair is emitted when the
    * signature-estimated Jaccard (fraction of agreeing minhashes, the
    * unbiased estimator) clears the threshold.
    *
    * State is bounded: each band bucket expires once the event-time
    * watermark passes its TTL, so the tables never grow with the stream —
    * the live form of batch LSH dedup, for dropping near-dups at ingest
    * instead of in a nightly pass. A pair agreeing on several bands emits
    * once per band; run `dropDuplicates("doc_a","doc_b")` downstream
    * (kept out of here so Append output stays stateless past this
    * operator). `docs` needs (doc_id, ts, text) columns.
    */
  def nearDupStream(s: SparkSession, docs: DataFrame,
                    threshold: Double = 0.8,
                    watermarkDelay: String = "10 minutes",
                    stateTtlMs: Long = 600000L,
                    maxPerBucket: Int = 1 << 16,
                    overflowCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[(Long, Long, Double)] = {
    import s.implicits._
    import graft.operators.TextDedup
    // band first, watermark after: the object-level kernel would strip
    // the event-time attribute, so `ts` rides through the tuples and the
    // watermark attaches directly under the stateful grouping
    val banded = docs
      .select(col("doc_id"), col("ts"), col("text"))
      .as[(Long, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, eventTs, text) =>
          val sig = TextDedup.minhashSignatureFromText(md, text)
          (0 until 8).iterator.map { b =>
            (b, s"${sig(b * 4)},${sig(b * 4 + 1)},${sig(b * 4 + 2)},${sig(b * 4 + 3)}", id, sig, eventTs)
          }
        }
      }
      .toDF("band", "bkey", "doc_id", "sig", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Int, String, Long, Array[Long], java.sql.Timestamp)]
    // NOTE state-schema evolution: the state class changed List -> Map in
    // round 3; a checkpoint written by the List-state build cannot restore
    // into this one (Spark state encoders are schema-bound) — restarting
    // an old query requires a fresh checkpoint, as with any
    // flatMapGroupsWithState state-type change
    banded.groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[Map[Long, Array[Long]], (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[Map[Long, Array[Long]]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // doc_id-keyed map: O(1) membership per arrival — a hot band
            // bucket (skewed near-dup cluster) made the old linear-list
            // `exists` quadratic within a TTL window. The signature compare
            // against all band-mates IS the operator's work and stays O(n).
            var seen = state.getOption.getOrElse(Map.empty[Long, Array[Long]])
            val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
            var maxTs = Long.MinValue
            rows.toSeq.sortBy(_._3).foreach { case (_, _, id, sig, eventTs) =>
              if (eventTs.getTime > maxTs) maxTs = eventTs.getTime
              if (!seen.contains(id)) { // re-delivery within the bucket: no self-pairs
                seen.foreach { case (oid, osig) =>
                  var eq = 0; var i = 0
                  while (i < 32) { if (sig(i) == osig(i)) eq += 1; i += 1 }
                  val est = eq / 32.0
                  if (est >= threshold)
                    out += ((math.min(id, oid), math.max(id, oid), est))
                }
                // cap pathological buckets: an overflow doc still pairs
                // against current members (emitted above) but does not
                // join the bucket, so state per key is hard-bounded —
                // pairs among two overflow docs in the same TTL window
                // are the documented loss, COUNTED so callers whose
                // contract depends on completeness can fail fast
                if (seen.size < maxPerBucket) seen = seen.updated(id, sig)
                else overflowCounter.foreach(_.add(1L))
              }
            }
            state.update(seen)
            // the bucket dies TTL past its newest EVENT time (not the
            // current watermark, which is still epoch-zero on batch 0);
            // clamp above the watermark as the engine requires
            state.setTimeoutTimestamp(
              math.max(maxTs + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Stream/batch agreement under the correctness gate: the hourly
    * (window, event_type) counts computed by a REAL Structured Streaming
    * query — `readStream` over the events parquet, watermark, tumbling
    * event-time window, `Trigger.AvailableNow` — must equal the plain
    * batch GROUP BY the DuckDB oracle runs. Complete+memory here is the
    * harness-convenience shape (every window stays in the result without
    * a drain step); [[hourlyCountsStreamedAppend]] (q47) runs the SAME
    * rollup in the production shape — Append mode, file sink, bounded
    * state — under the same oracle.
    *
    * The collect is bounded: one row per (hour, event_type) — at 100 TB
    * this is the shape of a streaming rollup's sink table, not the data.
    */
  def hourlyCountsStreamed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"$dir/events.parquet"
    val raw = s.read.parquet(path)
    // the file source derives its base directory from the non-glob prefix,
    // so the single file is addressed via a glob (a literal file path makes
    // the source treat the file itself as basePath and reject it); the
    // [e] character class matches ONLY events.parquet — the batch/oracle
    // side's exact input — not e.g. an events_backup.parquet sibling
    val stream = withEventTs(s.readStream.schema(raw.schema).parquet(s"$dir/[e]vents.parquet"))
    Scratch.withWorkDir("q43_hourly") { work =>
      drain(StateShape.Grid(onArrival = true), work, tumblingCounts(stream), Sink.Memory,
          OutputMode.Complete)
        .select(unix_seconds(col("window_start")).as("window_epoch"), col("event_type"), col("n"))
        .orderBy($"window_epoch", $"event_type")
    }
  }

  /** The PRODUCTION shape of [[hourlyCountsStreamed]], under the same
    * oracle (q47): `OutputMode.Append` into a parquet FILE SINK — each
    * window row is emitted exactly once, when the watermark passes it, and
    * leaves state; state size is bounded by the windows inside the
    * watermark horizon however long the stream runs (Complete mode's
    * keep-every-window-forever is a harness convenience, not deployable).
    *
    * Append's emission rule means the final windows — within the watermark
    * delay of the newest event — would stay in state when the input is
    * finite. A SENTINEL event (`__sentinel` type, 2 h past the max event
    * time, written next to a copy of the input inside the work dir) pushes
    * the watermark past every real window so the run drains completely;
    * its own window is filtered out of the result. This is the standard
    * drain pattern for proving a finite prefix of an infinite stream.
    *
    * The collect is bounded: one row per (hour, event_type).
    */
  def hourlyCountsStreamedAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    Scratch.withWorkDir("q47_append") { work =>
      // sentinel: event time 2 h past max — far beyond the last real
      // window end + the 10 min watermark delay
      val sent = sentinels(s, dir, raw, "q47sent")(
        Sentinel("sentinel", 2 * HourUs, Map("event_type" -> "__sentinel")))
      val stream = stagedEvents(s, dir, work, raw, sent)
      Scratch.collected(drain(StateShape.Grid(), work, tumblingCounts(stream), Sink.Files)
          .where(col("event_type") =!= "__sentinel")
          .select(unix_seconds(col("window_start")).as("window_epoch"), col("event_type"), col("n")))
        .orderBy($"window_epoch", $"event_type")
    }
  }

  /** Streaming SESSION windows under the BATCH oracle (q72 — the q47
    * drain pattern applied to [[sessionCounts]]): a real Structured
    * Streaming run — `readStream`, 30 min watermark, native
    * `session_window` state, `OutputMode.Append` into a parquet file
    * sink, `Trigger.AvailableNow` — emits one row per CLOSED session;
    * the tiny batch rollup over the sink (one row per session) must then
    * equal `EventOps.sessionWindowNative`'s per-user (n_sessions,
    * n_events) under the same DuckDB oracle as q32/q15. This proves the
    * production session-state surface (merge-on-arrival, emit-on-
    * watermark, state leaves on close) against batch truth — q32 proves
    * only the batch form.
    *
    * Drain: one sentinel event (user_id -1, 2 h past max event time)
    * pushes the watermark past every real session end + gap; its own
    * session is filtered from the sink. State is bounded by the open
    * sessions inside the watermark horizon however long the stream runs.
    */
  def sessionizeStreamed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    Scratch.withWorkDir("q72_sessions") { work =>
      val sent = sentinels(s, dir, raw, "q72sent")(
        Sentinel("sentinel", 2 * HourUs, Map("user_id" -> -1L)))
      val stream = stagedEvents(s, dir, work, raw, sent)
      // the sink holds one row per closed session — per-user rollup is a
      // tiny batch aggregate over it, same shape as q32's second groupBy
      Scratch.collected(drain(StateShape.RowKeyed(s"$dir/events.parquet"), work,
            sessionCounts(stream), Sink.Files)
          .where(col("user_id") =!= -1L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n_in_session")).as("n_events")))
        .orderBy($"user_id")
    }
  }

  /** The streaming near-dup detector under the BATCH oracle (q59 — the
    * q47 pattern applied to dedup): a REAL Structured Streaming run of
    * [[nearDupStream]] over the documents table (`readStream`, event-time
    * watermark, keyed band state, `Trigger.AvailableNow`, parquet file
    * sink) generates the candidate pairs, and the SAME exact-verify +
    * decision tail as the batch screen (`TextDedup.decideIncoming`) turns
    * them into per-incoming-doc decisions.
    *
    * Threshold 0 at the detector makes its emission rule exactly "shares
    * >= 1 band bucket" — the batch screen's candidate bar — so the
    * decisions must HASH-EQUAL q56's batch run on the same split (one
    * shared DuckDB oracle), which is the whole point: the stateful
    * streaming surface is proven against the same truth as the batch
    * plan, not just unit-asserted. In production the detector keeps its
    * real threshold and drops at ingest; here it feeds the verifier.
    * `detectorThreshold` exposes that production mode: at 0.8 the
    * estimator (32-sig agreement fraction) prunes candidates BEFORE the
    * exact verify, so the decisions are no longer oracle-equal by
    * construction — `StreamOpsSpec` measures and pins the keep-decision
    * agreement rate against the batch screen at the same threshold.
    *
    * The file sink keeps candidate volume off the driver (band-collision
    * pairs can be corpus-scale), and the decisions are materialized via
    * `localCheckpoint` — NOT collected: one decision per incoming doc is
    * corpus-proportional, exactly the driver bottleneck to avoid —
    * before the work dir is deleted out from under the lazy plan.
    */
  def incrementalDedupStreamed(s: SparkSession, dir: String, threshold: Double = 0.8,
                               mod: Long = 10, rem: Long = 7,
                               detectorThreshold: Double = 0.0): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/documents.parquet")
    // [d] glob: same single-file addressing trick as q43/q47
    val stream = s.readStream.schema(raw.schema).parquet(s"$dir/[d]ocuments.parquet")
      // the table carries no event time; a CONSTANT synthetic ts drives
      // the watermark machinery, and constancy is load-bearing: however
      // the source splits into micro-batches, the watermark (ts - delay)
      // can never pass any bucket's timeout (ts + ttl), so no band state
      // expires mid-run and every co-bucket pair is emitted — the
      // detector's TTL semantics are exercised separately by its spec
      .withColumn("ts", timestamp_seconds(lit(1700000000L)))
      .select(col("doc_id"), col("ts"), col("text"))
    // the work dir holds a corpus-scale candidate sink + checkpoint; the
    // decisions are materialized via localCheckpoint before it goes
    Scratch.withWorkDir("q59_stream") { work =>
    // the hash-equality contract with the batch screen holds only if NO
    // band bucket hits the detector's state cap (overflow docs stop
    // joining buckets and their mutual pairs are silently dropped — the
    // documented production trade, but here it would silently diverge
    // from the oracle). Count overflow and fail fast instead.
    val overflow = s.sparkContext.longAccumulator("q59_bucket_overflow")
    // leaner candidate sink (round 13, guide §2.3/§6): only CROSSING
    // pairs reach the file sink — the stateless in-stream filter drops
    // the ~81% corpus×corpus and incoming×incoming band collisions the
    // verify tail discarded after reading them back — and the unused
    // `est` column (decisions come from decideIncoming's EXACT verify,
    // never the stream estimate) stops being written at all. The
    // detector still emits every pair (its state machinery is
    // untouched); only the sink bytes shrink, and the decisions are
    // byte-identical because the tail's own where() was the same
    // predicate.
    val inA = col("doc_a") % mod === rem
    val inB = col("doc_b") % mod === rem
    val crossing = nearDupStream(s, stream, threshold = detectorThreshold,
        overflowCounter = Some(overflow))
      .toDF("doc_a", "doc_b", "est")
      .where(inA =!= inB)
      .select(col("doc_a"), col("doc_b"))
    // floor 8: the state layout q59 is measured at; the floor was set for
    // the exact-verify tail below, which runs outside the drain at the
    // session's count (ROADMAP direction 5 asks whether the state needs it)
    val sunk = drain(StateShape.RowKeyed(s"$dir/documents.parquet", floor = 8, onArrival = true),
      work, crossing, Sink.Files)
    require(overflow.value == 0L,
      s"incrementalDedupStreamed: ${overflow.value} docs overflowed a band bucket " +
      s"(cap ${1 << 16}) — the streamed decisions would NOT equal the batch screen; " +
      "raise maxPerBucket or run the batch incrementalDedup for this corpus")
    // orient the crossing pairs (incoming, corpus) — the detector
    // normalizes to (min, max) and may emit a pair once per agreeing band
    val cand = sunk
      .select(when(inA, col("doc_a")).otherwise(col("doc_b")).as("doc_a"),
        when(inA, col("doc_b")).otherwise(col("doc_a")).as("doc_b"))
      .distinct()
    // eager localCheckpoint: decisions materialize to executor blocks and
    // the lineage (which reads the temp sink files) is truncated, so the
    // work dir can be deleted; rows never funnel through the driver
    graft.operators.TextDedup
      .decideIncoming(s, dir, cand, threshold, mod, rem)
      .localCheckpoint(true)
    }
  }

  /** Streaming quality-gate ROUTER (q83): q79's rule battery applied at
    * corpus INGEST — one real Structured Streaming run (`readStream` over
    * the documents file, `Trigger.AvailableNow`) whose `foreachBatch`
    * routes passing rows to the corpus sink and failures, WITH their
    * reason flags, to a dead-letter sink. That two-sink split is the
    * production ingest shape: the clean corpus accretes append-only
    * while rejected documents stay auditable per-reason instead of
    * vanishing.
    *
    * The rules are literally [[graft.operators.TextAnalysis.gateFlags]]
    * — one definition, so the stream CANNOT drift from the batch gate
    * q79 oracles. Correctness closes the loop through the files: the
    * returned per-source rollup (doc/pass/per-reason counts plus an
    * `n_misrouted` cross-check of each row's sink against its own flags,
    * constant 0) is computed from the READ-BACK sink parquet, so a row
    * lost, duplicated, or routed to the wrong sink breaks the oracle
    * hash — the same file-certified pattern as q47/q59/q72/q78.
    *
    * Scale: the gate is stateless (no watermark, no state store) — each
    * micro-batch routes independently, so throughput is the parquet
    * write rate; the collect is one row per source.
    */
  def qualityGateStreamed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/documents.parquet")
    // [d] glob: same single-file stream addressing trick as q43/q47/q59
    val stream = s.readStream.schema(raw.schema).parquet(s"$dir/[d]ocuments.parquet")
    Scratch.withWorkDir("q83_gate") { work =>
      val passDir = work.resolve("pass").toString
      val failDir = work.resolve("fail").toString
      drain(StateShape.Stateless, work, graft.operators.TextAnalysis.gateFlags(stream),
        Sink.Batches { (batch, batchId) =>
          // one gate evaluation per batch: persist before the two
          // filtered writes or the rule battery (and the upstream read)
          // runs twice per micro-batch. Each batch OVERWRITES its own
          // `batch=<id>` directory — the standard foreachBatch
          // idempotence recipe: a retried micro-batch rewrites the same
          // paths instead of appending duplicates, keeping the router
          // exactly-once end to end (same guarantee class as the q47
          // manifest sink; a bare mode("append") here would be
          // at-least-once under task retry).
          val b = batch.persist()
          b.where(col("pass")).write.mode("overwrite")
            .parquet(s"$passDir/batch=$batchId")
          b.where(!col("pass")).write.mode("overwrite")
            .parquet(s"$failDir/batch=$batchId")
          b.unpersist(); ()
        })
      // a sink no batch wrote rows to has no parquet files (a corpus that
      // passes or fails wholesale is legal) — substitute its empty frame.
      // Populated sinks hold batch=<id> partition dirs; discovery turns
      // the dir name into a `batch` column, dropped after read.
      def readSink(p: String, routed: Boolean): DataFrame = {
        val hasFiles = {
          val d = new java.io.File(p)
          d.exists && d.listFiles().exists(sub => sub.isDirectory &&
            Option(sub.listFiles()).exists(_.exists(_.getName.endsWith(".parquet"))))
        }
        val base =
          if (hasFiles) s.read.parquet(p).drop("batch")
          else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            graft.operators.TextAnalysis.gateFlags(raw).schema)
        base.withColumn("routed_pass", lit(routed))
      }
      val rollup = readSink(passDir, routed = true)
        .unionByName(readSink(failDir, routed = false))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when($"pass", 1L).otherwise(0L)).as("n_pass"),
          sum(when($"f_short", 1L).otherwise(0L)).as("n_short"),
          sum(when($"f_long", 1L).otherwise(0L)).as("n_long"),
          sum(when($"f_len", 1L).otherwise(0L)).as("n_len"),
          sum(when($"f_ttr", 1L).otherwise(0L)).as("n_ttr"),
          sum(when($"f_stop", 1L).otherwise(0L)).as("n_stop"),
          sum(when($"routed_pass" =!= $"pass", 1L).otherwise(0L)).as("n_misrouted"))
      Scratch.collected(rollup).orderBy($"source") // bounded: one row per source
    }
  }

  /** Spark 4 `transformWithState` under the BATCH oracle (q91): the
    * successor stateful API — typed ValueState handles on the RocksDB
    * state store — run as a real streaming query over the events file
    * and drained to a parquet sink. [[runningUserCountsTws]] emits a
    * running (count, last-seen) row per (user, micro-batch); the final
    * per-user rollup (max of a monotone counter) must equal the batch
    * truth `count(*) / max(ts)` per user under DuckDB. This closes the
    * gate the MemoryStream unit cannot: the processor's state lives in
    * the NATIVE RocksDB store across real micro-batch commits, and the
    * per-user results are certified value-exact, not just shaped. Its
    * state shape asks for RocksDB ([[StateShape]]).
    */
  def runningCountsStreamed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    val ds = withEventTs(s.readStream.schema(raw.schema).parquet(s"$dir/[e]vents.parquet"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")).cast("long"))
      .as[(Long, Long)]
    Scratch.withWorkDir("q91_tws") { work =>
      val rolled = drain(
          StateShape.RowKeyed(s"$dir/events.parquet", onArrival = true, rocksDb = true),
          work, runningUserCountsTws(s, ds).toDF("user_id", "n", "last_us"), Sink.Files)
        .groupBy($"user_id")
        .agg(max($"n").as("n_events"), max($"last_us").as("last_us"))
        .orderBy($"user_id")
      Scratch.collected(rolled).orderBy($"user_id") // bounded: one row per user
    }
  }

  /** Stream-stream JOIN under the batch oracle (q92) — the last
    * Structured Streaming operator class the registry lacked: state on
    * BOTH sides. Two independent streaming reads of the events file
    * (clicks and purchases), each watermarked, inner-joined on user
    * with a one-hour event-time range — the attribution join ("which
    * purchases followed a click within the hour") every event pipeline
    * ships. Inner stream-stream joins emit on match; the watermark
    * bounds both join-state buffers, which is what makes the operator
    * runnable forever at scale. The per-user rollup (pair count, sum
    * and min of the click→purchase lag in integer microseconds) must
    * hash-equal the identical batch self-join in DuckDB.
    */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    // one streaming source, two filtered sides — a stream SELF-join:
    // Spark still materializes join state for both sides, but file
    // listing/offset tracking happens once instead of twice (identical
    // output to two independent readStream handles; within box noise at
    // this scale, strictly less source work at any scale)
    val stream0 = withEventTs(s.readStream.schema(raw.schema).parquet(s"$dir/[e]vents.parquet"))
    def side(eventType: String, alias: String): DataFrame =
      stream0.where(col("event_type") === eventType)
        .select(col("user_id").cast("long").as(s"${alias}_user"),
          col("ts").as(s"${alias}_ts"))
        // watermark must COVER the 1-hour join range: with a narrower
        // delay (say 10 min), a multi-batch run (maxFilesPerTrigger,
        // many input files under AvailableNow) could evict click state
        // before a next-batch purchase arrives and silently drop
        // cross-batch matches — breaking batch-oracle equality
        // nondeterministically. 70 min = range + 10 min disorder slack.
        .withWatermark(s"${alias}_ts", "70 minutes")
    Scratch.withWorkDir("q92_ssj") { work =>
      val joined = side("click", "c").join(side("purchase", "p"),
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts < c_ts + interval 1 hour"))
        .select($"c_user".as("user_id"),
          (unix_micros($"p_ts") - unix_micros($"c_ts")).as("lag_us"))
      val rolled = drain(StateShape.RowKeyed(s"$dir/events.parquet", onArrival = true),
          work, joined, Sink.Files)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_pairs"),
          sum($"lag_us").as("sum_lag_us"),
          min($"lag_us").as("min_lag_us"))
        .orderBy($"user_id")
      Scratch.collected(rolled).orderBy($"user_id") // bounded: one row per converting user
    }
  }

  /** LEFT-OUTER stream-stream join under the batch oracle (q96) — the
    * abandonment twin of q92: clicks WITHOUT a purchase by the same user
    * within the following hour. Outer stream-stream joins exercise the
    * state machinery inner joins never touch: an unmatched left row
    * emits (with a null right side) only when the WATERMARK proves no
    * future purchase can match it — i.e. on state EVICTION, in the
    * final no-data micro-batch — not on arrival.
    *
    * Determinism vs the batch left-anti twin requires EVERY click to
    * be decidable by end-of-stream — otherwise the result depends on
    * exactly where Spark's final watermark lands relative to the last
    * hour of clicks (measured: each side's watermark tracked only its
    * own event type — Catalyst pushes the type filter BELOW the
    * watermark node, so writing `withWatermark` before the filter does
    * not make the watermark global — leaving the final watermark at
    * max(purchase ts) − delay and the last ~2.7 h of clicks stuck in
    * state). Instead the stream reads a scratch copy of the events
    * file plus a SENTINEL PAIR — one click and one purchase for the
    * impossible user −1 — whose event time sits 30 days past the data.
    * The sentinels pass both type filters, so BOTH watermark nodes
    * observe the far-future time and the closing no-data batch
    * provably evicts-and-emits every real unmatched click, whatever
    * slack the eviction pass applies. The sentinel click itself is
    * never decidable (nothing can outrun it) so it never emits
    * unmatched; its same-timestamp purchase match is dropped by the
    * rollup's user_id ≥ 0 ∧ abandoned filter. Per abandoned-user
    * rollup: abandoned-click count, min and max abandoned-click epoch
    * — hash-equal to DuckDB's NOT EXISTS anti-join with NO time cutoff
    * at all.
    *
    * Shared-filesystem note: like q84's fixture, the scratch dir is
    * driver-local — fine on local/local-cluster (one host); a
    * multi-node deployment would point the copy at a shared path. At
    * scale the sentinel pattern is exactly how a production feed closes
    * its books: one end-of-day marker record per shard.
    */
  def streamAbandonment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    Scratch.withWorkDir("q96_abandon") { work =>
      // the sentinel pair: one click and one purchase for user −1, 30 days
      // past the data. No maxFilesPerTrigger, so every file lands in the
      // one data batch; only set membership matters.
      val sent = sentinels(s, dir, raw, "q96sent")(Seq("click", "purchase").map { t =>
        Sentinel(s"z_sentinel_$t", 30 * 24 * HourUs, Map("user_id" -> -1L, "event_type" -> t))
      }: _*)
      val stream0 = stagedEvents(s, dir, work, raw, sent)
      def side(eventType: String, alias: String): DataFrame =
        stream0
          .select(col("user_id").cast("long").as(s"${alias}_user"),
            col("ts").as(s"${alias}_ts"), col("event_type"))
          // note: Catalyst pushes the type filter BELOW this watermark
          // node, so each side's watermark tracks its own type only —
          // which is exactly why the sentinel pair carries both types
          .withWatermark(s"${alias}_ts", "70 minutes")
          .where(col("event_type") === eventType)
          .drop("event_type")
      val clicks = side("click", "c")
      val purchases = side("purchase", "p")
      // only ABANDONED clicks reach the sink (round 13, guide §2.3/§6):
      // the stateless post-join filter drops the matched rows the rollup
      // below always discarded — matched pairs emit on arrival and were
      // pure sink-write cost (this also drops the sentinel pair's own
      // match). The filter sits ABOVE the join, so state handling and
      // eviction semantics are untouched; the rollup's predicate is
      // byte-identical, applied one operator earlier.
      val joined = clicks.join(purchases,
        expr("c_user = p_user AND p_ts >= c_ts AND p_ts < c_ts + interval 1 hour"),
        "left_outer")
        .where($"p_ts".isNull)
        .select($"c_user".as("user_id"), unix_micros($"c_ts").as("click_us"))
      val rolled = drain(StateShape.RowKeyed(s"$dir/events.parquet"), work, joined, Sink.Files)
        .where($"user_id" >= 0) // drop the sentinel (never decidable, belt+braces)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_abandoned"),
          min($"click_us").as("min_click_us"),
          max($"click_us").as("max_click_us"))
        .orderBy($"user_id")
      Scratch.collected(rolled).orderBy($"user_id") // bounded: one row per abandoning user
    }
  }

  private val HourUs = 3600L * 1000000L

  /** One sentinel file of a drain-pattern lifecycle: the first row of the
    * events file with its event time `offsetUs` past the corpus's newest,
    * each column of `overrides` replaced, written as `<name>.parquet`. With
    * `mtimeAfterCorpusMs` its modification time is pinned that far after
    * the events file's own, for a lifecycle whose batch order rides on
    * mtime.
    */
  private final case class Sentinel(name: String, offsetUs: Long, overrides: Map[String, Any],
                                    mtimeAfterCorpusMs: Option[Long] = None)

  /** The staged sentinel files `rows` of `family`.
    *
    * The drain-pattern lifecycles feed the file source deterministic
    * corpus-derived artifacts — sentinel rows, the q104 duplicate slice,
    * the q111/q130 fixed-file-count copies, q179's late-data layout — that
    * were rebuilt through a full Spark write job on EVERY invocation: pure
    * per-pass fixed cost (at sf10 the q111/q130 copies are corpus-sized
    * writes). Each is built once per source stamp into an
    * [[OpCache.directory]] memo and SYMLINKED into each run's work dir
    * ([[linkInto]]). The timed query still streams every byte through the
    * state machinery; only the re-STAGING of identical input files is
    * removed, and the bench cold pass prices each build.
    *
    * Each sentinel is one single-part parquet file. A pinned mtime orders
    * it relative to the corpus, not by write-order wall clock: batch
    * ordering under maxFilesPerTrigger rides on mtime (the q179
    * pinned-mtime discipline).
    */
  private def sentinels(s: SparkSession, dir: String, raw: DataFrame, family: String)(
      rows: Sentinel*): Path = {
    val events = s"$dir/events.parquet"
    OpCache.directory(family, s, events) { p =>
      val maxUs = graft.Tables.events(s, dir).agg(max(col("ts_us"))).head.getLong(0)
      lazy val corpusMtime =
        java.nio.file.Files.getLastModifiedTime(java.nio.file.Paths.get(events)).toMillis
      rows.foreach { r =>
        val row = r.overrides.foldLeft(
            raw.limit(1).withColumn("ts", rawEventTsLit(raw, maxUs + r.offsetUs))) {
          case (df, (c, v)) => df.withColumn(c, lit(v).cast(raw.schema(c).dataType))
        }
        val tmp = p.resolve(s"_w_${r.name}")
        row.coalesce(1).write.parquet(tmp.toString)
        val dest = p.resolve(s"${r.name}.parquet")
        java.nio.file.Files.move(
          tmp.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath, dest)
        r.mtimeAfterCorpusMs.foreach { m =>
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(corpusMtime + m)): Unit
        }
        Scratch.delete(tmp)
      }
    }
  }

  /** Links every staged *.parquet into `dest` ([[Scratch.link]]). */
  private[graft] def linkInto(staged: java.nio.file.Path, dest: java.nio.file.Path): Unit =
    staged.toFile.listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach(f => Scratch.link(f.toPath, dest.resolve(f.getName)))

  /** The event stream of a drain-pattern lifecycle (q47, q72, q96, q104,
    * q159): `work/src` holds a link to the events file plus links to every
    * staged file of `staged`, read as one `*.parquet` glob over `src` with `raw`'s
    * schema. The file-stream source sees input and sentinels in one
    * directory while zero data bytes move — the input copy was the
    * dominant staging cost of every drain lifecycle (corpus-sized per run,
    * and Bench repeats each).
    */
  private def stagedEvents(s: SparkSession, dir: String, work: Path, raw: DataFrame, staged: Path,
                           maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val src = java.nio.file.Files.createDirectories(work.resolve("src"))
    Scratch.link(java.nio.file.Paths.get(s"$dir/events.parquet"), src.resolve("events.parquet"))
    linkInto(staged, src)
    val reader = s.readStream.schema(raw.schema)
    withEventTs(maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(s"$src/*.parquet"))
  }

  /** Custom keyed state: running per-user event counter + last-seen
    * timestamp via `flatMapGroupsWithState` — the engine's
    * arbitrary-stateful-processing extension point (the reference has no
    * per-key state at all, only offsets).
    */
  def runningUserCounts(s: SparkSession, events: Dataset[(Long, Long)]): Dataset[(Long, Long, Long)] = {
    import s.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          val (n0, last0) = state.getOption.getOrElse((0L, Long.MinValue))
          var n = n0; var last = last0
          rows.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
          state.update((n, last))
          Iterator((user, n, last))
      }
  }

  /** The same running counts on Spark 4's `transformWithState` — the
    * successor stateful API (typed state handles, native TTL, RocksDB
    * state store). Kept alongside the `flatMapGroupsWithState` form so
    * both extension points stay exercised; requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider at query start.
    */
  def runningUserCountsTws(s: SparkSession,
                           events: Dataset[(Long, Long)]): Dataset[(Long, Long, Long)] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events.groupByKey(_._1)
      .transformWithState(new RunningCountsProcessor, TimeMode.None(), OutputMode.Append)
  }

  /** Streaming distribution-drift monitor (q130): q123's PSI computed the
    * way a standing monitor actually runs it — per-micro-batch
    * (source, bin) count partials merged into a versioned count state
    * across REAL micro-batches (4-file source, maxFilesPerTrigger=1 —
    * the q111 merge discipline: sum-combine is commutative so arrival
    * order can't change the result, versioned overwrite keeps replays
    * exactly-once), with the final accumulated counts pushed through the
    * SAME psiFromCounts tail as the batch operator. The bin grid is
    * pinned from the static baseline corpus before the stream starts —
    * which is how a deployment fixes its monitoring grid, and what makes
    * the streamed counts equal the batch counts bin-for-bin, so q123's
    * DuckDB oracle certifies the whole streaming lifecycle.
    */
  def streamSourceDrift(s: SparkSession, dir: String, nBins: Int = 16): DataFrame =
    streamSourceDriftCounted(s, dir, nBins)._1

  /** [[streamSourceDrift]] plus the micro-batch count — the spec pins it
    * > 1 so the merge path cannot silently become dead code. */
  private[graft] def streamSourceDriftCounted(
      s: SparkSession, dir: String, nBins: Int): (DataFrame, Int) = {
    import s.implicits._
    val docs = graft.Tables.table(s, dir, "documents")
    // grid bounds pinned from the baseline corpus (2 longs to the driver)
    // — off the SAME memoized difficulty frame q123 aggregates, so the
    // paired monitors share one projection scan per session
    val Array(mn, mx) = graft.operators.TextAnalysis.psiScoresCorpus(s, dir)
      .agg(min($"iscore"), max($"iscore")).as[(Long, Long)].collect()
      .flatMap(t => Array(t._1, t._2))
    Scratch.withWorkDir("q130_drift") { work =>
      // 2 files = the spec's pinned minimum batch count (> 1): each batch
      // pays a full psiScores pass + a versioned parquet write, so batches
      // beyond the minimum that proves the merge are pure fixed cost. The
      // 2-file form is a pure function of the corpus — built once per
      // (session, corpus stamp), symlinked per run (the per-pass
      // repartition WRITE was a corpus-sized staging job every pass;
      // batch order is irrelevant, the merge is a commutative sum)
      val staged = OpCache.directory("q130src", s, s"$dir/documents.parquet") { p =>
        docs.select($"source", $"text").repartition(2)
          .write.mode("overwrite").parquet(p.toString)
      }
      val (counts, nBatches) = versionedSumMerge(s, work, staged, "source", "bin") { batch =>
        graft.operators.TextAnalysis.psiScores(s, batch)
          .select(col("source"),
            expr(s"(iscore - $mn) * $nBins div ($mx - $mn + 1)").as("bin"))
          .groupBy("source", "bin").agg(count(lit(1)).as("c"))
      }
      // counts state is (sources x bins)-bounded: collect it off the temp
      // dir so the work dir can be deleted under the lazy PSI tail
      (graft.operators.TextAnalysis.psiFromCounts(s, Scratch.collected(counts), nBins), nBatches)
    }
  }

  /** Timer-driven streaming sessionization (q159): the q72 session
    * semantics (30-minute gap, n_sessions/n_events per user — ONE shared
    * DuckDB oracle certifies both) re-implemented on Spark 4's
    * `transformWithState` with EVENT-TIME TIMERS — the API surface q91
    * (TimeMode.None) leaves untouched: mid-stream session closes emit
    * inline when a row lands past the gap, but each user's LAST session
    * has no closing row, so the processor registers an event-time timer
    * at last+gap and `handleExpiredTimer` emits when the WATERMARK
    * crosses it — the production mechanism for "session ended because
    * time passed, not because data arrived".
    *
    * Drain choreography (replay determinism): `maxFilesPerTrigger` is
    * set to the REAL part-file count, so batch 1 carries every real row
    * (the processor sorts per user per batch — one batch means exact
    * session semantics whatever the input's part-file layout), and the
    * two later-mtime global sentinel files (+2h, +4h) land in batches 2
    * and 3 — sentinel 1 advances the watermark past every real expiry,
    * and the timers FIRE while batch 3 (sentinel 2) runs, because timer
    * expiry is checked against the watermark each batch. (One file per
    * batch was the original shape; it made row order depend on part-file
    * mtime ties — a same-ms tie that flipped two files could drop
    * still-open sessions' rows as late. All-real-in-one-batch removes
    * the ordering dependence entirely.) Sentinel keys are negative user
    * ids, filtered after the sink. State is per-user O(1) (one session
    * tuple + one timer) on RocksDB.
    */
  def timerSessionsStreamed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = s.read.parquet(s"$dir/events.parquet")
    Scratch.withWorkDir("q159_tsess") { work =>
      val events = java.nio.file.Paths.get(s"$dir/events.parquet")
      val nRealFiles =
        if (java.nio.file.Files.isDirectory(events))
          events.toFile.listFiles().count(f => f.isFile && f.getName.endsWith(".parquet"))
        else 1
      // batch order (real files -> sentinel1 -> sentinel2) rides on mtime
      // under maxFilesPerTrigger, so the sentinels PIN theirs to the
      // corpus mtime +60 s/+120 s (q179 discipline) instead of relying on
      // write-order wall clock
      val sent = sentinels(s, dir, raw, "q159sent")(
        Sentinel("sentinel1", 2 * HourUs, Map("user_id" -> -1L), Some(60000L)),
        Sentinel("sentinel2", 4 * HourUs, Map("user_id" -> -2L), Some(120000L)))
      val stream = stagedEvents(s, dir, work, raw, sent, Some(math.max(1, nRealFiles)))
      import org.apache.spark.sql.streaming.TimeMode
      val sessions = stream
        .withWatermark("ts", "10 minutes")
        .select($"user_id".cast("long"), unix_micros($"ts"))
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new TimerSessionProcessor(1800L * 1000000L),
          TimeMode.EventTime(), OutputMode.Append)
        .toDF("user_id", "start_us", "end_us", "n_in_session")
      Scratch.collected(
          drain(StateShape.RowKeyed(s"$dir/events.parquet", rocksDb = true), work, sessions,
            Sink.Files) // bounded: one row per user
          .where(col("user_id") >= 0L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"), sum(col("n_in_session")).as("n_events")))
        .orderBy($"user_id")
    }
  }
}

/** StatefulProcessor for [[StreamOps.runningUserCountsTws]]: one ValueState
  * cell per user holding (count, last-seen ts).
  */
class RunningCountsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long)]("counts",
      Encoders.product[(Long, Long)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    val (n0, last0) = Option(state.get()).getOrElse((0L, Long.MinValue))
    var n = n0; var last = last0
    rows.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
    state.update((n, last))
    Iterator((user, n, last))
  }
}

/** StatefulProcessor for [[StreamOps.timerSessionsStreamed]]: per-user
  * session state (start, last, n, timerMs) with EVENT-TIME timers. Rows
  * within a batch are sorted locally (per-user per-batch volume is
  * micro-batch-bounded); a row landing >= gap after the last one closes
  * the open session inline; the registered timer closes the final one
  * when the watermark passes last+gap. The stored timerMs disambiguates
  * stale timers: registerTimer can't atomically replace, so an expiry
  * that doesn't match the session's CURRENT deadline is ignored.
  */
class TimerSessionProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long, Long)] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var state: ValueState[(Long, Long, Long, Long)] = _

  override def init(outputMode: OutputMode,
                    timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[(Long, Long, Long, Long)]("session",
      Encoders.product[(Long, Long, Long, Long)], TTLConfig.NONE)

  override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                               timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
    val sorted = rows.map(_._2).toArray
    java.util.Arrays.sort(sorted)
    var out = List.empty[(Long, Long, Long, Long)]
    var (st, la, n, tmr) = Option(state.get()).getOrElse((-1L, -1L, 0L, -1L))
    sorted.foreach { ts =>
      if (st < 0) { st = ts; la = ts; n = 1 }
      else if (ts - la >= gapUs) {
        out ::= (user, st, la, n); st = ts; la = ts; n = 1
      } else { if (ts > la) la = ts; n += 1 }
    }
    val newTmr = (la + gapUs) / 1000L + 1L
    if (tmr >= 0 && tmr != newTmr) getHandle.deleteTimer(tmr)
    if (tmr != newTmr) getHandle.registerTimer(newTmr)
    state.update((st, la, n, newTmr))
    out.reverseIterator
  }

  override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
    Option(state.get()) match {
      case Some((st, la, n, tmr))
          if st >= 0 && expiredTimerInfo.getExpiryTimeInMs() == tmr =>
        state.clear()
        Iterator((user, st, la, n))
      case _ => Iterator.empty
    }
  }
}
