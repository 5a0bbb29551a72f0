package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.Tables.{events, table}
import graft.io.Scratch
import graft.streaming.StreamOps

/** Event-stream operators: the reference's query surface re-expressed over
  * the `events` table (which stands in for the Kinesis stream / S3 archive
  * in batch form — SURVEY.md §2.1, §2.3).
  *
  * Timestamp discipline: `events.ts` is nanosecond parquet; Spark truncates
  * to microseconds on read, so every oracle compares on `epoch_us` and all
  * ordering uses (microseconds, event_id) to stay deterministic across
  * engines.
  */
object EventOps {

  /** The reference `cat` query (`/root/reference/triton.go:344-367`,
    * `/root/reference/triton/store_reader.go:54-111`): scan an archive date
    * range for one client, ordered. Date-range predicate + client predicate
    * push into the scan; at scale the `date` partition column makes the
    * range a directory-pruning operation rather than a filter.
    */
  def catRange(s: SparkSession, dir: String,
               start: String = "2024-01-05", end: String = "2024-01-10",
               client: String = "purchase"): DataFrame = {
    import s.implicits._
    events(s, dir)
      .where($"ts" >= lit(start).cast("timestamp") && $"ts" < lit(end).cast("timestamp"))
      .where($"event_type" === client)
      .orderBy($"ts", $"event_id")
      .select(
        $"event_id",
        $"ts_us".as("ts_us"),
        $"user_id",
        $"event_type",
        $"value")
  }

  /** Serial concat reader (`/root/reference/triton/reader.go:13-38`): two
    * archive slices unioned with a provenance tag, globally ordered — the
    * Spark form of reading archive files in sequence.
    */
  def unionSlices(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val a = ev.where($"ts" < lit("2024-01-03").cast("timestamp")).withColumn("slice", lit("early"))
    val b = ev.where($"ts" >= lit("2024-01-28").cast("timestamp")).withColumn("slice", lit("late"))
    a.unionByName(b)
      .groupBy($"slice", $"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"slice", $"event_type")
  }

  /** Tumbling processing-window aggregation — the batch shape of the hourly
    * archive rotation (`/root/reference/triton/store.go:106-125`) and of a
    * Structured Streaming `window($"ts", "1 hour")` aggregation.
    */
  def hourlyRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy(date_trunc("hour", $"ts").as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("sum_value"),
        count_distinct($"user_id").as("n_users"))
      .select(unix_seconds($"hour").as("hour_epoch"), $"n_events", $"sum_value", $"n_users")
      .orderBy($"hour_epoch")
  }

  /** Checkpoint lag stats (`/root/reference/triton/checkpoint.go:127-151`):
    * age of each shard's last committed position vs the stream head. Here
    * event_type plays the shard; the head is the global max timestamp —
    * deterministic, unlike the reference's wall-clock `now()`.
    */
  def lagStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val perShard = ev.groupBy($"event_type".as("shard"))
      .agg(max($"ts_us").as("last_us"), count(lit(1)).as("n_records"))
    val head = ev.agg(max($"ts_us").as("head_us"))
    perShard.crossJoin(broadcast(head))
      .select(
        $"shard",
        $"n_records",
        (($"head_us" - $"last_us") / lit(1000000L)).cast("long").as("age_sec"))
      .orderBy($"shard")
  }

  /** Record decode with dead-letter semantics
    * (`/root/reference/triton/stream_reader.go:173-194`): parse the JSON
    * payload permissively, segregate corrupt rows, aggregate the survivors —
    * Spark's `from_json` returns null on corrupt input, the analog of
    * log-and-skip.
    */
  def decodeProps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      // vectorized one-pass parse against a schema (get_json_object
      // re-tokenizes the document per extraction); string-typed field +
      // cast keeps quoted/-malformed-number semantics identical to the
      // oracle's json_extract_string + TRY_CAST
      .withColumn("k",
        from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k STRING"))
          .getField("k").cast("long"))
      .withColumn("is_corrupt", $"k".isNull)
      .groupBy($"event_type")
      .agg(
        sum(when($"is_corrupt", 1L).otherwise(0L)).as("n_corrupt"),
        sum(coalesce($"k", lit(0L))).as("sum_k"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Sessionization: 30-minute-gap sessions per user via the
    * gaps-and-islands window pattern — one shuffle on user_id, no state
    * blowup, the batch twin of `session_window` in streaming.
    *
    * Boundary convention: a gap of EXACTLY `gapMinutes` starts a new
    * session (`d >= gap`), matching `session_window`'s half-open
    * [start, last + gap) semantics — so q15/q32/q72 (and their oracles)
    * agree at the boundary, not just on boundary-free data.
    */
  def sessionize(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    events(s, dir)
      .select($"user_id", $"event_id", $"ts_us".as("ts_us"))
      .withColumn("prev_us", lag($"ts_us", 1).over(w))
      .withColumn("new_sess", when($"prev_us".isNull || $"ts_us" - $"prev_us" >= gapUs, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** Native session windows in batch mode: Spark's `session_window`
    * (the streaming sessionization operator, usable in batch) merges events
    * closer than the gap; equivalent to the gaps-and-islands formulation of
    * `sessionize`, but planned by the dedicated SessionWindow node —
    * the form that also runs under `readStream` with a watermark.
    */
  def sessionWindowNative(s: SparkSession, dir: String, gap: String = "30 minutes"): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy($"user_id", session_window($"ts", gap))
      .agg(count(lit(1)).as("n_in_session"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_sessions"), sum($"n_in_session").as("n_events"))
      .orderBy($"user_id")
  }

  /** As-of join, scale-safe formulation: for every purchase, the most recent
    * preceding click of the same user. Instead of a range join (quadratic
    * blowup), union the two event kinds and carry the last click forward
    * with `last(..., ignoreNulls)` over one (user, time) window — a single
    * shuffle, linear work, the idiomatic big-data as-of.
    */
  def asOfLastClick(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us".as("ts_us"))
      .where($"event_type".isin("purchase", "click"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("last_click_id", last(when($"event_type" === "click", $"event_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_us", last(when($"event_type" === "click", $"ts_us"), ignoreNulls = true).over(w))
      .where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us".as("purchase_us"),
        $"last_click_id", $"last_click_us")
      .orderBy($"purchase_id")
  }

  /** As-of join with TOLERANCE and NEAREST direction (q99) — the full
    * merge_asof parity point ([[asOfLastClick]] is the backward-only
    * half): for every purchase, the nearest click of the same user
    * within ±`tolUs`, ties to the BACKWARD candidate (a click at the
    * purchase instant counts as backward via the (ts, event_id) window
    * order). Purchases with no click in tolerance keep NULL click
    * columns — the "no attribution" marker callers filter or keep.
    *
    * Same scale shape as q16: union the two event kinds, ONE
    * (user, time)-windowed pass carrying last-preceding and
    * first-following click via ignoreNulls window aggregates — a single
    * user-keyed shuffle, linear work, no range join, no row
    * multiplication. The direction/tolerance logic is pure per-row
    * CASE arithmetic on the two candidates.
    */
  def asOfNearestClick(s: SparkSession, dir: String,
                       tolUs: Long = 2L * 3600L * 1000000L): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select($"user_id", $"event_id", $"event_type", $"ts_us")
      .where($"event_type".isin("purchase", "click"))
    val wb = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wf = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    val isClick = $"event_type" === "click"
    val base = ev
      .withColumn("prev_id", last(when(isClick, $"event_id"), ignoreNulls = true).over(wb))
      .withColumn("prev_us", last(when(isClick, $"ts_us"), ignoreNulls = true).over(wb))
      .withColumn("next_id", first(when(isClick, $"event_id"), ignoreNulls = true).over(wf))
      .withColumn("next_us", first(when(isClick, $"ts_us"), ignoreNulls = true).over(wf))
      .where($"event_type" === "purchase")
    val backOk = $"prev_us".isNotNull && ($"ts_us" - $"prev_us") <= tolUs
    val fwdOk = $"next_us".isNotNull && ($"next_us" - $"ts_us") <= tolUs
    val takeBack = backOk &&
      (!fwdOk || ($"ts_us" - $"prev_us") <= ($"next_us" - $"ts_us"))
    base.select(
        $"user_id",
        $"event_id".as("purchase_id"),
        $"ts_us".as("purchase_us"),
        when(takeBack, $"prev_id").when(fwdOk, $"next_id").as("click_id"),
        when(takeBack, $"prev_us").when(fwdOk, $"next_us").as("click_us"),
        when(takeBack, $"ts_us" - $"prev_us")
          .when(fwdOk, $"next_us" - $"ts_us").as("delta_us"))
      .orderBy($"purchase_id")
  }

  /** JSONL ingest with dead-letter accounting (q100): the schema-on-read
    * text ingest every pipeline runs next to its binary feeds (S4's
    * msgpack decode covers the binary half). The events slice round-trips
    * through newline-delimited JSON with a DETERMINISTIC corruption rule
    * (every event_id ≡ 0 mod 37 is truncated mid-record — invalid JSON),
    * then reads back under PERMISSIVE mode with a corrupt-record column:
    * good rows parse typed, bad rows land intact in `_corrupt` instead
    * of killing the job — Spark's native dead-letter seam. The report
    * (per-type good counts/sums + one `_dead` row) is oracled from the
    * original parquet by replaying the mod-37 rule, so a row lost,
    * double-counted, or mis-parsed on either leg hash-mismatches.
    *
    * Scale shape: the write is one partition-parallel text sink, the
    * read one schema-projected JSON scan, the report a types-bounded
    * aggregate. Like q84, the fixture is the operator's own temp dir
    * (driver-local scratch — the q84 shared-filesystem note applies).
    */
  def jsonlDeadLetter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val ev = events(s, dir)
      .select($"event_id", $"ts_us", $"user_id", $"event_type")
    Scratch.withWorkDir("q100_jsonl") { work =>
      val lines = ev
        .select($"event_id",
          to_json(struct($"event_id", $"ts_us", $"user_id", $"event_type")).as("line"))
        .select(when($"event_id" % 37 === 0, substring($"line", 1, 10))
          .otherwise($"line").as("value"))
      lines.write.text(work.resolve("jsonl").toString)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts_us", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("_corrupt", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(work.resolve("jsonl").toString)
      val rolled = parsed
        .withColumn("kind",
          when($"_corrupt".isNotNull, lit("_dead")).otherwise($"event_type"))
        .groupBy($"kind")
        .agg(count(lit(1)).as("n"),
          sum(when($"_corrupt".isNull, $"user_id")).as("sum_user"),
          max(when($"_corrupt".isNull, $"ts_us")).as("max_ts_us"))
        .orderBy($"kind")
      // bounded: one row per event type + the dead-letter row; collect
      // so the returned plan does not reference the deleted temp dir
      Scratch.collected(rolled).orderBy($"kind")
    }
  }

  /** Archive key naming + parse round-trip
    * (`/root/reference/triton/archive.go:45-81`,
    * `/root/reference/triton/store.go:91-104`): build
    * `YYYYMMDD/<stream>-<client>-<unixTs>.tri` keys from event processing
    * time, parse them back with the key regex, and count files per
    * (date, client) — the discovery listing a StoreReader does.
    */
  def archiveKeys(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyed = events(s, dir)
      .select(
        concat(
          date_format($"ts", "yyyyMMdd"), lit("/"),
          lit("events"), lit("-"),
          $"event_type", lit("-"),
          ($"ts_us" / lit(1000000L)).cast("long").cast("string"),
          lit(".tri")).as("key"))
    keyed
      .withColumn("kdate", regexp_extract($"key", "^([0-9]{8})/", 1))
      .withColumn("stream", regexp_extract($"key", "^[0-9]{8}/([a-z_]+)-", 1))
      .withColumn("client", regexp_extract($"key", "^[0-9]{8}/[a-z_]+-([a-z_]+)-", 1))
      .groupBy($"kdate", $"stream", $"client")
      .agg(count(lit(1)).as("n_files"))
      .orderBy($"kdate", $"client")
  }

  /** Salting for skew, made explicit: a hot grouping key is split across 16
    * salt lanes for the first (heavy) aggregation, then the tiny salted
    * partials combine in a second pass. With decimal sums the result is
    * bit-identical to the direct groupBy (the oracle computes exactly
    * that) — AQE's skew handling does this adaptively for joins; this is
    * the manual pattern for aggregations over pathological keys.
    */
  def saltedAgg(s: SparkSession, dir: String, lanes: Int = 16): DataFrame = {
    import s.implicits._
    events(s, dir)
      .withColumn("salt", $"user_id" % lanes)
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"), sum($"value".cast(DecimalType(12, 2))).as("psum"))
      .groupBy($"event_type")
      .agg(sum($"pn").as("n"), sum($"psum").cast("double").as("sum_value"))
      .orderBy($"event_type")
  }

  /** Range join without the quadratic blowup: for every purchase, count the
    * same user's clicks in the preceding 5 minutes. The inequality join is
    * bucketized — clicks key by their 5-minute slot, each purchase probes
    * its own and the previous slot — so the range condition rides on an
    * equi-join (user, bucket) that Spark shuffles/broadcasts normally; a
    * raw `t1.ts BETWEEN t2.ts - d AND t2.ts` join would plan a
    * nested-loop cross product.
    */
  def rangeJoinBuckets(s: SparkSession, dir: String, windowUs: Long = 300000000L): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"event_id", $"user_id", $"event_type", $"ts_us")
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id", $"ts_us".as("c_us"), expr(s"ts_us div $windowUs").as("bucket"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts_us".as("p_us"),
        explode(array(expr(s"ts_us div $windowUs"), expr(s"ts_us div $windowUs - 1"))).as("bucket"))
    purchases.join(clicks, Seq("user_id", "bucket"), "left")
      .withColumn("hit",
        when($"c_us".isNotNull && $"c_us" >= $"p_us" - windowUs && $"c_us" < $"p_us", 1L)
          .otherwise(0L))
      .groupBy($"purchase_id")
      .agg(sum($"hit").as("n_recent_clicks"))
      .orderBy($"purchase_id")
  }

  /** CUBE grouping sets: counts and value sums at every (event_type,
    * user_bucket) granularity in one pass — Expand + a single aggregation,
    * the other half of the grouping-sets surface next to `customerRollup`.
    */
  def eventCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .withColumn("user_bucket", $"user_id" % 10)
      .cube($"event_type", $"user_bucket")
      .agg(count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .orderBy($"event_type".asc_nulls_first, $"user_bucket".asc_nulls_first)
  }

  /** Pivot: day x event_type count matrix (the wide report shape).
    * Values are pinned explicitly so the plan is one pass — Spark's
    * value-discovering pivot would first run a distinct job, and an
    * unpinned pivot on a high-cardinality column is a schema explosion at
    * 100 TB. Missing cells coalesce to 0 to match the oracle's
    * conditional-aggregation formulation.
    */
  def eventTypePivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val pivoted = events(s, dir)
      .withColumn("day", date_format($"ts", "yyyyMMdd"))
      .groupBy($"day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(pivoted)((df, t) =>
        df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t))
      .orderBy($"day")
  }

  /** Pivot → UNPIVOT round trip (q116): q41's wide per-day matrix melted
    * back to long form with Spark's native `unpivot` (the reshape layer
    * between storage and reporting). The contract is DENSITY: the
    * pivot's zero-fill survives the melt, so every (day, type) cell —
    * including empty ones — lands as an explicit row; the oracle builds
    * the same dense grid from a day x type cross join, so a dropped or
    * fabricated cell on either leg hash-mismatches. Everything after the
    * q41 aggregate is width-bounded (days x 5 types).
    */
  def eventPivotRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    eventTypePivot(s, dir)
      .unpivot(Array($"day"), types.map(t => col(s"n_$t")).toArray,
        "type_col", "n")
      .select($"day", substring($"type_col", 3, 100).as("event_type"), $"n")
      .orderBy($"day", $"event_type")
  }

  /** Observed-metrics telemetry (q117): `Dataset.observe` computes
    * pipeline health counters ON THE SAME SCAN as the query — the
    * Spark-native form of the reference's stats plumbing
    * (`/root/reference/triton.go:241-265` prints stream stats from a
    * separate pass; here the metrics ride the query's one pass). The
    * query proper is the purchase rollup; the observation records
    * pre-filter totals (rows, distinct-day span, value sum in cents)
    * that a separate aggregate would need a second scan for. Both the
    * rollup and the metrics row are oracle-checked, so the observation
    * path is held to the same hash standard as the query path.
    */
  def observedMetricsRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = new org.apache.spark.sql.Observation(
      s"q117_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    val rollup = events(s, dir)
      .select($"event_type", $"user_id", $"ts_us",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum($"cents").as("sum_cents_all"),
        (max(expr("ts_us div 86400000000")) -
          min(expr("ts_us div 86400000000")) + 1).as("day_span"))
      .where($"event_type" === "purchase")
      .groupBy($"event_type".as("kind"))
      .agg(count(lit(1)).as("n_rows"), sum($"cents").as("sum_cents_all"),
        lit(null).cast("long").as("day_span"))
      .collect() // bounded: one row; completes the action so obs resolves
    val m = obs.get
    val rows = rollup.toSeq :+ org.apache.spark.sql.Row(
      "_metrics", m("n_rows").asInstanceOf[Long],
      m("sum_cents_all").asInstanceOf[Long], m("day_span").asInstanceOf[Long])
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("kind", StringType), StructField("n_rows", LongType),
      StructField("sum_cents_all", LongType), StructField("day_span", LongType)))
    Scratch.local(s, rows, schema).orderBy($"kind")
  }

  /** Custom typed UDAF in action: exact top-k (value desc, id asc) per
    * event_type through `graft.functions.TopKAggregator` — a bounded
    * buffer that combines map-side, so only k rows per group per partition
    * reach the shuffle (vs the rank-window formulation of
    * `topOrdersPerCustomer`, which shuffles every row).
    */
  def topkAgg(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val topk = udaf(new graft.functions.TopKAggregator(k), Encoders.product[(Long, Double)])
    events(s, dir)
      .groupBy($"event_type")
      .agg(topk($"event_id", $"value").as("top"))
      .select($"event_type", posexplode($"top"))
      .select($"event_type", ($"pos" + 1).cast("long").as("rank"),
        $"col._1".as("event_id"), $"col._2".as("value"))
      .orderBy($"event_type", $"rank")
  }

  /** Full archive lifecycle under the correctness gate: events → `.tri`
    * store (snappy+msgpack, date/client-partitioned,
    * `graft.sources.Archive`) → range read with partition pruning +
    * single-client check → aggregate. The oracle aggregates the original
    * table directly, so any encode/decode or pruning defect hash-mismatches.
    */
  def triRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = triArchiveFor(s, dir)
    graft.sources.Archive.read(s, root, "graft", "20240101", "20241231")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"value".cast(DecimalType(12, 2))).cast("double").as("sum_value"),
        max(unix_micros($"ts")).as("max_ts_us"),
        min($"event_id").as("min_event_id"))
      .orderBy($"event_type")
  }

  /** Archive compaction under the correctness gate (q84): the first five
    * days of events stream into a FRESH archive with a small rotation cap
    * (so every date partition lands as many small `.tri` files — the
    * shape a micro-batching store leaves behind), every (date, client)
    * partition is compacted through [[graft.sources.Archive.compact]]'s
    * rename swap, and the post-compaction range read aggregates per day
    * under an oracle on the original table — a row lost, duplicated, or
    * decoded differently by the rewrite hash-mismatches. The per-call
    * write is the operator's fixture (compaction mutates its input, so
    * the q33 pinned-archive trick cannot apply); the 5-day slice bounds
    * it. The unit test additionally pins the file-count mechanics
    * (many -> ceil(n/cap), idempotent re-compact), which the data-level
    * oracle cannot see.
    *
    * The cutoff derives from min(ts_us) via one 1-row action — the same
    * bounded-driver pattern as q47's sentinel.
    *
    * Shared-filesystem assumption: the scratch archive lives under a
    * driver-local [[Scratch.withWorkDir]] that executors write and
    * read — valid on local / local-cluster (one host) where this bench
    * fixture runs, NOT on a multi-node master. A production compaction
    * points [[graft.sources.Archive.compact]] at a shared root (HDFS /
    * s3a) instead; only this self-contained fixture derives its root
    * from the driver's temp dir.
    */
  def archiveCompact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val minUs = ev.agg(min($"ts_us")).head.getLong(0)
    val cutoff = minUs + 5L * 86400L * 1000000L
    val slice = ev.where($"ts_us" < cutoff)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
    Scratch.withWorkDir("q84_compact") { work =>
      val root = work.resolve("archive").toString
      graft.sources.Archive.store(slice, root, "graft", maxRecordsPerFile = 512)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sessionState.newHadoopConf())
      val dates = fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(_.startsWith("date=")).map(_.stripPrefix("date="))
      // per-date compactions are independent jobs over disjoint partition
      // dirs — submit them from a small thread pool so the next date's
      // tasks back-fill executors freed by the current date's tail
      // (guide §2.6 overlap-independent-jobs); 4 in flight is enough to
      // fill the tail without contending. Results are unchanged: each
      // compact touches only its own (date, client) directory.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, math.max(1, dates.size)))
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val futs = dates.map { d =>
          Future {
            val (b, a) = graft.sources.Archive.compact(s, root, "graft", d)
            require(a <= b, s"compact grew $d: $b -> $a")
          }
        }
        futs.foreach(Await.result(_, 10.minutes))
      } finally pool.shutdownNow()
      val rolled = graft.sources.Archive
        .read(s, root, "graft", "00000000", "99999999")
        .groupBy(date_format($"ts", "yyyyMMdd").as("date"))
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast(DecimalType(12, 2))).cast("double").as("sum_value"),
          max(unix_micros($"ts")).as("max_ts_us"),
          min($"event_id").as("min_event_id"))
        .orderBy($"date")
      Scratch.collected(rolled).orderBy($"date") // bounded: one row per day in the slice
    }
  }

  /** Hourly anomaly detection per event type (q86): each (event_type,
    * hour) count scored as a z-score against its own trailing 24
    * OBSERVED hourly buckets — hours with zero events emit no row, so
    * across a traffic gap the 24-row frame spans more than 24 wall-clock
    * hours (to score against strict wall-clock hours, densify the hour
    * axis first; the registered query deliberately scores observed
    * buckets, which also means a total outage never poisons the
    * baseline with zeros). This is the monitoring query an event
    * pipeline runs over exactly this data to page on traffic spikes and
    * silent drops. Hours without a complete 24-row baseline (the warmup
    * edge) or a zero-variance baseline emit z = 0 with `has_baseline`
    * false, so every hour is in the report and the oracle never
    * compares NULL-vs-NaN conventions.
    *
    * Exactness: counts are integers, the trailing moment sums (Σn, Σn²)
    * are integer window aggregates, and mean/variance/sqrt/z run in
    * doubles on those exact operands — identical in both engines, then
    * round6. Shape: one map-side-combined hourly aggregate (bounded at
    * types × hours rows at ANY corpus size) and one window pass over it;
    * the window partitions by event_type, which is types-bounded — skew
    * concentrates an hours-long frame of longs, never row data.
    */
  def hourlyAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = events(s, dir)
      .groupBy($"event_type", date_trunc("hour", $"ts").as("hour"))
      .agg(count(lit(1)).as("n"))
      .select($"event_type", unix_seconds($"hour").as("hour_epoch"), $"n")
    val w = Window.partitionBy($"event_type").orderBy($"hour_epoch")
      .rowsBetween(-24, -1)
    val stats = hourly
      .withColumn("k", count(lit(1)).over(w))
      .withColumn("m", sum($"n").over(w))
      .withColumn("s2", sum($"n" * $"n").over(w))
    // sample variance over the 24-hour frame: (24·Σn² − (Σn)²) / (24·23)
    val varr = (lit(24.0) * $"s2" - ($"m" * $"m").cast("double")) / lit(552.0)
    val z = ($"n".cast("double") - $"m".cast("double") / lit(24.0)) / sqrt(varr)
    stats
      .withColumn("has_baseline", $"k" === 24 && varr > 0.0)
      .withColumn("z", graft.Tables.round6(when($"has_baseline", z).otherwise(lit(0.0))))
      .withColumn("is_spike", $"has_baseline" && abs($"z") >= 3.0)
      .select($"event_type", $"hour_epoch", $"n", $"has_baseline", $"z", $"is_spike")
      .orderBy($"event_type", $"hour_epoch")
  }

  /** Strict ordered funnel (q87): signup → click → purchase, each stage
    * counting only events strictly AFTER the user's previous-stage entry
    * — the conversion query event analytics is for, with the ordering
    * semantics that naive per-type mins get wrong (a click before the
    * signup must not convert). Per stage: users reaching it, the summed
    * stage-to-stage lag in microseconds (integer, order-free), and the
    * mean lag in hours (one double division, round6).
    *
    * Shape: each stage is a filtered user-keyed aggregate joined to the
    * previous stage's (user, ts) frame — three shuffles keyed on the
    * uniform user_id, each frame at most users-sized; the report is a
    * 3-row aggregate. No windows over the raw stream, no per-user event
    * buffering.
    */
  def eventFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"event_type", $"ts_us")
    val s1 = ev.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts_us").as("t1"))
    val s2 = ev.where($"event_type" === "click").join(s1, "user_id")
      .where($"ts_us" > $"t1")
      .groupBy($"user_id").agg(min($"ts_us").as("t2"), min($"t1").as("t1"))
    val s3 = ev.where($"event_type" === "purchase").join(s2, "user_id")
      .where($"ts_us" > $"t2")
      .groupBy($"user_id").agg(min($"ts_us").as("t3"), min($"t2").as("t2"))
    def report(stage: String, df: DataFrame, delta: org.apache.spark.sql.Column): DataFrame =
      df.agg(
        count(lit(1)).as("n_users"),
        coalesce(sum(delta), lit(0L)).as("sum_lag_us"))
        .select(lit(stage).as("stage"), $"n_users", $"sum_lag_us")
    report("1_signup", s1, lit(0L))
      .unionByName(report("2_click", s2, $"t2" - $"t1"))
      .unionByName(report("3_purchase", s3, $"t3" - $"t2"))
      .select($"stage", $"n_users", $"sum_lag_us",
        graft.Tables.round6(when($"n_users" > 0,
          $"sum_lag_us" / ($"n_users" * lit(3600.0 * 1000000.0)))
          .otherwise(lit(0.0))).as("mean_lag_hours"))
      .orderBy($"stage")
  }

  /** Retention cohorts (q88): users grouped by first-activity week, the
    * classic cohort × week-offset retention triangle. Weeks are integer
    * epoch weeks (epoch_us div one-week-of-micros) — no calendar or
    * timezone arithmetic to disagree on. Two user-keyed aggregates on
    * integer columns; output is bounded at weeks² cells whatever the
    * corpus size.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val weekUs = 7L * 86400L * 1000000L
    val uw = events(s, dir)
      .select($"user_id", expr(s"ts_us div ${weekUs}L").as("week"))
      .distinct()
    val cohort = uw.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    uw.join(cohort, "user_id")
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy($"cohort_week", $"week_offset")
  }

  /** Behavioral path analysis (q93): the top-k event-type TRIGRAMS over
    * each user's time-ordered stream — the transition patterns a product
    * or anomaly analysis reads ("view,click,purchase" vs
    * "error,error,error"). Ordering inside a user is (ts_us, event_id):
    * timestamps alone can collide, and an ambiguous sort order would be
    * nondeterministic BETWEEN ENGINES, so the tie-break is part of the
    * operator's contract. Top-k cuts on (n desc, path asc) — fully
    * deterministic at the cut line.
    *
    * Shape: one user-keyed shuffle for the window (the stream's natural
    * partitioning), then a map-side-combined aggregate over the
    * types³-bounded path space; output is k rows at any corpus size.
    */
  def eventTransitions(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    events(s, dir)
      .select($"user_id", $"ts_us", $"event_id", $"event_type")
      .withColumn("e2", lead($"event_type", 1).over(w))
      .withColumn("e3", lead($"event_type", 2).over(w))
      .where($"e2".isNotNull && $"e3".isNotNull)
      .groupBy($"event_type".as("e1"), $"e2", $"e3")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"e1", $"e2", $"e3")
      .limit(k)
  }

  /** The pinned `.tri` archive of `dir`'s events: written on first use and
    * reused by later invocations (the bench's steady pass then times
    * read+decode, not a repeated write) — an [[OpCache.directory]] memo,
    * so a rewritten events file rebuilds it.
    */
  private def triArchiveFor(s: SparkSession, dir: String): String = {
    import s.implicits._
    OpCache.directory("tri_cache", s, s"$dir/events.parquet") { base =>
      val ev = events(s, dir).select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      graft.sources.Archive.store(ev, base.resolve("archive").toString, "graft")
    }.resolve("archive").toString
  }

  /** msgpack codec round-trip with dead-letter semantics: encode the record
    * struct with `to_msgpack`, corrupt every 50th payload (0xc1 — a tag the
    * spec never assigns), decode with `from_msgpack` (PERMISSIVE → null),
    * and aggregate survivors + corruption counts — the engine form of the
    * reference's skip-and-count decode loop
    * (`/root/reference/triton/stream_reader.go:173-194`).
    */
  def msgpackRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ddl = "event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT"
    events(s, dir)
      .withColumn("bin",
        when($"event_id" % 50 === 0, expr("X'c1'"))
          .otherwise(expr("to_msgpack(struct(event_id, user_id, event_type, value, ts_us))")))
      .withColumn("rec", expr(s"from_msgpack(bin, '$ddl')"))
      .groupBy(coalesce($"rec.event_type", lit("_corrupt_")).as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(when($"rec".isNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum($"rec.value".cast(DecimalType(12, 2))).cast("double").as("sum_value"),
        max($"rec.ts_us").as("max_ts_us"))
      .orderBy($"event_type")
  }

  /** Distinct cardinality per shard: exact + HyperLogLog sketch side by
    * side. The approx column is deliberately NOT oracle-checked (sketch
    * estimates are engine-specific); at 100 TB the sketch is the one you
    * run.
    */
  def userCardinality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // pre-aggregate to distinct (type, user) pairs: one shuffle with
    // map-side combine instead of the Expand duplication a mixed
    // exact+approx distinct aggregate plans; the HLL sketch is
    // duplicate-insensitive, so its estimate is identical either way.
    events(s, dir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_users_exact"),
        approx_count_distinct($"user_id", 0.01).as("n_users_approx"))
      .orderBy($"event_type")
  }

  /** The exact half of [[userCardinality]] on its own (q74): the same
    * distinct-pair pre-aggregation, no sketch column — SQL-expressible,
    * so unlike q18 it gets a full DuckDB oracle row. q18 keeps the
    * side-by-side form (the estimate column is engine-specific by
    * design); the HLL's error bound is unit-gated instead
    * (`OperatorEquivalenceSpec`).
    */
  def userCardinalityExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"event_type", $"user_id").distinct()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users_exact"))
      .orderBy($"event_type")
  }

  /** ORC round-trip (q112): the events slice written as ORC and read back
    * — the second columnar format every Spark deployment meets (Hive
    * estates are ORC). The per-type rollup is oracled from the ORIGINAL
    * parquet, so a row or a timestamp micro lost in either leg of the
    * format conversion hash-mismatches. Write is partition-parallel, read
    * is a schema-projected columnar scan; the report aggregate combines
    * map-side.
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"event_id", $"ts_us", $"user_id", $"event_type")
    Scratch.withWorkDir("q112_orc") { work =>
      val out = work.resolve("orc").toString
      ev.write.orc(out)
      val report = s.read.orc(out)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"user_id").as("sum_user"),
          min($"ts_us").as("min_ts_us"), max($"ts_us").as("max_ts_us"))
      // bounded: one row per event type — collect so the corpus-sized ORC
      // copy can be deleted under the returned plan (q100's discipline)
      Scratch.collected(report).orderBy($"event_type")
    }
  }

  /** CSV ingest with TYPE-level dead-lettering (q113): next to q100's
    * structurally-corrupt JSONL, the other ingest failure mode — rows
    * that parse as CSV but carry an untypeable field. Every
    * `event_id % 41 == 0` row ships `user_id` as a non-numeric token;
    * under PERMISSIVE mode the typed column nulls and the whole raw line
    * lands in the corrupt-record column, so the pipeline keeps the row
    * for forensics without poisoning the typed stream. Good rows
    * aggregate per type; dead rows produce the one `_dead` accounting
    * row. Oracled by replaying the mod-41 rule on the original parquet.
    */
  def csvDeadLetter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types._
    val ev = events(s, dir).select($"event_id", $"ts_us", $"user_id", $"event_type")
    Scratch.withWorkDir("q113_csv") { work =>
      val out = work.resolve("csv").toString
      ev.select(concat_ws(",", $"event_id", $"ts_us",
          when($"event_id" % 41 === 0, lit("not_a_number"))
            .otherwise($"user_id".cast("string")),
          $"event_type").as("value"))
        .write.text(out)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("_corrupt", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
      // ONE pass: routing good/dead inside the grouping key sidesteps
      // Spark's only-the-corrupt-column-referenced pruning restriction and
      // reads the files once; the dead group's typed aggregates are
      // all-NULL by construction, matching the oracle's NULL row
      val rolled = parsed
        .groupBy(when($"_corrupt".isNull, $"event_type")
          .otherwise(lit("_dead")).as("kind"))
        .agg(count(lit(1)).as("n"),
          sum(when($"_corrupt".isNull, $"user_id")).as("sum_user"),
          max(when($"_corrupt".isNull, $"ts_us")).as("max_ts_us"))
      // bounded: types + the dead row — collect so the corpus-sized CSV
      // copy can be deleted on every exit path (q100's discipline)
      Scratch.collected(rolled).orderBy($"kind")
    }
  }

  /** Latest-state snapshot from the event log (q114): the CDC-read
    * primitive — each user's current state is their last event by
    * (ts, event_id). The Spark side uses `max_by` over a packed ordering
    * struct, which COMBINES MAP-SIDE: each partition reduces to one row
    * per user before the exchange, where the textbook row_number window
    * ships every event through the shuffle first. The oracle is written
    * as that window formulation — hash equality proves the two shapes
    * agree (the (ts_us, event_id) key is unique per user, so "max" and
    * "rn = 1 DESC" pick the same row). Report is a types-bounded rollup
    * of the state table; values quantize to integer cents.
    */
  def latestStateSnapshot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"user_id", $"ts_us", $"event_id", $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"user_id")
      .agg(max_by(struct($"event_type", $"cents", $"ts_us"),
        struct($"ts_us", $"event_id")).as("st"))
      .select($"user_id", $"st.event_type", $"st.cents", $"st.ts_us")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_users"), sum($"cents").as("sum_cents"),
        max($"ts_us").as("max_ts_us"))
      .orderBy($"event_type")
  }

  /** Schema-evolution read (q115): the v2 feed adds a column; half the
    * archive is old files without it. `mergeSchema` unions the file
    * schemas and back-fills NULL for v1 rows — the drift every long-lived
    * pipeline must absorb without a backfill rewrite. The accounting
    * (rows vs rows-with-value, value sum) is oracled by replaying the
    * deterministic v1/v2 split on the original parquet, so a row whose
    * new column leaked a value (or lost one) hash-mismatches.
    */
  def schemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select($"event_id", $"user_id", $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    Scratch.withWorkDir("q115_evo") { work =>
      val root = work.resolve("data")
      ev.where($"event_id" % 2 === 0)
        .select($"event_id", $"user_id", $"event_type")
        .write.parquet(root.resolve("v1").toString)
      ev.where($"event_id" % 2 === 1)
        .write.parquet(root.resolve("v2").toString)
      val rolled = s.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(root.toString)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_rows"),
          count($"cents").as("n_with_value"),
          sum($"cents").as("sum_cents"))
      // bounded: one row per event type — collect so the corpus-sized
      // v1/v2 copies can be deleted on every exit path
      Scratch.collected(rolled).orderBy($"event_type")
    }
  }

  /** DAU/WAU stickiness (q106): per day, distinct active users that day
    * over distinct users in the trailing 7 days — the engagement ratio
    * every product dashboard carries. COUNT(DISTINCT) over a SLIDING
    * window is the trap here: a range self-join multiplies rows, and a
    * window frame can't dedup. Instead each (user, day) contributes
    * itself to the 7 report-days it can retain into — a bounded 7x
    * explode of the already-deduped user-day frame — and one groupBy
    * counts distinct users per report day. Days are integer epoch days;
    * report days are restricted to days that actually have activity
    * (trailing windows at the range start simply cover fewer days).
    */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val userDay = events(s, dir)
      .select($"user_id", expr("ts_us div 86400000000").as("day"))
      .distinct()
    val dau = userDay.groupBy($"day")
      .agg(count(lit(1)).as("dau"))
    val wau = userDay
      .select($"user_id", explode(expr("sequence(day, day + 6)")).as("day"))
      .distinct()
      .groupBy($"day").agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau",
        graft.Tables.round6($"dau" / $"wau").as("stickiness"))
      .orderBy($"day")
  }

  /** Aggregation-skew report (q132): the planning number behind q37's
    * salted aggregate — per-key load distribution for a grouping key,
    * reported as the top heavy keys plus corpus-level skew stats and the
    * integer salting factor ceil(max_load · n_keys / n_rows) that would
    * level the heaviest key to the mean. All integer/exact-rational (no
    * percentile interpolation — cross-engine interpolation chains are
    * exactly the kind of double drift this repo avoids).
    *
    * Scale shape: one scan + one map-side-combined groupBy produce the
    * per-key loads; the summary re-aggregates that derived frame (the
    * q101-class trade: a registered single-pass form would need a
    * two-level struct agg for no clarity gain — noted, not adopted).
    */
  def skewReport(s: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import s.implicits._
    val loads = events(s, dir).groupBy($"user_id")
      .agg(count(lit(1)).as("load"))
    val stats = loads.agg(count(lit(1)).as("n_keys"), sum($"load").as("n_rows"),
      max($"load").as("max_load"))
    loads.orderBy($"load".desc, $"user_id".asc).limit(topK)
      .crossJoin(broadcast(stats))
      .select($"user_id", $"load", $"n_keys", $"n_rows", $"max_load",
        graft.Tables.round6(($"load" * $"n_keys").cast("double") /
          $"n_rows".cast("double")).as("skew_ratio"),
        expr("(max_load * n_keys + n_rows - 1) div n_rows").as("salt_rec"))
      .orderBy($"load".desc, $"user_id".asc)
  }

  /** Cohort LTV triangle (q133): cumulative purchase value per signup
    * cohort by weeks-since-signup — the revenue-retention curve next to
    * q88's user-retention counts. Cohorts and week offsets are INTEGER
    * epoch-week arithmetic; value accumulates in exact cents; only the
    * final per-user division runs in doubles. The cumulative window runs
    * over the (cohorts x weeks)-bounded triangle, never the event log.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wk = 7L * 86400L * 1000000L
    val ev = events(s, dir).select($"user_id", $"ts_us", $"event_type", $"value")
    val cohorts = ev.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"ts_us").as("t0"))
      .select($"user_id", expr(s"t0 div $wk").as("cohort_week"))
    val sizes = cohorts.groupBy($"cohort_week").agg(count(lit(1)).as("cohort_size"))
    val tri = ev.where($"event_type" === "purchase")
      .join(cohorts, "user_id")
      .select($"cohort_week",
        (expr(s"ts_us div $wk") - $"cohort_week").as("weeks_since"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .where($"weeks_since" >= 0)
      .groupBy($"cohort_week", $"weeks_since")
      .agg(count(lit(1)).as("n_purchases"), sum($"cents").as("sum_cents"))
    tri.join(broadcast(sizes), "cohort_week")
      .withColumn("cum_cents", sum($"sum_cents").over(
        Window.partitionBy($"cohort_week").orderBy($"weeks_since")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"cohort_week", $"weeks_since", $"n_purchases", $"sum_cents",
        $"cohort_size",
        graft.Tables.round6($"cum_cents".cast("double") / lit(100.0) /
          $"cohort_size".cast("double")).as("ltv_per_user"))
      .orderBy($"cohort_week", $"weeks_since")
  }

  /** SCD Type-2 history (q136): the slowly-changing-dimension builder —
    * each user's event_type stream collapses into versioned validity
    * intervals [valid_from_us, valid_to_us) with consecutive duplicates
    * merged; valid_to_us = -1 marks the open current version. Both
    * windows share the (user_id, ts) partitioning so Catalyst plans one
    * sort+shuffle; the change-point filter shrinks the frame before the
    * version numbering runs. Per-user work — embarrassingly parallel at
    * any scale, output bounded by the number of state CHANGES.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val changes = events(s, dir)
      .select($"user_id", $"event_id", $"ts_us", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .where($"prev_type".isNull || $"prev_type" =!= $"event_type")
    changes
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to_us", coalesce(lead($"ts_us", 1).over(w), lit(-1L)))
      .select($"user_id", $"version", $"event_type".as("state"),
        $"ts_us".as("valid_from_us"), $"valid_to_us",
        ($"valid_to_us" === -1L).as("is_current"))
      .orderBy($"user_id", $"version")
  }

  /** Concurrency profile (q137): peak simultaneous sessions per day via
    * a sweep line over session start/end points. Sessions are q15's
    * gaps-and-islands intervals (half-open [start, last+gap), so an end
    * and a start at the same instant do NOT overlap — ends sort before
    * starts via the delta tiebreak). The running level is computed
    * WITHOUT a global single-partition window: per-hour net deltas
    * prefix-sum over the bounded hour grid (the q102 offsets trick) give
    * each hour's entering level; a within-hour running sum partitioned
    * by hour finishes it. Peak per day = max point level; tied points
    * with equal (p_us, delta) step through the same level set in any
    * order, so the max is permutation-free.
    */
  def concurrencyProfile(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val sess = events(s, dir)
      .select($"user_id", $"event_id", $"ts_us")
      .withColumn("new_sess",
        when(lag($"ts_us", 1).over(w).isNull ||
          $"ts_us" - lag($"ts_us", 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum($"new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ts_us").as("start_us"), (max($"ts_us") + gapUs).as("end_us"))
      // materialized once per invocation (round 13, guide §1.2): the
      // start/end point union reads this frame twice and each of those
      // feeds both the hour-offset aggregate and the sweep join — the
      // corpus sessionize window otherwise re-runs per branch. The frame
      // is session-bounded; blocks die with the invocation's RDD ref.
      .localCheckpoint(true)
    val points = sess.select($"start_us".as("p_us"), lit(1L).as("delta"))
      .unionByName(sess.select($"end_us".as("p_us"), lit(-1L).as("delta")))
      .withColumn("hour", expr("p_us div 3600000000"))
    val wOff = Window.orderBy($"hour").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = points.groupBy($"hour").agg(sum($"delta").as("net"))
      .withColumn("off", coalesce(sum($"net").over(wOff), lit(0L)))
      .select($"hour", $"off")
    val wIn = Window.partitionBy($"hour").orderBy($"p_us", $"delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    points.join(broadcast(offsets), "hour")
      .withColumn("level", $"off" + sum($"delta").over(wIn))
      .groupBy(expr("p_us div 86400000000").as("day"))
      .agg(max($"level").as("peak_concurrency"), count(lit(1)).as("n_points"))
      .orderBy($"day")
  }

  /** Seasonal (day-of-week x hour) profile (q127): the 168-cell baseline
    * every traffic-anomaly system compares against — q86's trailing
    * z-score catches "this hour is off its recent trend", this catches
    * "Tuesday 3am is not supposed to look like Friday 8pm". Per cell:
    * events, exact-cent value sum, mean, and a rate index (cell share of
    * traffic vs the uniform 1/168 — an exact integer rational).
    *
    * Engine-neutral calendar: dow/hour come from INTEGER epoch
    * arithmetic ((days + 4) % 7, 0 = Sunday; epoch day 0 was a Thursday)
    * — never from dayofweek()/hour() whose week conventions differ
    * across engines. One scan, map-side combine into 168 cells.
    */
  def seasonalProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = events(s, dir)
      .select(
        expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
        expr("(ts_us div 3600000000) % 24").as("hour"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .groupBy($"dow", $"hour")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
    // total via a window over the 168-row aggregate — a crossJoin with
    // cells.agg(...) would re-run the scan; the single-partition window
    // is bounded by the grid, not the data
    cells.withColumn("n_total",
        sum($"n_events").over(Window.partitionBy()))
      .select($"dow", $"hour", $"n_events", $"sum_cents",
        graft.Tables.round6($"sum_cents".cast("double") / lit(100.0) /
          $"n_events".cast("double")).as("mean_value"),
        graft.Tables.round6(($"n_events" * 168).cast("double") /
          $"n_total".cast("double")).as("rate_idx"))
      .orderBy($"dow", $"hour")
  }

  /** Right-to-be-forgotten cascade audit (q125): given a deterministic
    * delete-key set (customers with c_custkey % 97 = 0 — standing in for
    * the uploaded deletion list), report per downstream table how many
    * rows reference the forgotten keys (the pre-cascade LEAK — the number
    * a compliance audit actually wants) and how many survive the cascade.
    * One row per table: rows_before, refs_deleted, rows_after.
    *
    * Scale shape: the key list is a dimension-side filter (broadcast
    * semi/anti in the plan); each fact table is scanned ONCE with the
    * membership check folded into a conditional aggregate — no join
    * output materializes, just counters. The `orders` leg routes through
    * o_custkey, `events` through user_id = c_custkey (the q119 edge).
    */
  def purgeAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val del = table(s, dir, "customer")
      .where($"c_custkey" % 97 === 0).select($"c_custkey".as("k"))
    def audit(tbl: String, df: DataFrame, key: org.apache.spark.sql.Column) =
      df.join(broadcast(del), key === $"k", "left")
        .agg(count(lit(1)).as("rows_before"),
          sum(when($"k".isNotNull, 1L).otherwise(0L)).as("refs_deleted"),
          sum(when($"k".isNull, 1L).otherwise(0L)).as("rows_after"))
        .select(lit(tbl).as("tbl"), $"rows_before", $"refs_deleted", $"rows_after")
    audit("customer", table(s, dir, "customer"), $"c_custkey")
      .unionAll(audit("orders", table(s, dir, "orders"), $"o_custkey"))
      .unionAll(audit("events", events(s, dir), $"user_id"))
      .orderBy($"tbl")
  }

  /** Within-session event-type co-occurrence lift (q126): for every pair
    * of event types, does seeing one in a session make the other more
    * likely? lift = P(ab)/(P(a)P(b)) = (n_ab · N) / (n_a · n_b) — an
    * EXACT integer rational, one double division at the end. Sessions are
    * q15's 30-minute-gap definition; co-occurrence is at the distinct-
    * type level, so the within-session pair fan-out is bounded by the
    * type vocabulary (≤ C(5,2) pairs per session here), never by events.
    */
  def basketLift(s: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val st = events(s, dir)
      .select($"user_id", $"event_id", $"ts_us", $"event_type")
      .withColumn("brk",
        when(lag($"ts_us", 1).over(w).isNull ||
          $"ts_us" - lag($"ts_us", 1).over(w) >= gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"brk").over(
        Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"user_id", $"sid", $"event_type").distinct()
      // materialized once per invocation (round 13, guide §1.2): FOUR
      // plan branches read this frame (session total, per-type counts,
      // both sides of the pair self-join) and exchange reuse does not
      // cover the window computation above it — without the eager
      // localCheckpoint the corpus sessionize window ran 4x per call.
      // The frame is session×type-bounded; blocks die with the RDD ref.
      .localCheckpoint(true)
    val nTotal = st.select($"user_id", $"sid").distinct()
      .agg(count(lit(1)).as("n_total"))
    val perType = st.groupBy($"event_type").agg(count(lit(1)).as("n"))
    val pairs = st.as("a").join(st.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.sid" === $"b.sid" &&
          $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(perType.select($"event_type".as("type_a"), $"n".as("n_a"))), "type_a")
      .join(broadcast(perType.select($"event_type".as("type_b"), $"n".as("n_b"))), "type_b")
      .crossJoin(broadcast(nTotal))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_ab",
        graft.Tables.round6(($"n_ab" * $"n_total").cast("double") /
          ($"n_a" * $"n_b").cast("double")).as("lift"))
      .orderBy($"type_a", $"type_b")
  }

  /** Deterministic A/B experiment readout (q122): assign every user a
    * variant by seedless hash (the q80 split discipline — reproducible
    * across runs, engines, and backfills, unlike a stored assignment
    * table), take first click as exposure, count a conversion iff a
    * purchase lands within 7 days AFTER exposure, and emit the
    * two-proportion pooled z-score — the number every experimentation
    * readout ends in.
    *
    * Scale shape: exposure is one map-side-combinable min per user;
    * conversions are a user-keyed 1:N join (one exposure row meets that
    * user's purchases only) collapsed back to one bit per user before
    * the ≤2-row variant rollup; the z arithmetic runs on a 1-row frame.
    * No window over the raw stream, nothing driver-side.
    *
    * Determinism: counts are exact integers; the cvr/lift/z chain is a
    * fixed-order double expression over those integers, round6-quantized
    * — the q86 z-score discipline.
    */
  def experimentLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"ts_us", $"event_type")
    val exposure = ev.where($"event_type" === "click")
      .groupBy($"user_id").agg(min($"ts_us").as("t0"))
      .withColumn("variant",
        when(expr("hash60(cast(user_id as string))") % 2 === 0, "A")
          .otherwise("B"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts_us".as("tp"))
    val perUser = exposure.join(purchases, Seq("user_id"), "left")
      .groupBy($"user_id", $"variant")
      .agg(max(when($"tp" > $"t0" &&
        $"tp" <= $"t0" + lit(7L * 24 * 3600 * 1000000L), 1L)
        .otherwise(0L)).as("converted"))
    // one conditional aggregate, not a where-split + crossJoin — the
    // latter would recompute the exposure join once per variant
    val ab = perUser.agg(
      sum(when($"variant" === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when($"variant" === "A", $"converted").otherwise(0L)).as("k_a"),
      sum(when($"variant" === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when($"variant" === "B", $"converted").otherwise(0L)).as("k_b"))
    val pA = $"k_a".cast("double") / $"n_a".cast("double")
    val pB = $"k_b".cast("double") / $"n_b".cast("double")
    val pp = ($"k_a" + $"k_b").cast("double") / ($"n_a" + $"n_b").cast("double")
    ab.select(
      $"n_a", $"k_a", $"n_b", $"k_b",
      graft.Tables.round6(pA).as("cvr_a"),
      graft.Tables.round6(pB).as("cvr_b"),
      graft.Tables.round6(pA - pB).as("lift_abs"),
      graft.Tables.round6((pA - pB) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / $"n_a".cast("double") + lit(1.0) / $"n_b".cast("double"))))
        .as("z_score"))
  }

  /** Z-order layout pruning report (q121): quantifies what interleaved-bit
    * (Morton) clustering buys a 2-D probe over single-column sorting —
    * the data-layout decision behind every "cluster by" / file-skipping
    * story at 100 TB, where a scan that can't prune files pays for the
    * full corpus.
    *
    * Both dimensions (user_id, event time) normalize to an 8-bit grid in
    * EXACT integer arithmetic (`div`, never a double), interleave to a
    * 16-bit Morton code, and bucket two ways with the SAME bucket count:
    * z >> 8 (the top 4 bits of each dimension — the z-order file) versus
    * tb (time-sorted files, the default layout everyone ships first).
    * Per bucket the report keeps the min/max manifest a writer would put
    * in footer metadata, then replays a fixed rectangle probe (the middle
    * quarter of each dimension) against the manifests: a bucket is
    * skipped iff its [min,max] envelope misses the rectangle on either
    * dimension. Output is one row per layout — buckets scanned, rows
    * scanned, rows actually matching (identical across layouts by
    * construction — the sanity anchor), and the scan fraction.
    *
    * Scale shape: ONE corpus scan; the explode doubles rows into the
    * aggregate but map-side combine collapses to ≤2·256 bucket rows per
    * partition before the (bounded) shuffle; everything after is
    * arithmetic on ≤512 rows. The physical form at deployment is
    * `sortWithinPartitions(z)` + the q78 shard writer; the manifest math
    * here is the part that decides whether that write is worth it.
    */
  def zorderPruning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id".as("u"), $"ts_us".as("t"))
    val bounds = ev.agg(min($"u").as("min_u"), max($"u").as("max_u"),
      min($"t").as("min_t"), max($"t").as("max_t"))
    val grid = ev.crossJoin(broadcast(bounds))
      .select(
        expr("(u - min_u) * 256 div (max_u - min_u + 1)").as("ub"),
        expr("(t - min_t) * 256 div (max_t - min_t + 1)").as("tb"))
    // 16-bit Morton code: user bit i -> position 2i+1, time bit i -> 2i
    val z = (0 until 8).map { i =>
      shiftleft(shiftright($"ub", i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright($"tb", i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
    val probeLo = 64L; val probeHi = 127L // middle quarter of each dim
    val manifests = grid
      .select($"ub", $"tb", shiftright(z, 8).as("zb"))
      .select(explode(array(
        struct(lit("zorder").as("layout"), $"zb".as("bucket")),
        struct(lit("tsort").as("layout"), $"tb".as("bucket")))).as("lb"),
        $"ub", $"tb")
      .groupBy($"lb.layout".as("layout"), $"lb.bucket".as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        min($"ub").as("lo_u"), max($"ub").as("hi_u"),
        min($"tb").as("lo_t"), max($"tb").as("hi_t"),
        sum(when($"ub".between(probeLo, probeHi) &&
          $"tb".between(probeLo, probeHi), 1L).otherwise(0L)).as("hit"))
    val scanned = $"hi_u" >= probeLo && $"lo_u" <= probeHi &&
      $"hi_t" >= probeLo && $"lo_t" <= probeHi
    manifests.groupBy($"layout")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(scanned, 1L).otherwise(0L)).as("buckets_scanned"),
        sum(when(scanned, $"cnt").otherwise(0L)).as("rows_scanned"),
        sum($"hit").as("rows_matching"),
        sum($"cnt").as("rows_total"))
      .select($"layout", $"n_buckets", $"buckets_scanned", $"rows_scanned",
        $"rows_matching",
        graft.Tables.round6($"rows_scanned".cast("double") /
          $"rows_total".cast("double")).as("scan_frac"))
      .orderBy($"layout")
  }

  /** CUSUM drift detection over the daily event series (q140): the
    * classic sequential change detector — cumulative sums of deviations
    * from the series mean, clamped at zero, flagging sustained level
    * shifts that a per-day z-score (q86) smears out. All arithmetic is
    * INTEGER: deviations are scaled by the day count D so the mean never
    * becomes a fraction (v_d = n_d*D - T), the slack is K = T div 4
    * (a quarter-mean per day) and the alarm threshold H = 2*T (two
    * mean-days of accumulated drift).
    *
    * The textbook recursion s_d = max(0, s_{d-1} + v_d - K) is not a
    * window function, but its closed form is: with P_d the plain running
    * sum of (v_d - K), s_d = P_d - min(0, min_{j<=d} P_j). Both engines
    * compute exactly that with two window passes — no recursion, no
    * fold. The windows are single-partition but run over the BOUNDED
    * daily grid (one row per observed day), not the event stream; the
    * one corpus-sized operation is the day rollup, which map-side
    * combines.
    */
  def cusumDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = events(s, dir)
      .groupBy(expr("ts_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val wAll = Window.partitionBy()
    val wRun = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", sum($"n_events").over(wAll))
      .withColumn("d", count(lit(1)).over(wAll))
      .withColumn("wp", $"n_events" * $"d" - $"t" - expr("t div 4"))
      .withColumn("wn", $"t" - $"n_events" * $"d" - expr("t div 4"))
      .withColumn("pp", sum($"wp").over(wRun))
      .withColumn("pn", sum($"wn").over(wRun))
      .withColumn("cusum_pos", $"pp" - least(lit(0L), min($"pp").over(wRun)))
      .withColumn("cusum_neg", $"pn" - least(lit(0L), min($"pn").over(wRun)))
      .select($"day", $"n_events", $"cusum_pos", $"cusum_neg",
        ($"cusum_pos" > $"t" * 2).as("spike"),
        ($"cusum_neg" > $"t" * 2).as("dip"))
      .orderBy($"day")
  }

  /** Frequent event-type 3-sequences (q153): PrefixSpan-style sequential
    * pattern support — for every ordered type triple (a→b→c), how many
    * users exhibit it as a subsequence (other events may interleave;
    * q93's transition trigrams required adjacency, this does not — the
    * difference between "path taken" and "behavioral motif"). Support
    * counts USERS (exists-semantics via distinct), the standard
    * sequence-mining definition.
    *
    * Scale shape: each user's stream is capped to its first `cap`
    * events (documented truncation — the industry norm for motif
    * mining; the cap bounds the triple fan-out at C(cap,3) per user),
    * so the generator is user-linear. Position indices come from ONE
    * user-partitioned sort shared by all three join legs; the triple
    * join runs user-keyed (never cross-user), and distinct collapses to
    * exists before the type³-bounded rollup.
    */
  def frequentSequences(s: SparkSession, dir: String, cap: Int = 10,
                        minUsers: Int = 2): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select($"user_id", $"ts_us", $"event_type")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"user_id").orderBy($"ts_us", $"event_type")))
      .where($"rn" <= cap)
      .select($"user_id", $"rn", $"event_type")
    val a = ev.select($"user_id", $"rn".as("ra"), $"event_type".as("t1"))
    val b = ev.select($"user_id", $"rn".as("rb"), $"event_type".as("t2"))
    val c = ev.select($"user_id", $"rn".as("rc"), $"event_type".as("t3"))
    a.join(b, Seq("user_id")).where($"ra" < $"rb")
      .join(c, Seq("user_id")).where($"rb" < $"rc")
      .select($"user_id", $"t1", $"t2", $"t3").distinct()
      .groupBy($"t1", $"t2", $"t3").agg(count(lit(1)).as("n_users"))
      .where($"n_users" >= minUsers)
      .orderBy($"t1", $"t2", $"t3")
  }

  /** CUPED-adjusted experiment readout (q154): q122's hash-split A/B
    * lift with variance reduction from the pre-period covariate
    * (Deng et al., WSDM'13 — the standard trick every experimentation
    * platform ships). Users split on hash60 parity; the experiment
    * window opens at the corpus time midpoint: x = a user's event count
    * BEFORE the midpoint (unaffected by treatment by construction),
    * y = count after. θ = cov(x,y)/var(x) pooled across both arms, and
    * each arm's adjusted mean uses the linearity shortcut
    * ȳ_v − θ·(x̄_v − x̄) — so NO per-row double ever exists: everything
    * folds to exact BIGINT sums (n, Σx, Σy, Σxy, Σx²) per arm, and θ /
    * means / lifts are fixed-order double chains over those integers,
    * round6-quantized (the q145 discipline: products may exceed 2^53
    * but IEEE round-to-nearest is engine-identical).
    *
    * Scale shape: one scan → per-user conditional counts (map-side
    * combined), one ≤2-row conditional rollup, arithmetic on one row.
    */
  def cupedLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"user_id", $"ts_us")
    val mid = ev.agg(((min($"ts_us") + max($"ts_us")) / 2).cast("long").as("t_mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy($"user_id").agg(
        sum(when($"ts_us" < $"t_mid", 1L).otherwise(0L)).as("x"),
        sum(when($"ts_us" >= $"t_mid", 1L).otherwise(0L)).as("y"))
      .withColumn("va", expr("hash60(cast(user_id as string)) % 2 = 0"))
    val agg = perUser.agg(
      count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
      sum(when($"va", 1L).otherwise(0L)).as("n_a"),
      sum(when($"va", $"x").otherwise(0L)).as("sx_a"),
      sum(when($"va", $"y").otherwise(0L)).as("sy_a"),
      sum(when(!$"va", 1L).otherwise(0L)).as("n_b"),
      sum(when(!$"va", $"x").otherwise(0L)).as("sx_b"),
      sum(when(!$"va", $"y").otherwise(0L)).as("sy_b"))
    // θ = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²); var(x)=0 (constant covariate)
    // degrades to θ=0, i.e. the unadjusted readout — spec-pinned.
    val theta = when(
      expr("cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double)") === 0.0,
      lit(0.0))
      .otherwise(expr(
        """(cast(n as double) * cast(sxy as double) - cast(sx as double) * cast(sy as double))
          | / (cast(n as double) * cast(sxx as double) - cast(sx as double) * cast(sx as double))""".stripMargin))
    val xbar = expr("cast(sx as double) / cast(n as double)")
    def mAdj(syv: String, sxv: String, nv: String) =
      expr(s"cast($syv as double) / cast($nv as double)") -
        $"theta" * (expr(s"cast($sxv as double) / cast($nv as double)") - $"xbar")
    agg.withColumn("theta", theta).withColumn("xbar", xbar)
      .select($"n_a", $"n_b",
        graft.Tables.round6(expr("cast(sy_a as double) / cast(n_a as double)")).as("mean_a"),
        graft.Tables.round6(expr("cast(sy_b as double) / cast(n_b as double)")).as("mean_b"),
        graft.Tables.round6(mAdj("sy_a", "sx_a", "n_a")).as("adj_a"),
        graft.Tables.round6(mAdj("sy_b", "sx_b", "n_b")).as("adj_b"),
        graft.Tables.round6($"theta").as("theta"),
        graft.Tables.round6(
          expr("cast(sy_a as double) / cast(n_a as double) - cast(sy_b as double) / cast(n_b as double)"))
          .as("lift_raw"),
        graft.Tables.round6(mAdj("sy_a", "sx_a", "n_a") - mAdj("sy_b", "sx_b", "n_b"))
          .as("lift_adj"))
  }

  /** Per-user event lag features (q158): for every event, the gap to the
    * user's previous event, the gap before that, and the trailing-3
    * mean gap — the feature block every sequence model (churn, intent,
    * next-event) trains on, emitted as exact integer microseconds
    * (mean is floor-div). First events emit −1 sentinels instead of
    * NULL so the compare column stays BIGINT end-to-end.
    *
    * Scale shape: ONE user-partitioned sort serves all three windows
    * (lag, lag², trailing frame) — Catalyst plans a single Exchange +
    * Sort; output is event-linear with no further shuffle.
    */
  def lagFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lagFeaturesCore(s, dir).orderBy($"user_id", $"event_id")
  }

  /** [[lagFeatures]] without the output presentation sort —
    * AdversarialSkewSpec measures the window stage's task sizes here,
    * where the final range exchange can't blur them. */
  private[graft] def lagFeaturesCore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wf = w.rowsBetween(-3, -1)
    events(s, dir)
      .select($"event_id", $"user_id", $"ts_us", $"event_type")
      .withColumn("gap1", $"ts_us" - lag($"ts_us", 1).over(w))
      .withColumn("gap2", lag($"ts_us", 1).over(w) - lag($"ts_us", 2).over(w))
      .withColumn("_first3", first($"ts_us").over(wf))
      .withColumn("_cnt3", count($"ts_us").over(wf))
      .withColumn("mean_gap3",
        // mean of the last k<=3 gaps telescopes to (ts - ts_{i-k}) / k,
        // so the frame needs only its ENDPOINT (first) and size (count)
        when($"_cnt3" > 0, expr("(ts_us - _first3) div _cnt3"))
          .otherwise(lit(-1L)))
      .select($"event_id", $"user_id", $"event_type",
        coalesce($"gap1", lit(-1L)).as("gap1_us"),
        coalesce($"gap2", lit(-1L)).as("gap2_us"),
        $"mean_gap3")
  }

  /** Skew-bounded lag features (q187): [[lagFeatures]]' exact semantics
    * with the window partition key widened from `user_id` to
    * `(user_id, ts-bucket)` — the registered remedy for the one shape a
    * user-keyed window cannot survive at scale: a single user owning an
    * unbounded share of the corpus. A window partition is processed by
    * ONE task (AQE's skew handling splits joins and aggregations, never
    * window partitions), so q158's plan puts a 90%-one-key corpus's
    * whole hot key through one straggler. Here every window partition is
    * bucket-bounded whatever the key distribution; `bucketUs` is the
    * executor-fit knob.
    *
    * Exactness across bucket boundaries: the feature frame looks back at
    * most 3 events, so each (user, bucket) partition is seeded with a
    * CARRY of the user's last <=3 events before the bucket — built from
    * per-(user, bucket) tail summaries (<=3 rows each, so the
    * carry-window frame is #non-empty-buckets-sized, bounded by the time
    * span, not the corpus — the q52/q131 two-level discipline). Any
    * bounded-frame window feature chunks the same way; UNBOUNDED frames
    * (running totals) instead decompose via q131's prefix-sum offsets.
    * Hash-certified equal to q158 under the SAME oracle text (the
    * q183/q184 precedent); AdversarialSkewSpec pins the per-task bound
    * under a 90%-one-key corpus.
    */
  def lagFeaturesChunked(s: SparkSession, dir: String,
                         bucketUs: Long = 6L * 3600L * 1000000L): DataFrame = {
    import s.implicits._
    lagFeaturesChunkedCore(s, dir, bucketUs).orderBy($"user_id", $"event_id")
  }

  /** [[lagFeaturesChunked]] without the output presentation sort (see
    * [[lagFeaturesCore]]). */
  private[graft] def lagFeaturesChunkedCore(s: SparkSession, dir: String,
                                            bucketUs: Long): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
      .select($"event_id", $"user_id", $"ts_us", $"event_type")
      .withColumn("bucket", expr(s"ts_us div ${bucketUs}L"))
    // per-(user, bucket) tail: the bucket's last <=3 (ts, id) pairs —
    // group state is bucket-bounded by construction
    val tails = ev
      .groupBy($"user_id", $"bucket")
      .agg(slice(reverse(array_sort(collect_list(struct($"ts_us", $"event_id")))), 1, 3)
        .as("tail"))
    // carry per bucket: last <=3 events across the previous <=3 NON-EMPTY
    // buckets (each holds >=1 event, so 3 buckets cover any 3-deep
    // lookback); this window runs on the tails summary, not the corpus
    val wCarry = Window.partitionBy($"user_id").orderBy($"bucket").rowsBetween(-3, -1)
    val carryRows = tails
      .withColumn("carry",
        slice(reverse(array_sort(flatten(collect_list($"tail").over(wCarry)))), 1, 3))
      .select($"user_id", $"bucket", explode($"carry").as("e"))
      .select($"e.event_id".as("event_id"), $"user_id", $"e.ts_us".as("ts_us"),
        lit(null).cast("string").as("event_type"), $"bucket",
        lit(true).as("is_carry"))
    val w = Window.partitionBy($"user_id", $"bucket").orderBy($"ts_us", $"event_id")
    val wf = w.rowsBetween(-3, -1)
    ev.withColumn("is_carry", lit(false)).unionByName(carryRows)
      .withColumn("gap1", $"ts_us" - lag($"ts_us", 1).over(w))
      .withColumn("gap2", lag($"ts_us", 1).over(w) - lag($"ts_us", 2).over(w))
      .withColumn("_first3", first($"ts_us").over(wf))
      .withColumn("_cnt3", count($"ts_us").over(wf))
      .withColumn("mean_gap3",
        when($"_cnt3" > 0, expr("(ts_us - _first3) div _cnt3"))
          .otherwise(lit(-1L)))
      .where(!$"is_carry")
      .select($"event_id", $"user_id", $"event_type",
        coalesce($"gap1", lit(-1L)).as("gap1_us"),
        coalesce($"gap2", lit(-1L)).as("gap2_us"),
        $"mean_gap3")
  }

  /** Backward as-of click attribution through the NATIVE as-of join
    * (q175): each purchase takes the latest click by the same user at or
    * before it, within 2 h — q99's family, but strict-backward semantics
    * (the attribution rule most pipelines actually ship) and a different
    * engine path: q99 composes windows over a unioned event stream (one
    * shuffle+sort over purchases AND clicks together), while this runs
    * [[graft.plans.AsOfJoinExec]] — per-side exchanges, per-partition
    * single-pass merge, O(1) state (see AsOfJoin.scala). Ties at equal
    * click ts break to the greatest click_id, pinned in the oracle.
    */
  def asOfNativeClick(s: SparkSession, dir: String,
                      tolUs: Long = 2L * 3600L * 1000000L): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us".as("purchase_us"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("click_user"), $"event_id".as("click_id"),
        $"ts_us".as("click_us"))
    graft.plans.AsOf.asofBackward(purchases, clicks,
        leftKey = "user_id", leftTs = "purchase_us",
        rightKey = "click_user", rightTs = "click_us",
        rightTiebreak = "click_id", tolUs = tolUs)
      .select($"user_id", $"purchase_id", $"purchase_us",
        $"click_id", $"click_us",
        ($"purchase_us" - $"click_us").as("delta_us"))
      .orderBy($"purchase_id")
  }

  /** NEAREST-direction as-of through the native operator (q183): the
    * exact q99 semantics — nearest click within ±2 h, ties backward,
    * same-instant clicks split by (ts, event_id) interleaving — under
    * q99's own oracle text, but executed by [[graft.plans.AsOfJoinExec]]
    * instead of q99's union+double-window composition. Hash equality
    * with q99 is the point: the custom physical operator's
    * direction/tolerance logic is certified by the same DuckDB row the
    * window form passes, while the PLAN (per-side exchanges, no unioned
    * sort, no Window — pinned in AsOfJoinSpec) is the one that survives
    * a skewed 100 TB event log.
    */
  def asOfNearestClickNative(s: SparkSession, dir: String,
                             tolUs: Long = 2L * 3600L * 1000000L): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us".as("purchase_us"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("click_user"), $"event_id".as("c_id"),
        $"ts_us".as("c_us"))
    graft.plans.AsOf.asofNearest(purchases, clicks,
        leftKey = "user_id", leftTs = "purchase_us", leftTiebreak = "purchase_id",
        rightKey = "click_user", rightTs = "c_us",
        rightTiebreak = "c_id", tolUs = tolUs)
      .select($"user_id", $"purchase_id", $"purchase_us",
        $"c_id".as("click_id"), $"c_us".as("click_us"),
        // both directions are non-negative distances; abs covers back
        // (p >= c) and forward (c >= p) in one expression, matching the
        // oracle's CASE arms exactly
        when($"c_us".isNotNull, abs($"c_us" - $"purchase_us")).as("delta_us"))
      .orderBy($"purchase_id")
  }

  /** Daily new-user and cumulative-user curve (q165): each user counts
    * once, on their FIRST day — the audience-growth companion to q88's
    * retention triangle (same first-touch frame) and the exact form of
    * the running-distinct curve q18 approximates with HLL.
    *
    * Scale shape: events collapse to one row per user (min-day agg,
    * map-side combined), then to one row per day; only the day-bounded
    * frame crosses the final single-partition running-sum window — a
    * few thousand rows for decades of days, so the non-parallel window
    * is a constant, not a scan.
    */
  def cumulativeUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val firstDay = events(s, dir)
      .groupBy($"user_id")
      .agg(min(expr("ts_us div 86400000000")).as("day"))
    val newUsers = firstDay.groupBy($"day").agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, 0)
    newUsers
      .select($"day", $"new_users", sum($"new_users").over(w).as("cum_users"))
      .orderBy($"day")
  }

  /** Gap-filled hourly series with forward-fill imputation (q170): the
    * time-series preprocessing step every monitoring/feature pipeline
    * runs — densify the hour axis so silent hours EXIST as rows (n=0),
    * then carry the last observed hourly revenue forward
    * (`last(ignoreNulls)` over an ordered per-type window; -1 sentinel
    * before a type's first observation, the q158 convention). q86 scores
    * observed buckets only and documents the gap caveat; this is the
    * densified dual it points to.
    *
    * Scale shape: the dense axis is types x hours (bounded, generated —
    * never a corpus-sized shuffle); the fill window partitions by type
    * over that bounded frame. The only event-sized work is the initial
    * hourly rollup, map-side combined.
    */
  def forwardFillHourly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hourly = events(s, dir)
      .select($"event_type", expr("ts_us div 3600000000").as("hour_epoch"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type", $"hour_epoch")
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
    // global hour bounds: two scalars, broadcast by construction
    val bounds = events(s, dir)
      .agg(min(expr("ts_us div 3600000000")).as("h0"),
        max(expr("ts_us div 3600000000")).as("h1"))
    val axis = hourly.select($"event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select($"event_type", explode(expr("sequence(h0, h1)")).as("hour_epoch"))
    val w = Window.partitionBy($"event_type").orderBy($"hour_epoch")
      .rowsBetween(Window.unboundedPreceding, 0)
    axis.join(hourly, Seq("event_type", "hour_epoch"), "left")
      .select($"event_type", $"hour_epoch",
        coalesce($"n_events", lit(0L)).as("n_events"),
        coalesce(last($"sum_cents", ignoreNulls = true).over(w), lit(-1L))
          .as("filled_cents"))
      .orderBy($"event_type", $"hour_epoch")
  }

  /** Hour-of-day value percentile bands per event type (q173): the ops
    * dashboard's "p50/p90/p99 by hour" panel — seasonality of the value
    * distribution, not just its volume (q127 profiles counts; this
    * profiles the distribution tails that page people).
    *
    * Percentiles run on integer CENTS so the interpolated midpoints are
    * exact halves — the q168 cross-engine discipline. Output is types x
    * 24 rows; the aggregate is sort-based within (type, hod) groups.
    */
  def hourlyPercentileBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"event_type", expr("(ts_us div 3600000000) % 24").as("hour_of_day"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type", $"hour_of_day")
      .agg(
        count(lit(1)).as("n_events"),
        graft.Tables.round6(expr("percentile(cents, 0.5)")).as("p50_cents"),
        graft.Tables.round6(expr("percentile(cents, 0.9)")).as("p90_cents"),
        graft.Tables.round6(expr("percentile(cents, 0.99)")).as("p99_cents"))
      .orderBy($"event_type", $"hour_of_day")
  }

  /** Event property ingest through Spark 4's VARIANT type (q169): the
    * q14 JSON-props decode re-expressed on the engine's binary
    * semi-structured path — `parse_json` shreds each props payload once
    * into VARIANT and `try_variant_get` extracts typed fields without
    * re-parsing text per extraction (a real ingest does dozens of
    * extractions, which is where VARIANT's parse-once pays). Corrupt
    * payloads surface as NULL variants and count as dead letters, the
    * same skip-and-count contract as S4/q113.
    *
    * Scale shape: per-row kernel, no shuffle until the event_type
    * rollup; VARIANT columns are columnar binary, so a 100 TB ingest
    * avoids the JSON-string reparse tax on every downstream read.
    */
  def variantIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .select($"event_type",
        try_parse_json($"props").as("v"))
      .select($"event_type",
        $"v".isNull.as("corrupt"),
        try_variant_get($"v", "$.k", "bigint").as("k"))
      .groupBy($"event_type")
      .agg(
        sum(when($"corrupt", 1L).otherwise(0L)).as("n_corrupt"),
        sum(when($"corrupt".unary_! && $"k".isNull, 1L).otherwise(0L)).as("n_k_missing"),
        sum(coalesce($"k", lit(0L))).as("sum_k"),
        max($"k").as("max_k"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** RFM segmentation (q177): the classic per-user recency/frequency/
    * monetary feature block plus a fixed-threshold segment label — the
    * churn-model input and lifecycle-marketing cut. Thresholds are FIXED
    * constants (not ntile ranks): scale-safe (no global window — q102
    * documents why rank-based binning needs special machinery) and
    * cross-engine exact (integer compares only).
    *
    * Scale shape: one user-bounded aggregate over events, one broadcast
    * scalar (the corpus max day), a per-row CASE, then a segments-sized
    * rollup. Nothing exceeds user cardinality.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perUser = events(s, dir)
      .groupBy($"user_id")
      .agg(
        max(expr("ts_us div 86400000000")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(floor($"value" * 100 + 0.5).cast("long")).as("monetary_cents"))
    val maxDay = events(s, dir).agg(max(expr("ts_us div 86400000000")).as("d0"))
    perUser.crossJoin(broadcast(maxDay))
      .select($"user_id", ($"d0" - $"last_day").as("recency_days"),
        $"frequency", $"monetary_cents")
      .withColumn("segment",
        when($"frequency" >= 20 && $"recency_days" <= 7, "champion")
          .when($"recency_days" <= 7, "recent")
          .when($"frequency" >= 20, "frequent")
          .when($"recency_days" >= 30, "at_risk")
          .otherwise("regular"))
      .groupBy($"segment")
      .agg(
        count(lit(1)).as("n_users"),
        sum($"monetary_cents").as("sum_cents"),
        graft.Tables.round6(avg($"frequency")).as("avg_frequency"),
        graft.Tables.round6(avg($"recency_days")).as("avg_recency_days"))
      .orderBy($"segment")
  }

  /** Watermark lateness audit (q179): makes Append-mode late-data DROPS
    * visible instead of silent — the observability piece every
    * watermarked pipeline needs when sink counts drift from batch
    * counts. Spark's REAL aggregate-lateness rule (established by
    * measurement, not the docs' shorthand): a late row is dropped iff
    * its window was already EVICTED — i.e. window end <= the watermark
    * of a PRIOR batch; a row below the watermark whose window is still
    * in state merges and emits once. So the audit pins the eviction
    * point deterministically: batch 1 = on-time data (event_id % 50
    * != 0), batch 2 = a mid-sentinel at max(on-time)+10min whose batch
    * END evicts exactly the windows closed at max(on-time), batch 3 =
    * the late slice (drops iff hour-window end <= max(on-time), both
    * classes populated), batch 4 = the +4h drain sentinel. Batch
    * composition is exact because every staged group is written as ONE
    * job repartitioned to exactly the on-time file count (mtime-ordered
    * groups, maxFilesPerTrigger = group size — the q159 discipline
    * generalized to multiple controlled batches; which rows share a
    * file within a group is irrelevant, only group membership is). The
    * oracle replays the mod-50 rule and the eviction cut in integer ms.
    *
    * Scale shape: the on-time pass-through is file-parallel; only the
    * ~2% late slice coalesces to one file; state is hour-bounded; the
    * report is types-sized.
    */
  def lateDataAudit(s: SparkSession, dir: String,
                    lateMod: Long = 50): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"event_id", $"event_type",
      timestamp_micros($"ts_us").as("ts"))
    // the staged file set — on-time pass-through (~98% of the CORPUS
    // written per pass before this memo), late slice, two sentinel
    // groups, group order pinned by explicit mtimes — is a pure function
    // of the corpus: built once per (session, corpus stamp) and
    // symlinked into each run's work dir (StreamOps.linkInto; the
    // symlinked stream source reads the TARGETS' pinned mtimes, so batch
    // composition is exactly the built layout). The drain, the sink
    // read-back, and the per-type totals still run in full every pass.
    val stagedSrc = OpCache.directory(s"q179src_$lateMod", s, s"$dir/events.parquet") { root =>
      // the on-time write and the max-ts probe are independent jobs —
      // overlap them (guide §2.6); the write's file count gates staging
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration._
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        val maxTsF = Future(ev.agg(max($"ts")).head.getTimestamp(0))
        ev.where($"event_id" % lateMod =!= 0)
          .write.parquet(root.resolve("w_ontime").toString)
        // on-time files keep their natural (oldest) mtimes; groups pin
        // t0 + rank minutes below
        val onTime = new java.io.File(root.resolve("w_ontime").toString)
          .listFiles().filter(_.getName.endsWith(".parquet"))
        onTime.zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.move(f.toPath,
            root.resolve(f"ontime_$i%03d.parquet")): Unit
        }
        val nGroup = math.max(1, onTime.length)
        val maxTs = Await.result(maxTsF, 10.minutes)
        // each group = ONE write job repartitioned to exactly nGroup
        // files, moved into the source dir. Group ORDER is what defines
        // batch composition; it is pinned by EXPLICIT mtimes (t0 + rank
        // minutes, t0 = newest on-time file) set after every move.
        // Underfilled groups are safe for the LATE and END groups (their
        // files spill into later batches, where the eviction threshold
        // is identical); the MID group must be exact — sentinels()
        // guarantees nGroup non-empty partitions by construction, so
        // stageGroup writes the frame's own partitioning verbatim
        def stageGroup(group: String, df: DataFrame): Seq[java.nio.file.Path] = {
          val stage = root.resolve(s"stage_$group").toString
          df.write.parquet(stage)
          new java.io.File(stage).listFiles()
            .filter(_.getName.endsWith(".parquet")).zipWithIndex
            .map { case (f, i) =>
              val dst = root.resolve(f"zz_${group}%s_$i%03d.parquet")
              java.nio.file.Files.move(f.toPath, dst)
              dst
            }.toSeq
        }
        // one row per partition => exactly nGroup files, DETERMINISTICALLY
        // (range(n).repartition(n) round-robins from a random start per
        // input split and can leave empty partitions — measured: a 4-file
        // mid group let two late files into the mid batch at sf1)
        def sentinels(tsMs: Long): DataFrame =
          s.range(0L, nGroup.toLong, 1L, nGroup).select(lit(-1L).as("event_id"),
            lit("__sentinel").as("event_type"),
            lit(new java.sql.Timestamp(tsMs)).as("ts"))
        // group 2: mid sentinels at max+10min -> that batch's END evicts
        // every window closed at max(all ts) (wm = the ms-truncated max)
        val midMs = maxTs.getTime + 600000L
        val staged: Seq[(Int, Seq[java.nio.file.Path])] = Await.result(
          Future.sequence(Seq(
            Future(1 -> stageGroup("a_mid", sentinels(midMs))),
            Future(2 -> stageGroup("b_late",
              ev.where($"event_id" % lateMod === 0).repartition(nGroup))),
            Future(3 -> stageGroup("c_end",
              sentinels(maxTs.getTime + 4L * 3600L * 1000L))))), 10.minutes)
        val t0 = root.toFile.listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("zz_"))
          .map(_.lastModified()).max
        staged.foreach { case (rank, files) =>
          files.foreach(p => java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(t0 + rank * 60000L)))
        }
        // drop the (now empty) write-stage dirs so linkInto sees only
        // the ordered parquet set
        Seq("w_ontime", "stage_a_mid", "stage_b_late", "stage_c_end")
          .foreach(d => Scratch.delete(root.resolve(d)))
      } finally pool.shutdownNow(): Unit
    }
    // the work dir holds symlinks into the staging root + sink +
    // checkpoint; Scratch.delete never traverses through a link (staged
    // files are shared across passes)
    Scratch.withWorkDir("q179_late") { work =>
      val src = java.nio.file.Files.createDirectories(work.resolve("src"))
      StreamOps.linkInto(stagedSrc, src)
      val nGroup = math.max(1, stagedSrc.toFile.listFiles().count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("zz_")))
      val schema = s.read.parquet(src.toString).schema
      val counts = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", nGroup.toString)
        .parquet(s"${src.toString}/*.parquet")
        .withWatermark("ts", "10 minutes")
        .groupBy($"event_type", window($"ts", "1 hour"))
        .agg(count(lit(1)).as("n"))
      val survived = StreamOps.drain(StreamOps.StateShape.Grid(), work, counts,
          StreamOps.Sink.Files)
        .where($"event_type" =!= "__sentinel")
        .groupBy($"event_type").agg(sum($"n").as("n_survived"))
      val total = ev.groupBy($"event_type").agg(count(lit(1)).as("n_total"))
      val rep = total.join(survived, Seq("event_type"), "left")
        .select($"event_type", $"n_total",
          coalesce($"n_survived", lit(0L)).as("n_survived"),
          ($"n_total" - coalesce($"n_survived", lit(0L))).as("n_late_dropped"))
      // types-bounded; decouples from work-dir cleanup
      Scratch.collected(rep).orderBy($"event_type")
    }
  }
}
