package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Archive
import graft.streaming.{Checkpoints, StreamOps}

/** The ingest path shared by both ingest workloads: the `kinesis-graft`
  * source over [[BenchService]], `from_msgpack`, and one AvailableNow
  * `startStore` drain confirmed through `Checkpoints.offsets`.
  */
object Ingest {
  val Client = "bench"
  val Shards = 8
  val CorruptRate = 0.01
  /** Records that decode and archive writes are timed alone over. */
  val AloneRecords = 50000

  def decoded(ctx: Ctx, stream: String): DataFrame =
    ctx.spark.readStream.format("kinesis-graft")
      .option("stream", stream)
      .option("service", "perfbench.BenchService")
      .load()
      .select(expr(s"from_msgpack(data, '${Gen.Ddl}')").as("r"))
      .where(col("r").isNotNull)
      .select("r.*")

  /** Drains `stream` into `root` and confirms that every shard's latest
    * sequence is committed; returns the gate's problems.
    */
  def drain(ctx: Ctx, stream: String, root: String, ckpt: String): Seq[String] = {
    val t = ctx.tracer
    val calls0 = BenchService.calls.get
    val served0 = BenchService.served.get
    val (q, startMs) = ctx.timeMs(t.span("stream")(
      StreamOps.startStore(decoded(ctx, stream), root, Client, ckpt)))
    t.span("stream")(q.awaitTermination())
    val (committed, offsetsMs) = ctx.timeMs(t.span("checkpoints") {
      Checkpoints.offsets(ctx.spark, ckpt).select("shard", "sequence_number").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    })
    val latest = BenchService.listShards(stream)
      .map(s => s -> BenchService.latestSequence(stream, s)).toMap
    if (ctx.traced) {
      ctx.layer("stream.start_ms", startMs)
      val progress = q.recentProgress.toSeq
      def phase(key: String) =
        progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum.toDouble
      ctx.layer("stream.latest_offset_ms", phase("latestOffset"))
      ctx.layer("stream.query_planning_ms", phase("queryPlanning"))
      ctx.layer("stream.add_batch_ms", phase("addBatch"))
      ctx.layer("stream.wal_commit_ms", phase("walCommit"))
      ctx.layer("stream.commit_offsets_ms", phase("commitOffsets"))
      ctx.layer("stream.batches", progress.count(_.numInputRows > 0).toDouble)
      val calls = BenchService.calls.get - calls0
      ctx.layer("source.get_records_calls", calls.toDouble)
      ctx.layer("source.records_per_call", (BenchService.served.get - served0).toDouble / math.max(1L, calls))
      ctx.layer("checkpoints.offsets_ms", offsetsMs)
      ctx.layer("checkpoints.lag_records",
        latest.map { case (s, l) => l - committed.getOrElse(s, -1L) }.sum.toDouble)
    }
    Gates.committed(latest, committed)
  }

  def readBack(ctx: Ctx, root: String): Gates.Digest =
    ctx.tracer.span("gates")(Gates.digest(Archive.read(ctx.spark, root, Client, "00000000", "99999999")))

  /** `from_msgpack` alone over a static frame of wire bytes into `noop`,
    * and `Archive.store` alone, `writes` times, over the first
    * `writeRecords` decoded records; traced runs only.
    */
  def layersAlone(ctx: Ctx, wire: Seq[Array[Byte]], injected: Long, writes: Int,
                  writeRecords: Int): Unit = {
    import ctx.spark.implicits._
    val t = ctx.tracer
    val bin = wire.map(Tuple1(_)).toDF("data").cache()
    bin.count()
    val dec = bin.select(expr(s"from_msgpack(data, '${Gen.Ddl}')").as("r"))
    val (_, decodeMs) = ctx.timeMs(t.span("decode")(dec.write.format("noop").mode("overwrite").save()))
    ctx.layer("decode.ns_per_record", decodeMs * 1e6 / wire.length)
    val decoded = dec.where(col("r").isNotNull).select("r.*").cache()
    ctx.op("decode_dead_letters") {
      val dead = wire.length - decoded.count()
      ctx.layer("decode.dead_letters", dead.toDouble)
      Gates.deadLetters(injected, dead)
    }
    // one partition per shard, as a drain writes them
    val valid = decoded.limit(writeRecords).repartition(Shards).cache()
    val n = valid.count()
    (0 until writes).foreach { i =>
      val root = ctx.dir(s"write-alone/$i")
      val (_, ms) = ctx.timeMs(t.span("archive_write")(Archive.store(valid, root, Client)))
      val files = Dirs.dataFiles(new java.io.File(root))
      ctx.layer("archive_write.ns_per_record", ms * 1e6 / n)
      ctx.layer("archive_write.files", files.length.toDouble)
      ctx.layer("archive_write.files_per_1k_records", files.length * 1000.0 / n)
      ctx.layer("archive_write.bytes_per_record", files.map(_.length).sum.toDouble / n)
    }
    bin.unpersist()
    decoded.unpersist()
    valid.unpersist()
  }
}

/** One AvailableNow drain of a deep backlog spread over 30 days, into a
  * fresh checkpoint and archive per round.
  */
final class IngestBacklog(ctx: Ctx) extends Workload {
  private val Records = 100000
  private val WarmupRecords = 10000
  private val stream = "backlog"
  private var expected: Gates.Digest = _
  private var injected = 0L
  private var wire: Array[Array[Byte]] = _
  private var corrupt: Array[Boolean] = _

  private def load(name: String, n: Int): Array[Frame] = {
    BenchService.dropStream(name)
    BenchService.createStream(name, Ingest.Shards)
    val (frames, encodeNs) = ctx.tracer.span("producer")(Gen.frames(ctx.seed, 0, n, Gen.Epoch,
      30 * Gen.DayMicros, Ingest.CorruptRate, ctx.cpus))
    Gen.put(name, frames)
    ctx.layer("producer.encode_us_per_record", encodeNs / 1e3 / n)
    ctx.layer("producer.wire_bytes", frames.map(_.bytes.length.toLong).sum.toDouble)
    frames
  }

  def setup(): Unit = {
    val frames = load(stream, Records)
    expected = Gates.digestOf(frames.flatMap(_.event))
    wire = frames.map(_.bytes)
    corrupt = frames.map(_.event.isEmpty)
    injected = corrupt.count(identity).toLong
    // one untimed drain of a small stream warms the JIT for the whole path
    load("backlog-warmup", WarmupRecords)
    Ingest.drain(ctx, "backlog-warmup", ctx.dir("backlog/warmup-archive"), ctx.dir("backlog/warmup-ckpt"))
    BenchService.dropStream("backlog-warmup")
  }

  override def warmupRounds: Int = 1

  def round(): Unit = {
    val root = ctx.dir("backlog/archive")
    val ckpt = ctx.dir("backlog/ckpt")
    ctx.op("drain") {
      val (problems, ms) = ctx.timeMs(ctx.tracer.span("drain")(Ingest.drain(ctx, stream, root, ckpt)))
      ctx.sample("latency_ms", ms)
      ctx.sample("records_per_s", Records / (ms / 1000.0))
      val back = Ingest.readBack(ctx, root)
      problems ++ Gates.readBack(expected, back) ++ Gates.deadLetters(injected, Records - back.count)
    }
  }

  override def finish(): Unit =
    if (ctx.traced) {
      val n = Ingest.AloneRecords
      Ingest.layersAlone(ctx, wire.take(n).toSeq, corrupt.take(n).count(identity).toLong,
        writes = 1, writeRecords = n)
    }
}

/** A closed loop with one client: put a cycle of live records, drain them
  * with `startStore` on the same checkpoint, confirm the commit.
  */
final class IngestTrickle(ctx: Ctx) extends Workload {
  private val Cycle = 500
  private val WarmupCycles = 3
  /** Live traffic: consecutive records are 200 ms apart, so a cycle spans
    * 100 s and almost always one date.
    */
  private val GapMicros = 200000L
  private val stream = "trickle"
  private var root: String = _
  private var ckpt: String = _
  private var next = 0L
  private val events = mutable.ArrayBuffer[Event]()
  private val wire = mutable.ArrayBuffer[Array[Byte]]()
  private var injected = 0L

  def setup(): Unit = {
    BenchService.dropStream(stream)
    BenchService.createStream(stream, Ingest.Shards)
    root = ctx.dir("trickle/archive")
    ckpt = ctx.dir("trickle/ckpt")
    next = 0L
    events.clear(); wire.clear(); injected = 0L
    (0 until WarmupCycles).foreach(_ => cycle())
  }

  override def warmupRounds: Int = 4

  /** Puts one cycle, then drains it; returns the drain latency in ms,
    * measured from the last put to the confirmed commit, and the gate's problems.
    */
  private def cycle(): (Seq[String], Double) = {
    val (frames, encodeNs) = ctx.tracer.span("producer")(Gen.frames(ctx.seed, next, next + Cycle,
      Gen.Epoch + next * GapMicros, Cycle * GapMicros, Ingest.CorruptRate, 1))
    ctx.layer("producer.encode_us_per_record", encodeNs / 1e3 / Cycle)
    ctx.layer("producer.wire_bytes", frames.map(_.bytes.length.toLong).sum.toDouble)
    Gen.put(stream, frames)
    next += Cycle
    frames.foreach { f => wire += f.bytes; f.event.foreach(events += _) }
    injected += frames.count(_.event.isEmpty)
    ctx.timeMs(ctx.tracer.span("drain")(Ingest.drain(ctx, stream, root, ckpt)))
  }

  def round(): Unit = ctx.op("cycle") {
    val (problems, ms) = cycle()
    ctx.sample("latency_ms", ms)
    ctx.sample("records_per_s", Cycle / (ms / 1000.0))
    problems
  }

  override def finish(): Unit = {
    ctx.op("read_back") {
      val back = Ingest.readBack(ctx, root)
      val want = Gates.digestOf(events)
      Gates.readBack(want, back) ++ Gates.deadLetters(injected, next - back.count)
    }
    // decode over every frame of the run; archive writes of one cycle's records
    if (ctx.traced) Ingest.layersAlone(ctx, wire.toSeq, injected, writes = 5, writeRecords = Cycle)
  }
}

/** Reads beside the writes: one archive in two layouts built from the same
  * records, and a fixed mix of reads on each.
  */
final class ArchiveRead(ctx: Ctx) extends Workload {
  private val Records = 36000
  private val Days = 30
  /** Files per date in the fragmented layout, as a streaming store leaves it. */
  private val Fragments = 6
  private val roots = mutable.LinkedHashMap[String, String]()
  private var byDate: Map[String, Gates.Digest] = _
  private var total: Gates.Digest = _
  private val dates = (0 until Days).map(d => Gen.dateOf(Gen.Epoch + d * Gen.DayMicros))
  private var rounds = 0

  def setup(): Unit = {
    val events = (0L until Records).map(i => Gen.event(ctx.seed, i, Gen.Epoch, Days * Gen.DayMicros))
    val df = Gen.eventsFrame(ctx.spark, events).cache()
    byDate = Gates.digestByDate(events)
    total = Gates.sumOf(byDate.values)
    val day = date_format(col("ts"), "yyyyMMdd")
    roots("compacted") = ctx.dir("archive/compacted")
    roots("fragmented") = ctx.dir("archive/fragmented")
    ctx.tracer.span("archive_write") {
      Archive.store(df.repartition(Days, day), roots("compacted"), Ingest.Client)
      Archive.store(df.repartition(Fragments), roots("fragmented"), Ingest.Client)
    }
    df.unpersist()
  }

  override def warmupRounds: Int = 3

  /** Runs one read; in a traced round also records the files it opened,
    * the bytes it read and the share of the records read that it returned.
    */
  private def read[T](layout: String, metric: String, returned: Long)
                     (body: => T): (T, Double) = {
    val t = ctx.tracer
    t.drain()
    val before = t.counters.snapshot
    val (r, ms) = ctx.timeMs(body)
    ctx.sample("latency_ms", ms)
    ctx.layer(s"$metric.$layout", ms)
    if (ctx.traced) {
      t.drain()
      val after = t.counters.snapshot
      def delta(k: String) = (after(k) - before(k)).toDouble
      ctx.layer(s"archive_read.files_opened.$layout", delta("files_opened"))
      ctx.layer(s"archive_read.bytes_read.$layout", delta("bytes_read"))
      ctx.layer("archive_read.returned_per_read", returned / math.max(1.0, delta("records_read")))
    }
    (r, ms)
  }

  private def open(layout: String, from: String, to: String): DataFrame = {
    val (df, ms) = ctx.timeMs(ctx.tracer.span("archive_read")(
      Archive.read(ctx.spark, roots(layout), Ingest.Client, from, to)))
    ctx.layer(s"archive_read.list_ms.$layout", ms)
    df
  }

  def round(): Unit = {
    val (returned, ms) = ctx.timeMs(mix(roots.keys.toSeq))
    ctx.sample("records_per_s", returned / (ms / 1000.0))
  }

  override def finish(): Unit = if (ctx.traced) Queries.measure(ctx)

  /** The read mix on each of `layouts`: a 1-day range scan, a 30-day
    * `groupBy`, a full scan and `cat` of one week, each checked against the
    * generated records. Returns the number of records the reads returned.
    */
  private def mix(layouts: Seq[String]): Long = {
    val day = dates(((ctx.seed + rounds * 7) % Days).toInt)
    val week = dates.slice(((ctx.seed * 3 + rounds * 5) % (Days - 6)).toInt, Days).take(7)
    val inWeek = week.map(d => byDate.get(d).map(_.count).getOrElse(0L)).sum
    rounds += 1
    for (layout <- layouts) {
      ctx.op(s"day_$layout") {
        val (got, _) = read(layout, "archive_read.day_ms", byDate(day).count) {
          ctx.tracer.span("archive_read")(Gates.digest(open(layout, day, day)))
        }
        Gates.readBack(byDate(day), got)
      }
      ctx.op(s"agg_$layout") {
        val (got, _) = read(layout, "archive_read.agg_ms", total.count) {
          ctx.tracer.span("archive_read")(open(layout, dates.head, dates.last)
            .groupBy("date").count().collect().map(r => r.get(0).toString -> r.getLong(1)).toMap)
        }
        val want = byDate.map { case (d, g) => d -> g.count }
        if (got == want) Nil else Seq(s"per-date counts differ on ${(got.toSet diff want.toSet).size} dates")
      }
      ctx.op(s"full_$layout") {
        val (got, _) = read(layout, "archive_read.full_scan_ms", total.count) {
          ctx.tracer.span("archive_read")(Gates.digest(open(layout, dates.head, dates.last)))
        }
        Gates.readBack(total, got)
      }
      ctx.op(s"cat_$layout") {
        val (lines, _) = read(layout, "cat.week_ms", inWeek) {
          ctx.tracer.span("cat")(Cat.lines(roots(layout), week.head, week.last))
        }
        ctx.layer("cat.lines", lines.length.toDouble)
        Gates.catLines(lines, inWeek)
      }
    }
    layouts.length * (byDate(day).count + 2 * total.count + inWeek)
  }
}

/** `cat` through the command-line entry point, its stdout captured. */
object Cat {
  def lines(root: String, start: String, end: String): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    Console.withOut(out) {
      graft.Cli.main(Array("cat", "--root", root, "--client", Ingest.Client,
        "--start", start, "--end", end))
    }
    out.flush()
    buf.toString("UTF-8").split('\n').toSeq.filter(_.nonEmpty)
  }
}

/** The operators layer: registered queries over a generated `events`
  * table, each run once cold and once warm. Too slow to repeat within a
  * timed run, so only the traced run of `archive_read` measures it.
  */
object Queries {
  val Events = 20000L

  def measure(ctx: Ctx): Unit = {
    val dir = ctx.dir("events")
    Gen.writeEventsTable(ctx.spark, ctx.seed, Events, dir)
    val first = mutable.Map[String, Int]()
    for (metric <- Seq("_cold_ms", "_ms"); name <- Layers.EventQueries)
      ctx.op(name) {
        val fn = graft.SparkEntry.queries(name)
        val (rows, ms) = ctx.timeMs(ctx.tracer.span("operators")(fn(ctx.spark, dir).collect()))
        ctx.layer(s"query.$name$metric", ms)
        val d = Gates.resultDigest(rows)
        Gates.sameResult(name, first.getOrElseUpdate(name, d), d)
      }
  }
}
