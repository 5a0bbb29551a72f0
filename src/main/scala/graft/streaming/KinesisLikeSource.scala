package graft.streaming

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 micro-batch source over the sharded-stream service — the Spark
  * re-expression of the reference's multi-shard reader
  * (`/root/reference/triton/stream_reader.go:58-145`):
  *
  *  - shard discovery per batch = `planInputPartitions` (one input
  *    partition per shard; the goroutine-per-shard fan-in of
  *    `stream_reader.go:123-131` becomes Spark task parallelism);
  *  - offsets = per-shard sequence-number map serialized as JSON, held in
  *    Spark's offset log (`checkpointLocation`) — the engine-side
  *    checkpoint table of `/root/reference/triton/checkpoint.go:95-108`;
  *    `commit()` fires after the sink commits, the same
  *    durable-before-checkpoint ordering as
  *    `/root/reference/triton/store.go:51-67`;
  *  - start positions latest/trim_horizon via option, resume =
  *    AFTER_SEQUENCE_NUMBER from the stored offset
  *    (`/root/reference/triton/stream.go:184-222`);
  *  - throttling retried in the partition reader with the reference's
  *    quadratic backoff (`retries^2 * backoffUnit`, max 4 —
  *    `/root/reference/triton/stream.go:41,63-75`).
  *
  * `Trigger.AvailableNow` drains up to the shard heads seen when the query
  * starts, in as many batches as that takes: a restart after a crash
  * between `offsets/N` and `commits/N` re-runs batch N and then also reads
  * what arrived since.
  *
  * Registered as `format("kinesis-graft")`. Envelope columns:
  * stream, shard_id, sequence_number, partition_key, data(binary).
  */
class KinesisLikeSource extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "kinesis-graft"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KinesisLikeSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new KinesisLikeTable(opts.get("stream"),
      Option(opts.get("startingPosition")).getOrElse("trim_horizon"),
      Option(opts.get("backoffUnitMs")).map(_.toLong).getOrElse(1L),
      Option(opts.get("minFetchIntervalMs")).map(_.toLong).getOrElse(0L),
      // the reference's GetRecords page cap (RequestLimit=1000,
      // /root/reference/triton/stream.go:39): one micro-batch never
      // materializes a shard's whole backlog in a single call
      Option(opts.get("maxRecordsPerFetch")).map(_.toInt).getOrElse(1000),
      Option(opts.get("service")).getOrElse(""))
  }
}

object KinesisLikeSource {
  val schema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("shard_id", StringType, nullable = false),
    StructField("sequence_number", LongType, nullable = false),
    StructField("partition_key", StringType, nullable = false),
    StructField("data", BinaryType, nullable = false)))
}

private class KinesisLikeTable(stream: String, startingPosition: String,
                               backoffUnitMs: Long, minFetchIntervalMs: Long,
                               maxRecordsPerFetch: Int, serviceName: String)
    extends Table with SupportsRead {
  require(stream != null, "option 'stream' is required")
  override def name(): String = s"kinesis-graft:$stream"
  override def schema(): StructType = KinesisLikeSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = KinesisLikeSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new KinesisLikeStream(stream, startingPosition, backoffUnitMs, minFetchIntervalMs,
          maxRecordsPerFetch, serviceName)
    }
}

/** Offset = shard id → last consumed sequence number (-1 = nothing yet). */
case class ShardOffsets(seqs: Map[String, Long]) extends Offset {
  override def json(): String =
    seqs.toSeq.sortBy(_._1)
      .map { case (s, q) => s""""$s":$q""" }.mkString("{", ",", "}")
}

object ShardOffsets {
  private val entry = """"([^"]+)":(-?\d+)""".r
  def fromJson(s: String): ShardOffsets =
    ShardOffsets(entry.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap)
}

private class KinesisLikeStream(stream: String, startingPosition: String,
                                backoffUnitMs: Long, minFetchIntervalMs: Long,
                                maxRecordsPerFetch: Int, serviceName: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val svc = ShardService.resolve(serviceName)
  // the shard heads an AvailableNow run stops at, fixed when it starts
  private var availableNowEnd: Option[Offset] = None

  override def initialOffset(): Offset = {
    val shards = svc.listShards(stream)
    val seqs = startingPosition.toLowerCase match {
      case "latest" => shards.map(s => s -> svc.latestSequence(stream, s)).toMap
      case _ => shards.map(s => s -> -1L).toMap // trim_horizon
    }
    ShardOffsets(seqs)
  }

  override def latestOffset(): Offset = {
    // re-list shards every batch: shards appearing mid-query are picked up
    // (the reference lists once and caps at 100, stream_reader.go:56,86)
    val shards = svc.listShards(stream)
    ShardOffsets(shards.map(s => s -> svc.latestSequence(stream, s)).toMap)
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(latestOffset())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    availableNowEnd.getOrElse(latestOffset())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ShardOffsets].seqs
    val e = end.asInstanceOf[ShardOffsets].seqs
    e.keys.toArray.sorted.map { shard =>
      ShardPartition(stream, shard, s.getOrElse(shard, -1L), e(shard),
        backoffUnitMs, minFetchIntervalMs, maxRecordsPerFetch, serviceName): InputPartition
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new ShardReader(partition.asInstanceOf[ShardPartition])

  override def deserializeOffset(json: String): Offset = ShardOffsets.fromJson(json)
  override def commit(end: Offset): Unit = () // offset log is the checkpoint store
  override def stop(): Unit = ()
}

private case class ShardPartition(stream: String, shard: String,
                                  fromSeq: Long, toSeq: Long, backoffUnitMs: Long,
                                  minFetchIntervalMs: Long, maxRecordsPerFetch: Int,
                                  serviceName: String)
    extends InputPartition

/** One shard's slice of the batch: paged fetches (the reference's
  * `RequestLimit`, `/root/reference/triton/stream.go:39`) with
  * quadratic-backoff retry and per-shard poll spacing (`MinPollInterval`,
  * `/root/reference/triton/stream.go:38,63-75`), emitting envelope rows
  * for sequence numbers in (fromSeq, toSeq]. A deep backlog drains across
  * many bounded getRecords calls — the task never holds more than one
  * page of records.
  */
private class ShardReader(p: ShardPartition) extends PartitionReader[InternalRow] {
  private val svc = ShardService.resolve(p.serviceName)
  private val maxRetries = 4 // triton/stream.go:41
  private var cursor = p.fromSeq // last sequence number fetched
  private var page: Iterator[FakeKinesis.Rec] = Iterator.empty
  private var exhausted = false
  private var current: FakeKinesis.Rec = _

  private def fetchPage(): Seq[FakeKinesis.Rec] = {
    if (p.minFetchIntervalMs > 0) {
      val wait = ShardReader.nextAllowedFetch(p.stream, p.shard, p.minFetchIntervalMs)
      if (wait > 0) Thread.sleep(wait)
    }
    var retries = 0 // backoff resets after each successful call
    while (true) {
      try {
        return svc.getRecords(p.stream, p.shard, cursor, p.maxRecordsPerFetch)
      } catch {
        case _: FakeKinesis.ThrottledException if retries < maxRetries =>
          retries += 1
          Thread.sleep(retries.toLong * retries * p.backoffUnitMs) // retries^2 * unit
      }
    }
    Nil
  }

  override def next(): Boolean = {
    while (!page.hasNext && !exhausted) {
      val recs = fetchPage()
      if (recs.isEmpty) exhausted = true
      else {
        cursor = recs.last.sequenceNumber
        // only an EMPTY page (or passing toSeq) means drained: a real
        // GetRecords may return fewer records than the limit while more
        // remain, so a short page just means "fetch again" — treating it
        // as exhaustion would silently skip records in (cursor, toSeq]
        // that the committed offset then claims were consumed
        if (cursor >= p.toSeq) exhausted = true
        page = recs.iterator.filter(_.sequenceNumber <= p.toSeq)
      }
    }
    if (page.hasNext) { current = page.next(); true } else false
  }

  // constant within the partition: encoded once, not once per record
  private val streamName = UTF8String.fromString(p.stream)
  private val shardId = UTF8String.fromString(p.shard)

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](
      streamName, shardId,
      current.sequenceNumber, UTF8String.fromString(current.partitionKey), current.data))

  override def close(): Unit = ()
}

private[graft] object ShardReader {
  // (stream, shard) -> (reserved slot, that stream's own intervalMs):
  // the interval is stored per entry so eviction judges each entry by
  // ITS OWN horizon, never the sweeping caller's (a 1 ms-interval churner
  // must not evict a 10 s-interval stream that fetched 5 s ago)
  private val lastFetch = scala.collection.mutable.Map[(String, String), (Long, Long)]()
  // sweep threshold, not a cap: pacing state is bounded by live shard
  // assignment in steady state, but resharding / stream turnover retires
  // keys that would otherwise sit in an executor JVM forever
  private val SweepAbove = 4096
  private var nextSweepAt = 0L

  /** Milliseconds the caller must still wait to honor the per-shard poll
    * interval; reserves the next slot. JVM-wide, matching local[n]; on a
    * real cluster each executor paces its own shard assignments.
    */
  def nextAllowedFetch(stream: String, shard: String, intervalMs: Long): Long =
    synchronized {
      val now = System.currentTimeMillis()
      val allowed = lastFetch.get((stream, shard)).map(_._1).getOrElse(0L) + intervalMs
      val wait = math.max(0L, allowed - now)
      lastFetch((stream, shard)) = (now + wait, intervalMs)
      // an entry only influences pacing within its own interval of its
      // reserved slot — anything older is semantically absent, so evict
      // it. The O(map) scan is rate-limited so a map that is legitimately
      // large-and-live doesn't pay it per fetch under the lock.
      if (lastFetch.size > SweepAbove && now >= nextSweepAt) {
        nextSweepAt = now + 1000L
        lastFetch.filterInPlace { case (_, (slot, iv)) => slot + iv > now }
      }
      wait
    }

  private[graft] def pacingEntries: Int = synchronized(lastFetch.size)
}
