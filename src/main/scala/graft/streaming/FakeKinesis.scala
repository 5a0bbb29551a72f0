package graft.streaming

import scala.collection.mutable

/** In-memory sharded-stream service — the engine's seam for the Kinesis
  * API, mirroring the reference's stateful fake
  * (`/root/reference/triton/test_util.go:60-162`): named streams, numbered
  * shards, monotonically increasing per-shard sequence numbers, paged
  * `getRecords`, and injectable throttling errors to exercise the retry
  * path (`/root/reference/triton/stream_test.go:34-48`).
  *
  * A production deployment swaps this singleton for the real AWS client
  * behind the same four calls; the DSv2 source code path is identical.
  */
object FakeKinesis extends ShardService {

  final case class Rec(sequenceNumber: Long, partitionKey: String, data: Array[Byte])

  final class ThrottledException extends RuntimeException("ProvisionedThroughputExceeded")

  /** Successful getRecords calls since reset — lets tests assert paging. */
  @volatile var getRecordsCalls: Int = 0

  private final class Shard {
    val records = mutable.ArrayBuffer[Rec]()
    var nextSeq: Long = 0L
  }

  private final class Stream(nShards: Int) {
    val shards: Array[Shard] = Array.fill(nShards)(new Shard)
  }

  private val streams = mutable.Map[String, Stream]()
  private val throttleBudget = mutable.Map[String, Int]()

  def reset(): Unit = synchronized { streams.clear(); throttleBudget.clear(); getRecordsCalls = 0 }

  def createStream(name: String, shards: Int): Unit = synchronized {
    streams(name) = new Stream(shards)
  }

  /** Reshard: append `n` new shards (Kinesis shard split). The reference
    * never re-lists and caps at 100 (`triton/stream_reader.go:56,86`); the
    * engine's source re-lists per batch and picks these up mid-query.
    */
  def addShards(name: String, n: Int): Unit = synchronized {
    val st = streams(name)
    val grown = new Stream(st.shards.length + n)
    Array.copy(st.shards, 0, grown.shards, 0, st.shards.length)
    streams(name) = grown
  }

  def listShards(name: String): Seq[String] = synchronized {
    streams(name).shards.indices.map(i => s"shard-$i")
  }

  /** Route by partition key hash — the producer-side contract
    * (`/root/reference/tritond/client.go:102-130` carries the key;
    * Kinesis hashes it to a shard).
    */
  def putRecord(stream: String, partitionKey: String, data: Array[Byte]): Long = synchronized {
    val st = streams(stream)
    val shard = st.shards(math.floorMod(partitionKey.hashCode, st.shards.length))
    val seq = shard.nextSeq
    shard.records += Rec(seq, partitionKey, data)
    shard.nextSeq += 1
    seq
  }

  /** Next `limit` records of a shard strictly after `afterSeq` (-1 = from
    * horizon). Throws ThrottledException while an injected throttle budget
    * remains — callers must retry with backoff like
    * `/root/reference/triton/stream.go:63-111`.
    *
    * A record's sequence number is its index in the shard buffer, so a
    * page is a slice, not a scan.
    */
  def getRecords(stream: String, shardId: String, afterSeq: Long, limit: Int = 1000): Seq[Rec] =
    synchronized {
      val remaining = throttleBudget.getOrElse(stream, 0)
      if (remaining > 0) {
        throttleBudget(stream) = remaining - 1
        throw new ThrottledException
      }
      val idx = shardId.stripPrefix("shard-").toInt
      getRecordsCalls += 1
      val records = streams(stream).shards(idx).records
      val from = if (afterSeq < 0) 0 else math.min(afterSeq, records.length - 1L).toInt + 1
      records.view.drop(from).take(limit).toVector
    }

  def latestSequence(stream: String, shardId: String): Long = synchronized {
    val idx = shardId.stripPrefix("shard-").toInt
    streams(stream).shards(idx).nextSeq - 1
  }

  /** Make the next `n` getRecords calls on `stream` fail with throttling. */
  def injectThrottles(stream: String, n: Int): Unit = synchronized {
    throttleBudget(stream) = n
  }
}
