package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.streaming.{FakeKinesis, ShardService}

/** The benchmark's stand-in for the sharded-stream service, selected with
  * the source option `service` = `perfbench.BenchService`.
  *
  * A shard is an append-only array whose index is the sequence number, so
  * `getRecords` costs time proportional to the page it returns, and each
  * shard has its own lock. The engine's own doubles do not scale with a
  * deep backlog (one filters the whole shard buffer per page under a global
  * lock, the other lists a directory per page); timing them would measure
  * the double instead of the engine.
  */
object BenchService extends ShardService {

  private final class Shard {
    val records = ArrayBuffer[FakeKinesis.Rec]()
  }

  private val streams = new ConcurrentHashMap[String, Array[Shard]]()

  /** Successful `getRecords` calls, empty pages included. */
  val calls = new AtomicLong()
  /** Records returned by `getRecords`. */
  val served = new AtomicLong()

  def createStream(name: String, shards: Int): Unit =
    streams.put(name, Array.fill(shards)(new Shard))

  def dropStream(name: String): Unit = streams.remove(name)

  private def shard(stream: String, id: String): Shard =
    streams.get(stream)(id.stripPrefix("shard-").toInt)

  /** Append to the shard the partition key hashes to; returns the sequence number. */
  def put(stream: String, partitionKey: String, data: Array[Byte]): Long = {
    val shards = streams.get(stream)
    val sh = shards(math.floorMod(partitionKey.hashCode, shards.length))
    sh.synchronized {
      val seq = sh.records.length.toLong
      sh.records += FakeKinesis.Rec(seq, partitionKey, data)
      seq
    }
  }

  override def listShards(stream: String): Seq[String] =
    streams.get(stream).indices.map(i => s"shard-$i")

  override def latestSequence(stream: String, shardId: String): Long = {
    val sh = shard(stream, shardId)
    sh.synchronized(sh.records.length - 1L)
  }

  override def getRecords(stream: String, shardId: String, afterSeq: Long,
                          limit: Int): Seq[FakeKinesis.Rec] = {
    val sh = shard(stream, shardId)
    val page = sh.synchronized {
      val from = math.max(0L, afterSeq + 1).toInt
      val until = math.min(sh.records.length.toLong, from.toLong + limit).toInt
      if (from >= until) Vector.empty else sh.records.slice(from, until).toVector
    }
    calls.incrementAndGet()
    served.addAndGet(page.length)
    page
  }
}
