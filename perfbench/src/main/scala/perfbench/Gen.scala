package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Producer

/** One generated event of the production record shape (a delivery event
  * with a courier list), plus the `event_id` the archive is sorted by.
  */
final case class Event(eventId: Long, objectType: String, deliveryUuid: String,
                       tsMicros: Long, version: Long, couriers: Seq[String]) {
  def toRecord: Map[String, Any] = Map(
    "event_id" -> eventId,
    "object_type" -> objectType,
    "delivery_uuid" -> deliveryUuid,
    "ts" -> new Timestamp(tsMicros / 1000L),
    "version" -> version,
    "data" -> Map("couriers" -> couriers))
  def date: String = Gen.dateOf(tsMicros)
  /** This event's term of [[Gates.Digest]], computed as Spark computes it. */
  def hash: Long = Gates.rowHash(this)
}

/** A frame put on the stream: the wire bytes and, for a valid frame, the
  * event they encode (corrupt frames carry none).
  */
final case class Frame(partitionKey: String, bytes: Array[Byte], event: Option[Event])

/** Seeded input generator. Every value is a pure function of (seed, index),
  * so the same seed gives the same inputs at any thread count.
  */
object Gen {
  val Ddl = "event_id BIGINT, object_type STRING, delivery_uuid STRING, ts TIMESTAMP, " +
    "version BIGINT, data STRUCT<couriers: ARRAY<STRING>>"
  val DayMicros: Long = 86400L * 1000000L
  /** 2024-01-01T00:00:00Z */
  val Epoch: Long = 1704067200L * 1000000L

  private val ObjectTypes = Array("delivery", "courier", "order", "refund")
  private val Couriers = Array.tabulate(24)(i => f"courier-$i%02d")
  private val Garbage = "Hello Failure".getBytes("UTF-8")

  def rng(seed: Long, stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream << 40) ^ i)

  def dateOf(tsMicros: Long): String =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(tsMicros, DayMicros)).toString.replace("-", "")

  /** Event `i`, with a millisecond timestamp drawn from
    * `[fromMicros, fromMicros + spanMicros)`: the producer encodes
    * `java.sql.Timestamp`, which this keeps exact.
    */
  def event(seed: Long, i: Long, fromMicros: Long, spanMicros: Long): Event = {
    val r = rng(seed, 1, i)
    val uuid = new java.util.UUID(r.nextLong(), r.nextLong()).toString
    Event(i, ObjectTypes(r.nextInt(ObjectTypes.length)), uuid,
      fromMicros + r.nextLong(spanMicros / 1000L) * 1000L, 1L + r.nextInt(3),
      Seq.fill(1 + r.nextInt(4))(Couriers(r.nextInt(Couriers.length))))
  }

  /** Frames `from until until`: a `corruptRate` share are corrupt, alternating
    * the two corrupt shapes the stream reader must skip (a valid map with
    * trailing garbage, and bytes that are not msgpack at all). Encoding runs
    * on `threads` threads; returns the frames and the encode time summed
    * over threads, in nanoseconds.
    */
  def frames(seed: Long, from: Long, until: Long, fromMicros: Long, spanMicros: Long,
             corruptRate: Double, threads: Int): (Array[Frame], Long) = {
    val n = (until - from).toInt
    val out = new Array[Frame](n)
    val encodeNs = new java.util.concurrent.atomic.AtomicLong()
    val chunk = (n + threads - 1) / math.max(1, threads)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        var local = 0L
        var k = t * chunk
        while (k < math.min(n, (t + 1) * chunk)) {
          val i = from + k
          val e = event(seed, i, fromMicros, spanMicros)
          val t0 = System.nanoTime()
          val wire = Producer.encode(e.toRecord)
          local += System.nanoTime() - t0
          val c = rng(seed, 2, i).nextDouble()
          out(k) =
            if (c >= corruptRate) Frame(e.deliveryUuid, wire, Some(e))
            else if (c < corruptRate / 2) Frame(e.deliveryUuid, wire ++ Garbage, None)
            else Frame(e.deliveryUuid, Array(0xc1.toByte) ++ Garbage, None)
          k += 1
        }
        encodeNs.addAndGet(local)
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    (out, encodeNs.get)
  }

  def put(stream: String, frames: Array[Frame]): Unit =
    frames.foreach(f => BenchService.put(stream, f.partitionKey, f.bytes))

  /** The events as a DataFrame of the archive's columns, built without msgpack. */
  def eventsFrame(spark: SparkSession, events: Seq[Event]): DataFrame = {
    import spark.implicits._
    events.map(e => (e.eventId, e.objectType, e.deliveryUuid, e.tsMicros, e.version, e.couriers))
      .toDF("event_id", "object_type", "delivery_uuid", "ts_us", "version", "couriers")
      .select(col("event_id"), col("object_type"), col("delivery_uuid"),
        timestamp_micros(col("ts_us")).as("ts"), col("version"),
        struct(col("couriers")).as("data"))
  }

  /** An `events` table of the synthetic test data's shape (event_id, ts,
    * user_id, event_type, value, props), `n` rows over 30 days, written as a
    * single parquet file `<dir>/events.parquet` the way the query registry
    * expects it.
    */
  def writeEventsTable(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    val users = math.max(1L, n * 15000L / 100000L)
    def h(salt: Int) = xxhash64(col("id"), lit(seed), lit(salt))
    def unit(salt: Int) = (pmod(h(salt), lit(1000000L)) + 1) / lit(1000001.0)
    val step = 30L * DayMicros / n
    val df = spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Epoch) + col("id") * step + pmod(h(1), lit(step)))
        .cast("timestamp_ntz").as("ts"),
      pmod(h(2), lit(users)).as("user_id"),
      element_at(array(Seq("signup", "click", "purchase", "error", "view").map(lit): _*),
        (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
      greatest(lit(0.01), round(-log(unit(4)) * 50.0, 2)).as("value"),
      concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
    writeSingleFile(df, dir, "events")
  }

  /** Writes `df` as the one parquet file `<dir>/<name>.parquet`. */
  private def writeSingleFile(df: DataFrame, dir: String, name: String): Unit = {
    val staging = s"$dir/.${name}_staging"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
    val target = new java.io.File(dir, s"$name.parquet")
    target.delete()
    if (!part.renameTo(target)) throw new java.io.IOException(s"cannot move $part")
    Dirs.deleteRecursively(new java.io.File(staging))
  }
}

object Dirs {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def fresh(path: String): String = {
    val f = new java.io.File(path)
    deleteRecursively(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Data files (not hidden, not markers) under `dir`, recursively. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) dataFiles(f)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    }
}
