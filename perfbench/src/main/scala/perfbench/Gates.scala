package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Correctness gates. Each returns the problems it found; an empty result
  * is a pass. A benchmark operation with any problem counts as failed.
  */
object Gates {

  /** Order-insensitive digest of archived events: (row count, sum of the
    * low 32 bits of each row's xxhash64). The sum cannot overflow below
    * 2^31 rows, and it changes when a row is lost, duplicated or altered.
    */
  final case class Digest(count: Long, hashSum: Long)

  private val rowHashColumn: Column =
    xxhash64(col("event_id"), col("object_type"), col("delivery_uuid"), col("ts"),
      col("version"), col("data.couriers")).bitwiseAND(lit(0xFFFFFFFFL))

  /** The same xxhash64 expression, evaluated on a generated event without
    * a Spark job.
    */
  private val rowHashExpr = new XxHash64(Seq(
    BoundReference(0, LongType, nullable = false), BoundReference(1, StringType, nullable = false),
    BoundReference(2, StringType, nullable = false), BoundReference(3, TimestampType, nullable = false),
    BoundReference(4, LongType, nullable = false), BoundReference(5, ArrayType(StringType), nullable = false)))

  def rowHash(e: Event): Long = {
    val row = InternalRow(e.eventId, UTF8String.fromString(e.objectType),
      UTF8String.fromString(e.deliveryUuid), e.tsMicros, e.version,
      new GenericArrayData(e.couriers.map(UTF8String.fromString).toArray[Any]))
    rowHashExpr.eval(row).asInstanceOf[Long] & 0xFFFFFFFFL
  }

  /** Digest of generated events, computed without Spark. */
  def digestOf(events: Iterable[Event]): Digest = {
    var n = 0L
    var h = 0L
    events.foreach { e => n += 1; h += e.hash }
    Digest(n, h)
  }

  def digest(df: DataFrame): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(rowHashColumn), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  def digestByDate(events: Iterable[Event]): Map[String, Digest] =
    events.groupBy(_.date).map { case (d, es) => d -> digestOf(es) }

  def sumOf(ds: Iterable[Digest]): Digest =
    Digest(ds.map(_.count).sum, ds.map(_.hashSum).sum)

  def readBack(expected: Digest, got: Digest): Seq[String] =
    (if (got.count != expected.count)
      Seq(s"read back ${got.count} records, expected ${expected.count}") else Nil) ++
    (if (got.hashSum != expected.hashSum)
      Seq(s"read-back digest ${got.hashSum} != generated digest ${expected.hashSum}") else Nil)

  def deadLetters(injected: Long, got: Long): Seq[String] =
    if (got != injected) Seq(s"$got dead letters, injected $injected corrupt frames") else Nil

  /** Every shard's committed sequence equals its latest sequence. */
  def committed(latest: Map[String, Long], committed: Map[String, Long]): Seq[String] =
    latest.toSeq.sorted.collect {
      case (shard, seq) if !committed.get(shard).contains(seq) =>
        s"shard $shard committed ${committed.getOrElse(shard, "nothing")}, latest $seq"
    }

  private val EventId = "\"event_id\":(-?\\d+)".r.unanchored
  private val Ts = "\"ts\":\"(\\d{4})-(\\d{2})-(\\d{2})T".r.unanchored

  /** `cat` output: one JSON line per record, sorted by (date, event_id),
    * and as many lines as the range holds records.
    */
  def catLines(lines: Seq[String], expected: Long): Seq[String] = {
    val keys = lines.map {
      case l @ EventId(id) => l match {
        case Ts(y, m, d) => Some((s"$y$m$d", id.toLong))
        case _ => None
      }
      case _ => None
    }
    val unparsed = keys.count(_.isEmpty)
    val ks = keys.flatten
    val unsorted = ks.iterator.sliding(2).count {
      case Seq(a, b) => Ordering[(String, Long)].gt(a, b)
      case _ => false
    }
    (if (lines.length != expected) Seq(s"cat printed ${lines.length} lines, range holds $expected")
     else Nil) ++
    (if (unparsed > 0) Seq(s"$unparsed cat lines lack event_id or ts") else Nil) ++
    (if (unsorted > 0) Seq(s"$unsorted cat lines out of (date, event_id) order") else Nil)
  }

  /** Order-insensitive digest of a query result; doubles are compared to 9
    * significant digits, since a sum's last bits depend on task order.
    */
  def resultDigest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.seqHash(rows.map(r => normalize(r)).sorted.toSeq)

  private def normalize(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => normalize(f.toDouble)
    case r: Row => r.toSeq.map(normalize).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => normalize(k) + "->" + normalize(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(normalize).mkString("(", ",", ")")
    case a: Array[Byte] => a.mkString("b", ",", "")
    case x => x.toString
  }

  def sameResult(name: String, first: Int, got: Int): Seq[String] =
    if (got != first) Seq(s"$name output digest $got differs from the first pass's $first") else Nil
}
