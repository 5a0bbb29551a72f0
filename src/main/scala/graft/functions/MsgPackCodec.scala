package graft.functions

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Minimal MessagePack codec over Catalyst values, written against the
  * public msgpack spec (github.com/msgpack/msgpack/blob/master/spec.md) —
  * the wire format of the reference's records
  * (`/root/reference/triton/stream_reader.go:173`,
  * `/root/reference/triton/archive_reader.go:19`).
  *
  * Encoding is schema-driven (a Catalyst `DataType` guides both directions):
  * struct -> map with field-name keys, map -> map, array -> array,
  * long/int -> int64 family, double -> float64, float -> float32,
  * string -> str, binary -> bin, boolean -> bool, timestamp -> ext -1
  * (timestamp96: nanoseconds uint32 + seconds int64), null -> nil.
  *
  * Decode is strict about trailing garbage — extra bytes after the
  * top-level value are an error, mirroring the reference's corrupt-record
  * check (`/root/reference/triton/stream_reader.go:185-194`); the
  * expression layer turns decode errors into null (PERMISSIVE semantics).
  */
object MsgPackCodec {

  final class MsgPackException(msg: String) extends RuntimeException(msg)

  // ---------------------------------------------------------------- encode

  /** Unsynchronized growable byte sink, reused per thread. Encoding runs
    * once per row inside codegen'd projections; `ByteArrayOutputStream`
    * (synchronized, byte-at-a-time) plus a fresh allocation per row was the
    * dominant cost of the encode path at bench scale.
    */
  private final class ByteSink {
    /** Reentrancy guard for the thread-local sink — see [[encode]]. */
    var inUse = false
    private var arr = new Array[Byte](1 << 10)
    private var len = 0
    def reset(): Unit = len = 0
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        var cap = arr.length << 1
        while (cap < len + n) cap <<= 1
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    def u8(b: Int): Unit = { ensure(1); arr(len) = b.toByte; len += 1 }
    def u16(v: Int): Unit = {
      ensure(2); arr(len) = (v >> 8).toByte; arr(len + 1) = v.toByte; len += 2
    }
    def u32(v: Int): Unit = {
      ensure(4)
      arr(len) = (v >> 24).toByte; arr(len + 1) = (v >> 16).toByte
      arr(len + 2) = (v >> 8).toByte; arr(len + 3) = v.toByte
      len += 4
    }
    def u64(v: Long): Unit = { u32((v >>> 32).toInt); u32(v.toInt) }
    def bytes(b: Array[Byte]): Unit = {
      ensure(b.length); System.arraycopy(b, 0, arr, len, b.length); len += b.length
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(arr, len)
    /** Don't pin a giant buffer to the thread after an outlier record. */
    def trim(): Unit = if (arr.length > (1 << 20)) arr = new Array[Byte](1 << 10)
  }

  private val localSink: ThreadLocal[ByteSink] =
    ThreadLocal.withInitial(() => new ByteSink)

  /** Byte-array map key with a precomputed hash; the probe instance is
    * mutated per lookup (never inserted) so misordered-key decode costs
    * one hash + one map probe instead of an O(fields) scan.
    */
  private final class ByteKey(private var arr: Array[Byte]) {
    private var h = java.util.Arrays.hashCode(arr)
    def set(a: Array[Byte]): ByteKey = { arr = a; h = java.util.Arrays.hashCode(a); this }
    override def hashCode: Int = h
    override def equals(o: Any): Boolean = o match {
      case b: ByteKey => java.util.Arrays.equals(arr, b.arr)
      case _ => false
    }
  }

  /** Per-StructType field-name table: UTF-8 name bytes in schema order
    * (encode writes them; decode's first probe compares against the
    * schema-position name, a hit for schema-ordered producers) plus a
    * bytes→index hash map (decode's fallback for out-of-order or unknown
    * keys — O(1) instead of the O(fields) linear scan that made wide
    * misordered structs O(F²) per row).
    */
  private final class FieldTable(st: StructType) {
    val names: Array[Array[Byte]] =
      st.fields.map(_.name.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val index = new java.util.HashMap[ByteKey, Integer](names.length * 2)
    locally {
      var i = 0
      while (i < names.length) { index.put(new ByteKey(names(i)), i); i += 1 }
    }
    // safe to reuse: the table lives in a ThreadLocal cache, so exactly one
    // decode loop touches this probe instance at a time
    private val probe = new ByteKey(Array.emptyByteArray)

    /** -1 when the key names no schema field. */
    def fieldIndex(key: Array[Byte], schemaPos: Int): Int = {
      if (schemaPos < names.length && java.util.Arrays.equals(names(schemaPos), key))
        schemaPos
      else {
        val fi = index.get(probe.set(key))
        if (fi == null) -1 else fi.intValue()
      }
    }
  }

  /** Field tables cached per StructType *instance* (identity keys:
    * expressions and readers pass the same DataType reference for every
    * row, so the map stays a handful of entries). Shared by encode (key
    * writing) and decode (key matching) — building
    * `UTF8String.fromString(name).getBytes` or a field-index Map per row
    * was a measurable hot-path allocation.
    */
  private val localFieldTables
      : ThreadLocal[java.util.IdentityHashMap[StructType, FieldTable]] =
    ThreadLocal.withInitial(() => new java.util.IdentityHashMap[StructType, FieldTable])

  private def fieldTable(st: StructType): FieldTable = {
    val cache = localFieldTables.get()
    var t = cache.get(st)
    if (t == null) {
      // a long-lived executor thread serving many distinct schemas must
      // not grow the cache unboundedly; per-query there are only a few
      // live StructType instances, so clearing is a rare non-event
      if (cache.size > 64) cache.clear()
      t = new FieldTable(st)
      cache.put(st, t)
    }
    t
  }

  private def fieldNameBytes(st: StructType): Array[Array[Byte]] = fieldTable(st).names

  def encode(value: Any, dt: DataType): Array[Byte] = {
    val cached = localSink.get()
    // reentrancy guard: if something on this thread is already mid-encode
    // (a codec or UDF calling encode() from inside write()), a second
    // reset() of the shared sink would silently corrupt the outer record —
    // fall back to a fresh sink for the nested call instead
    val out = if (cached.inUse) new ByteSink else cached
    out.inUse = true
    try {
      out.reset()
      write(out, value, dt)
      val r = out.toByteArray
      out.trim()
      r
    } finally out.inUse = false
  }

  private def write(out: ByteSink, value: Any, dt: DataType): Unit = {
    if (value == null) { out.u8(0xc0); return }
    dt match {
      case BooleanType => out.u8(if (value.asInstanceOf[Boolean]) 0xc3 else 0xc2)
      case ByteType => writeLong(out, value.asInstanceOf[Byte].toLong)
      case ShortType => writeLong(out, value.asInstanceOf[Short].toLong)
      case IntegerType => writeLong(out, value.asInstanceOf[Int].toLong)
      case LongType => writeLong(out, value.asInstanceOf[Long])
      case FloatType =>
        out.u8(0xca); out.u32(java.lang.Float.floatToIntBits(value.asInstanceOf[Float]))
      case DoubleType =>
        out.u8(0xcb); out.u64(java.lang.Double.doubleToLongBits(value.asInstanceOf[Double]))
      case StringType => writeStr(out, value.asInstanceOf[UTF8String].getBytes)
      case BinaryType =>
        val b = value.asInstanceOf[Array[Byte]]
        if (b.length < 256) { out.u8(0xc4); out.u8(b.length) }
        else if (b.length < 65536) { out.u8(0xc5); out.u16(b.length) }
        else { out.u8(0xc6); out.u32(b.length) }
        out.bytes(b)
      case TimestampType =>
        // ext type -1, timestamp96: uint32 nanoseconds + int64 seconds
        val us = value.asInstanceOf[Long]
        val sec = Math.floorDiv(us, 1000000L)
        val nsec = Math.floorMod(us, 1000000L) * 1000L
        out.u8(0xc7); out.u8(12); out.u8(0xff)
        out.u32(nsec.toInt); out.u64(sec)
      case st: StructType =>
        val row = value.asInstanceOf[InternalRow]
        val names = fieldNameBytes(st)
        writeMapHeader(out, st.length)
        var i = 0
        while (i < st.length) {
          writeStr(out, names(i))
          write(out, if (row.isNullAt(i)) null else row.get(i, st(i).dataType), st(i).dataType)
          i += 1
        }
      case MapType(StringType, vt, _) =>
        val m = value.asInstanceOf[MapData]
        writeMapHeader(out, m.numElements())
        val keys = m.keyArray(); val vals = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          writeStr(out, keys.getUTF8String(i).getBytes)
          write(out, if (vals.isNullAt(i)) null else vals.get(i, vt), vt)
          i += 1
        }
      case ArrayType(et, _) =>
        val arr = value.asInstanceOf[ArrayData]
        val n = arr.numElements()
        if (n < 16) out.u8(0x90 | n)
        else if (n < 65536) { out.u8(0xdc); out.u16(n) }
        else { out.u8(0xdd); out.u32(n) }
        var i = 0
        while (i < n) { write(out, if (arr.isNullAt(i)) null else arr.get(i, et), et); i += 1 }
      case NullType => out.u8(0xc0)
      case other => throw new MsgPackException(s"unsupported encode type: $other")
    }
  }

  private def writeLong(out: ByteSink, v: Long): Unit = {
    if (v >= 0 && v < 128) out.u8(v.toInt)
    else if (v < 0 && v >= -32) out.u8(0xe0 | (v.toInt & 0x1f))
    else if (v >= Byte.MinValue && v <= Byte.MaxValue) { out.u8(0xd0); out.u8(v.toInt) }
    else if (v >= Short.MinValue && v <= Short.MaxValue) { out.u8(0xd1); out.u16(v.toInt) }
    else if (v >= Int.MinValue && v <= Int.MaxValue) { out.u8(0xd2); out.u32(v.toInt) }
    else { out.u8(0xd3); out.u64(v) }
  }

  private def writeStr(out: ByteSink, b: Array[Byte]): Unit = {
    if (b.length < 32) out.u8(0xa0 | b.length)
    else if (b.length < 256) { out.u8(0xd9); out.u8(b.length) }
    else if (b.length < 65536) { out.u8(0xda); out.u16(b.length) }
    else { out.u8(0xdb); out.u32(b.length) }
    out.bytes(b)
  }

  private def writeMapHeader(out: ByteSink, n: Int): Unit = {
    if (n < 16) out.u8(0x80 | n)
    else if (n < 65536) { out.u8(0xde); out.u16(n) }
    else { out.u8(0xdf); out.u32(n) }
  }

  // ---------------------------------------------------------------- decode

  /** Input abstraction for the decode path: one code path serves both
    * in-memory byte arrays (bounded — `remainingBound` guards corrupt
    * container counts) and true incremental streams (`.tri` archive files
    * decode record-at-a-time off the decompressor, never slurping the
    * file — the reference's lazy read,
    * `/root/reference/triton/archive.go:27-43`).
    */
  private[graft] sealed trait MsgIn {
    def u8(): Int
    def i16(): Short
    def i32(): Int
    def i64(): Long
    def f32(): Float
    def f64(): Double
    def raw(n: Int): Array[Byte]
    def skipBytes(n: Int): Unit
    def hasMore: Boolean
    /** Remaining bytes when knowable (buffers); Int.MaxValue for streams. */
    def remainingBound: Int
  }

  private final class BufIn(buf: ByteBuffer) extends MsgIn {
    def u8(): Int = buf.get() & 0xff
    def i16(): Short = buf.getShort
    def i32(): Int = buf.getInt
    def i64(): Long = buf.getLong
    def f32(): Float = buf.getFloat
    def f64(): Double = buf.getDouble
    def raw(n: Int): Array[Byte] = {
      if (n < 0 || n > buf.remaining())
        throw new MsgPackException(s"length $n exceeds remaining ${buf.remaining()}")
      val b = new Array[Byte](n); buf.get(b); b
    }
    def skipBytes(n: Int): Unit = {
      if (n < 0 || n > buf.remaining())
        throw new MsgPackException(s"skip $n exceeds remaining ${buf.remaining()}")
      buf.position(buf.position() + n)
    }
    def hasMore: Boolean = buf.hasRemaining
    def remainingBound: Int = buf.remaining()
  }

  private final class StreamIn(in0: java.io.InputStream) extends MsgIn {
    private val in = new java.io.DataInputStream(in0)
    private var peeked = -2 // -2 = nothing peeked; -1 = EOF; else one byte
    private def take(): Int =
      if (peeked >= 0) { val b = peeked; peeked = -2; b } else in.read()
    def u8(): Int = take() match {
      case -1 | -2 => throw new MsgPackException("EOF inside msgpack value")
      case b => b
    }
    def i16(): Short = ((u8() << 8) | u8()).toShort
    def i32(): Int = (u8() << 24) | (u8() << 16) | (u8() << 8) | u8()
    def i64(): Long = (i32().toLong << 32) | (i32().toLong & 0xffffffffL)
    def f32(): Float = java.lang.Float.intBitsToFloat(i32())
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())
    def raw(n: Int): Array[Byte] = {
      if (n < 0) throw new MsgPackException(s"negative length $n")
      // grow in bounded chunks so a corrupt length EOFs before a giant
      // allocation rather than after reserving it
      if (n <= (1 << 20)) { val b = new Array[Byte](n); readFully(b, n); b }
      else {
        val out = new ByteArrayOutputStream(1 << 20)
        var left = n
        val chunk = new Array[Byte](1 << 20)
        while (left > 0) {
          val m = math.min(left, chunk.length)
          readFully(chunk, m); out.write(chunk, 0, m); left -= m
        }
        out.toByteArray
      }
    }
    private def readFully(b: Array[Byte], n: Int): Unit = {
      var off = 0
      if (peeked >= 0 && n > 0) { b(0) = peeked.toByte; peeked = -2; off = 1 }
      try in.readFully(b, off, n - off)
      catch { case _: java.io.EOFException => throw new MsgPackException("EOF inside msgpack value") }
    }
    def skipBytes(n: Int): Unit = { raw(n); () }
    def hasMore: Boolean = {
      if (peeked == -2) peeked = in.read()
      peeked != -1
    }
    def remainingBound: Int = Int.MaxValue
  }

  /** Decode one top-level value; trailing bytes raise. */
  def decode(bytes: Array[Byte], dt: DataType): Any = {
    val in = new BufIn(ByteBuffer.wrap(bytes))
    val v = read(in, dt)
    if (in.hasMore)
      throw new MsgPackException(s"${in.remainingBound} trailing bytes after msgpack value")
    v
  }

  /** Decode a concatenation of top-level values incrementally from a
    * stream — memory is bounded by the single largest record, not the
    * file (`.tri` archives are one snappy-framed stream per file; foreign
    * files with no rotation cap decode safely).
    */
  def decodeStream(in0: java.io.InputStream, dt: DataType): Iterator[Any] = {
    val in = new StreamIn(in0)
    new Iterator[Any] {
      override def hasNext: Boolean = in.hasMore
      override def next(): Any = read(in, dt)
    }
  }

  /** Infer a Spark type from the first msgpack value read off `in` — maps
    * the msgpack tag space onto (struct, array, long, double, string,
    * binary, boolean, timestamp). Reads only that value, whatever its size.
    * Used for `.tri` schema inference.
    */
  def inferType(in: java.io.InputStream): DataType = inferValue(new StreamIn(in))

  private def inferValue(buf: MsgIn): DataType = {
    val tag = buf.u8()
    tag match {
      case t if t < 0x80 || t >= 0xe0 || t == 0xcc || t == 0xcd || t == 0xce || t == 0xcf
           || t == 0xd0 || t == 0xd1 || t == 0xd2 || t == 0xd3 =>
        if (t >= 0x80 && t < 0xcc) () else skipIntPayload(buf, t)
        LongType
      case 0xc0 => NullType
      case 0xc2 | 0xc3 => BooleanType
      case 0xca => buf.skipBytes(4); DoubleType
      case 0xcb => buf.skipBytes(8); DoubleType
      case t if (t & 0xe0) == 0xa0 || t == 0xd9 || t == 0xda || t == 0xdb =>
        buf.skipBytes(strLen(buf, t)); StringType
      case 0xc4 | 0xc5 | 0xc6 =>
        buf.skipBytes(binLen(buf, tag)); BinaryType
      case 0xd4 | 0xd5 | 0xd6 | 0xd7 | 0xd8 | 0xc7 | 0xc8 | 0xc9 =>
        val (et, n) = extHeader(buf, tag)
        buf.skipBytes(n)
        if (et == -1) TimestampType else BinaryType
      case t if (t & 0xf0) == 0x90 || t == 0xdc || t == 0xdd =>
        val n = arrLen(buf, t)
        if (n == 0) ArrayType(StringType)
        else {
          val et = inferValue(buf)
          var i = 1
          while (i < n) { skip(buf); i += 1 }
          ArrayType(if (et == NullType) StringType else et)
        }
      case t if (t & 0xf0) == 0x80 || t == 0xde || t == 0xdf =>
        val n = mapLen(buf, t)
        val fields = new Array[StructField](n)
        var i = 0
        while (i < n) {
          val key = UTF8String.fromBytes(buf.raw(strLen(buf, buf.u8()))).toString
          val ft = inferValue(buf)
          fields(i) = StructField(key, if (ft == NullType) StringType else ft)
          i += 1
        }
        StructType(fields)
      case t => throw new MsgPackException(f"cannot infer from tag 0x$t%02x")
    }
  }

  private def skipIntPayload(buf: MsgIn, tag: Int): Unit = tag match {
    case 0xcc | 0xd0 => buf.skipBytes(1)
    case 0xcd | 0xd1 => buf.skipBytes(2)
    case 0xce | 0xd2 => buf.skipBytes(4)
    case 0xcf | 0xd3 => buf.skipBytes(8)
    case _ => ()
  }

  private def read(buf: MsgIn, dt: DataType): Any = {
    val tag = buf.u8()
    if (tag == 0xc0) return null
    dt match {
      case BooleanType => tag match {
        case 0xc2 => false
        case 0xc3 => true
        case _ => fail(tag, dt)
      }
      case ByteType | ShortType | IntegerType | LongType =>
        val v = readLong(buf, tag)
        dt match {
          case LongType => v
          case IntegerType => v.toInt
          case ShortType => v.toShort
          case ByteType => v.toByte
        }
      case FloatType => tag match {
        case 0xca => buf.f32()
        case 0xcb => buf.f64().toFloat
        case _ => readLong(buf, tag).toFloat
      }
      case DoubleType => tag match {
        case 0xcb => buf.f64()
        case 0xca => buf.f32().toDouble
        case _ => readLong(buf, tag).toDouble
      }
      case StringType => UTF8String.fromBytes(buf.raw(strLen(buf, tag)))
      case BinaryType => buf.raw(binLen(buf, tag))
      case TimestampType =>
        val (extType, len) = extHeader(buf, tag)
        if (extType != -1) throw new MsgPackException(s"ext type $extType is not timestamp")
        len match {
          case 4 => (buf.i32().toLong & 0xffffffffL) * 1000000L
          case 8 =>
            val d = buf.i64()
            val nsec = d >>> 34
            val sec = d & 0x3ffffffffL
            sec * 1000000L + nsec / 1000L
          case 12 =>
            val nsec = buf.i32().toLong & 0xffffffffL
            val sec = buf.i64()
            sec * 1000000L + nsec / 1000L
          case n => throw new MsgPackException(s"bad timestamp ext length $n")
        }
      case st: StructType =>
        val n = sane(buf, mapLen(buf, tag))
        val values = new Array[Any](st.length)
        val table = fieldTable(st)
        var i = 0
        while (i < n) {
          // fast path: compare against the schema-position name (a hit for
          // schema-ordered producers, no String or Map per row); fall back
          // to the cached bytes→index hash map for misordered or unknown
          // keys — O(1) per key either way
          val key = buf.raw(strLen(buf, buf.u8()))
          val fi = table.fieldIndex(key, i)
          if (fi >= 0) values(fi) = read(buf, st(fi).dataType)
          else skip(buf) // unknown field: ignore (schemaless producers)
          i += 1
        }
        new GenericInternalRow(values)
      case MapType(StringType, vt, _) =>
        val n = sane(buf, mapLen(buf, tag))
        if (n <= streamPrealloc(buf)) {
          val keys = new Array[Any](n); val vals = new Array[Any](n)
          var i = 0
          while (i < n) {
            keys(i) = UTF8String.fromBytes(buf.raw(strLen(buf, buf.u8())))
            vals(i) = read(buf, vt)
            i += 1
          }
          ArrayBasedMapData(keys, vals)
        } else {
          // unbounded stream + giant declared count: grow incrementally so a
          // corrupt map32 header EOFs after a few elements instead of
          // reserving count-many slots up front (see `sane`)
          val keys = new scala.collection.mutable.ArrayBuffer[Any]
          val vals = new scala.collection.mutable.ArrayBuffer[Any]
          var i = 0
          while (i < n) {
            keys += UTF8String.fromBytes(buf.raw(strLen(buf, buf.u8())))
            vals += read(buf, vt)
            i += 1
          }
          ArrayBasedMapData(keys.toArray, vals.toArray)
        }
      case ArrayType(et, _) =>
        val n = sane(buf, arrLen(buf, tag))
        if (n <= streamPrealloc(buf)) {
          val values = new Array[Any](n)
          var i = 0
          while (i < n) { values(i) = read(buf, et); i += 1 }
          new GenericArrayData(values)
        } else {
          val values = new scala.collection.mutable.ArrayBuffer[Any]
          var i = 0
          while (i < n) { values += read(buf, et); i += 1 }
          new GenericArrayData(values.toArray)
        }
      case other => throw new MsgPackException(s"unsupported decode type: $other")
    }
  }

  private def readLong(buf: MsgIn, tag: Int): Long = tag match {
    case t if t < 0x80 => t.toLong
    case t if t >= 0xe0 => (t - 256).toLong
    case 0xcc => buf.u8().toLong
    case 0xcd => (buf.i16() & 0xffff).toLong
    case 0xce => buf.i32().toLong & 0xffffffffL
    case 0xcf =>
      // uint64 policy: a value above Long.MaxValue has no faithful LongType
      // representation — error (→ null on the PERMISSIVE expression path,
      // i.e. dead-lettered) rather than silently wrapping negative. The
      // reference inherits whatever its msgpack library does
      // (`/root/reference/triton/stream_reader.go:173`); we make the
      // out-of-range case an explicit decode failure.
      val v = buf.i64()
      if (v < 0) throw new MsgPackException("uint64 value exceeds Long.MaxValue")
      v
    case 0xd0 => buf.u8().toByte.toLong
    case 0xd1 => buf.i16().toLong
    case 0xd2 => buf.i32().toLong
    case 0xd3 => buf.i64()
    case t => throw new MsgPackException(f"tag 0x$t%02x is not an integer")
  }

  private def strLen(buf: MsgIn, tag: Int): Int = tag match {
    case t if (t & 0xe0) == 0xa0 => t & 0x1f
    case 0xd9 => buf.u8()
    case 0xda => buf.i16() & 0xffff
    case 0xdb => buf.i32()
    case t => throw new MsgPackException(f"tag 0x$t%02x is not a string")
  }

  private def binLen(buf: MsgIn, tag: Int): Int = tag match {
    case 0xc4 => buf.u8()
    case 0xc5 => buf.i16() & 0xffff
    case 0xc6 => buf.i32()
    case t => strLen(buf, t) // tolerate str-encoded binary (old producers)
  }

  private def mapLen(buf: MsgIn, tag: Int): Int = tag match {
    case t if (t & 0xf0) == 0x80 => t & 0x0f
    case 0xde => buf.i16() & 0xffff
    case 0xdf => buf.i32()
    case t => throw new MsgPackException(f"tag 0x$t%02x is not a map")
  }

  private def arrLen(buf: MsgIn, tag: Int): Int = tag match {
    case t if (t & 0xf0) == 0x90 => t & 0x0f
    case 0xdc => buf.i16() & 0xffff
    case 0xdd => buf.i32()
    case t => throw new MsgPackException(f"tag 0x$t%02x is not an array")
  }

  private def extHeader(buf: MsgIn, tag: Int): (Int, Int) = tag match {
    case 0xd4 => (buf.u8().toByte.toInt, 1)
    case 0xd5 => (buf.u8().toByte.toInt, 2)
    case 0xd6 => (buf.u8().toByte.toInt, 4)
    case 0xd7 => (buf.u8().toByte.toInt, 8)
    case 0xd8 => (buf.u8().toByte.toInt, 16)
    case 0xc7 => { val n = buf.u8(); (buf.u8().toByte.toInt, n) }
    case 0xc8 => { val n = buf.i16() & 0xffff; (buf.u8().toByte.toInt, n) }
    case 0xc9 => { val n = buf.i32(); (buf.u8().toByte.toInt, n) }
    case t => throw new MsgPackException(f"tag 0x$t%02x is not ext")
  }

  /** Guard container counts from corrupt input before allocating: every
    * element costs >= 1 byte, so a count beyond the remaining bytes is
    * garbage — fail fast instead of OOMing the executor on the dead-letter
    * path. Streams have no knowable bound (`remainingBound` is
    * Int.MaxValue), so there the count alone is never trusted: container
    * reads above `streamPrealloc` grow incrementally and a corrupt count
    * EOFs after the real elements run out, bounding memory by actual
    * input, and raw byte reads grow in bounded chunks.
    */
  private def sane(buf: MsgIn, n: Int): Int = {
    if (n < 0 || n > buf.remainingBound)
      throw new MsgPackException(s"container count $n exceeds remaining ${buf.remainingBound} bytes")
    n
  }

  /** Elements worth pre-allocating for a declared container count: buffers
    * are already guarded by `sane` (count <= remaining bytes), streams cap
    * preallocation at 64k elements and grow beyond that.
    */
  private def streamPrealloc(buf: MsgIn): Int =
    if (buf.remainingBound == Int.MaxValue) 1 << 16 else Int.MaxValue

  /** Skip one value of any type (unknown struct fields). */
  private def skip(buf: MsgIn): Unit = {
    val tag = buf.u8()
    tag match {
      case t if t < 0x80 || t >= 0xe0 => ()
      case t if (t & 0xe0) == 0xa0 => buf.skipBytes(t & 0x1f)
      case t if (t & 0xf0) == 0x80 => var i = 0; val n = t & 0x0f; while (i < n) { skip(buf); skip(buf); i += 1 }
      case t if (t & 0xf0) == 0x90 => var i = 0; val n = t & 0x0f; while (i < n) { skip(buf); i += 1 }
      case 0xc0 | 0xc2 | 0xc3 => ()
      case 0xcc | 0xd0 => buf.skipBytes(1)
      case 0xcd | 0xd1 => buf.skipBytes(2)
      case 0xce | 0xd2 | 0xca => buf.skipBytes(4)
      case 0xcf | 0xd3 | 0xcb => buf.skipBytes(8)
      case 0xd9 => buf.skipBytes(buf.u8())
      case 0xda => buf.skipBytes(buf.i16() & 0xffff)
      case 0xdb => buf.skipBytes(buf.i32())
      case 0xc4 => buf.skipBytes(buf.u8())
      case 0xc5 => buf.skipBytes(buf.i16() & 0xffff)
      case 0xc6 => buf.skipBytes(buf.i32())
      case 0xd4 => buf.skipBytes(2)
      case 0xd5 => buf.skipBytes(3)
      case 0xd6 => buf.skipBytes(5)
      case 0xd7 => buf.skipBytes(9)
      case 0xd8 => buf.skipBytes(17)
      case 0xc7 => { val n = buf.u8(); buf.skipBytes(1 + n) }
      case 0xc8 => { val n = buf.i16() & 0xffff; buf.skipBytes(1 + n) }
      case 0xc9 => { val n = buf.i32(); buf.skipBytes(1 + n) }
      case 0xde => { var i = 0; val n = buf.i16() & 0xffff; while (i < n) { skip(buf); skip(buf); i += 1 } }
      case 0xdf => { var i = 0; val n = buf.i32(); while (i < n) { skip(buf); skip(buf); i += 1 } }
      case 0xdc => { var i = 0; val n = buf.i16() & 0xffff; while (i < n) { skip(buf); i += 1 } }
      case 0xdd => { var i = 0; val n = buf.i32(); while (i < n) { skip(buf); i += 1 } }
      case t => throw new MsgPackException(f"cannot skip tag 0x$t%02x")
    }
  }

  private def fail(tag: Int, dt: DataType): Nothing =
    throw new MsgPackException(f"tag 0x$tag%02x does not decode as $dt")
}
