package graft

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MsgPackCodec

/** Codec laws: decode(encode(x)) == x over generated nested values
  * (mirrors the reference's round-trip fixtures,
  * `/root/reference/tritond/client_test.go:21-29`), plus the corrupt-input
  * contract of `/root/reference/triton/stream_reader.go:174-194`.
  */
class MsgPackCodecSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("s", StringType),
    StructField("n", LongType),
    StructField("d", DoubleType),
    StructField("b", BooleanType),
    StructField("ts", TimestampType),
    StructField("bytes", BinaryType),
    StructField("arr", ArrayType(LongType)),
    StructField("m", MapType(StringType, StringType)),
    StructField("nested", StructType(Seq(
      StructField("x", LongType), StructField("y", StringType))))))

  private val genValue: Gen[GenericInternalRow] = for {
    s <- Gen.alphaNumStr.map(x => UTF8String.fromString(x.take(300)))
    n <- Gen.chooseNum(Long.MinValue, Long.MaxValue)
    d <- Gen.chooseNum(-1e12, 1e12)
    b <- Gen.oneOf(true, false)
    ts <- Gen.chooseNum(-62135596800000000L, 253402300799000000L) // 0001..9999 in micros
    bytes <- Gen.containerOf[Array, Byte](Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
    arr <- Gen.listOfN(5, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    mk <- Gen.listOfN(3, Gen.alphaNumStr.map(_.take(10))).map(_.distinct)
    x <- Gen.chooseNum(Int.MinValue.toLong, Int.MaxValue.toLong)
  } yield new GenericInternalRow(Array[Any](
    s, n, d, b, ts, bytes, new GenericArrayData(arr.toArray),
    ArrayBasedMapData(mk.map(UTF8String.fromString).toArray,
      mk.map(k => UTF8String.fromString(k.reverse)).toArray),
    new GenericInternalRow(Array[Any](x, UTF8String.fromString("y" * 40)))))

  private def assertRowEq(a: GenericInternalRow, b: GenericInternalRow): Unit = {
    assert(b.getUTF8String(0) === a.getUTF8String(0))
    assert(b.getLong(1) === a.getLong(1))
    assert(b.getDouble(2) === a.getDouble(2))
    assert(b.getBoolean(3) === a.getBoolean(3))
    assert(b.getLong(4) === a.getLong(4))
    assert(b.getBinary(5).toSeq === a.getBinary(5).toSeq)
    assert(b.getArray(6).toLongArray.toSeq === a.getArray(6).toLongArray.toSeq)
    val (ma, mb) = (a.getMap(7), b.getMap(7))
    assert(mb.keyArray.toSeq[UTF8String](StringType) === ma.keyArray.toSeq[UTF8String](StringType))
    assert(mb.valueArray.toSeq[UTF8String](StringType) === ma.valueArray.toSeq[UTF8String](StringType))
    assert(b.getStruct(8, 2).getLong(0) === a.getStruct(8, 2).getLong(0))
  }

  test("round-trip property over 200 generated nested records") {
    (0 until 200).foreach { i =>
      val row = genValue.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val bytes = MsgPackCodec.encode(row, schema)
      val back = MsgPackCodec.decode(bytes, schema).asInstanceOf[GenericInternalRow]
      assertRowEq(row, back)
    }
  }

  test("integer width boundaries round-trip") {
    for (v <- Seq(0L, 1L, 127L, 128L, 255L, 256L, 65535L, 65536L, -1L, -32L, -33L,
      -128L, -129L, -32768L, -32769L, Int.MaxValue.toLong, Int.MaxValue + 1L,
      Long.MaxValue, Long.MinValue)) {
      val dt = StructType(Seq(StructField("v", LongType)))
      val r = new GenericInternalRow(Array[Any](v))
      assert(MsgPackCodec.decode(MsgPackCodec.encode(r, dt), dt)
        .asInstanceOf[GenericInternalRow].getLong(0) === v)
    }
  }

  test("trailing garbage raises (reference extra-bytes check)") {
    val dt = StructType(Seq(StructField("v", LongType)))
    val good = MsgPackCodec.encode(new GenericInternalRow(Array[Any](7L)), dt)
    val bad = good ++ Array[Byte](1, 2, 3)
    assertThrows[MsgPackCodec.MsgPackException](MsgPackCodec.decode(bad, dt))
  }

  test("reserved tag 0xc1 and truncation raise") {
    val dt = StructType(Seq(StructField("v", LongType)))
    assertThrows[Exception](MsgPackCodec.decode(Array(0xc1.toByte), dt))
    val good = MsgPackCodec.encode(new GenericInternalRow(Array[Any](
      UTF8String.fromString("hello world"))),
      StructType(Seq(StructField("v", StringType))))
    assertThrows[Exception](
      MsgPackCodec.decode(good.take(good.length - 3), StructType(Seq(StructField("v", StringType)))))
  }

  test("unknown fields are skipped, missing fields decode null") {
    val wide = StructType(Seq(StructField("a", LongType), StructField("zz", StringType)))
    val bytes = MsgPackCodec.encode(
      new GenericInternalRow(Array[Any](5L, UTF8String.fromString("x"))), wide)
    val narrow = StructType(Seq(StructField("a", LongType), StructField("absent", LongType)))
    val row = MsgPackCodec.decode(bytes, narrow).asInstanceOf[GenericInternalRow]
    assert(row.getLong(0) === 5L)
    assert(row.isNullAt(1))
  }

  test("timestamp ext formats: ts32/ts64/ts96 all decode") {
    val dt = TimestampType
    // ts96 via our encoder
    val us = 1704067200123456L
    val enc = MsgPackCodec.encode(us, dt)
    assert(MsgPackCodec.decode(enc, dt) === us)
    // ts32: fixext4, type -1, seconds only
    val ts32 = Array[Byte](0xd6.toByte, 0xff.toByte, 0x65, 0x92.toByte, 0x00, 0x80.toByte)
    val sec = java.nio.ByteBuffer.wrap(ts32, 2, 4).getInt.toLong
    assert(MsgPackCodec.decode(ts32, dt) === sec * 1000000L)
  }

  test("fuzz: random bytes never crash, hang, or over-allocate — error or value") {
    val rnd = new scala.util.Random(42)
    val dt = StructType(Seq(StructField("a", LongType), StructField("b", StringType),
      StructField("c", ArrayType(LongType)), StructField("d", MapType(StringType, StringType))))
    var decoded = 0; var rejected = 0
    (0 until 20000).foreach { _ =>
      val bytes = Array.fill(rnd.nextInt(64))(rnd.nextInt(256).toByte)
      try { MsgPackCodec.decode(bytes, dt); decoded += 1 }
      catch { case _: Exception => rejected += 1 }
    }
    assert(decoded + rejected === 20000)
    assert(rejected > 0) // overwhelmingly garbage
    // huge declared container count on a tiny buffer fails fast, no allocation
    val bomb = Array[Byte](0xdd.toByte, 0x7f, -1, -1, -1) // array32 with ~2^31 elements
    assertThrows[MsgPackCodec.MsgPackException](
      MsgPackCodec.decode(bomb, ArrayType(LongType)))
  }

  test("decodeStream over a concatenated record stream equals per-record decode") {
    val dt = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val records = (0 until 1000).map { i =>
      MsgPackCodec.encode(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString(s"rec-$i"))), dt)
    }
    val viaStream = MsgPackCodec.decodeStream(
      new java.io.ByteArrayInputStream(records.flatMap(_.toSeq).toArray), dt).toSeq
    assert(viaStream.length === 1000)
    records.map(MsgPackCodec.decode(_, dt)).zip(viaStream).foreach { case (a, b) =>
      val (ra, rb) = (a.asInstanceOf[GenericInternalRow], b.asInstanceOf[GenericInternalRow])
      assert(ra.getLong(0) === rb.getLong(0))
      assert(ra.getUTF8String(1) === rb.getUTF8String(1))
    }
  }

  test("decodeStream is incremental: first record reads O(record), not O(file)") {
    val dt = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val bytes = (0 until 5000).flatMap { i =>
      MsgPackCodec.encode(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString("x" * 100))), dt).toSeq
    }.toArray
    var consumed = 0L
    val counting = new java.io.InputStream {
      private val in = new java.io.ByteArrayInputStream(bytes)
      override def read(): Int = { val b = in.read(); if (b >= 0) consumed += 1; b }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        val n = in.read(b, off, len); if (n > 0) consumed += n; n
      }
    }
    val it = MsgPackCodec.decodeStream(counting, dt)
    it.next() // one record
    assert(consumed < 1024,
      s"first record must not slurp the ${bytes.length}-byte stream (read $consumed)")
  }

  test("decodeStream handles a record larger than the chunked-read size") {
    val dt = StructType(Seq(StructField("big", BinaryType)))
    val payload = Array.tabulate(3 << 20)(i => (i % 251).toByte) // 3 MiB > 1 MiB chunk
    val bytes = MsgPackCodec.encode(new GenericInternalRow(Array[Any](payload)), dt)
    val it = MsgPackCodec.decodeStream(new java.io.ByteArrayInputStream(bytes), dt)
    val row = it.next().asInstanceOf[GenericInternalRow]
    assert(java.util.Arrays.equals(row.getBinary(0), payload))
    assert(!it.hasNext)
  }

  test("decodeStream raises on mid-record truncation") {
    val dt = StructType(Seq(StructField("b", StringType)))
    val bytes = MsgPackCodec.encode(new GenericInternalRow(
      Array[Any](UTF8String.fromString("hello world, longer than the cut"))), dt)
    val it = MsgPackCodec.decodeStream(
      new java.io.ByteArrayInputStream(bytes.take(bytes.length - 5)), dt)
    assertThrows[MsgPackCodec.MsgPackException](it.next())
  }

  test("uint64 above Long.MaxValue is a decode error, not a negative wrap") {
    val dt = StructType(Seq(StructField("v", LongType)))
    def rec(hi: Long): Array[Byte] = {
      // fixmap{1} "v" -> uint64 <hi>
      val bb = java.nio.ByteBuffer.allocate(1 + 2 + 9)
      bb.put(0x81.toByte).put(0xa1.toByte).put('v'.toByte).put(0xcf.toByte).putLong(hi)
      bb.array()
    }
    // Long.MaxValue itself is representable and decodes
    assert(MsgPackCodec.decode(rec(Long.MaxValue), dt)
      .asInstanceOf[GenericInternalRow].getLong(0) === Long.MaxValue)
    // Long.MaxValue + 1 (raw bits: sign bit set) errors...
    assertThrows[MsgPackCodec.MsgPackException](MsgPackCodec.decode(rec(Long.MinValue), dt))
    // ...which is the dead-letter (null) path through from_msgpack
    val spark = SparkFixture.session
    import spark.implicits._
    val out = Seq(rec(Long.MinValue), rec(7L)).toDF("bin")
      .selectExpr("from_msgpack(bin, 'v BIGINT') AS r")
      .select("r.v").as[java.lang.Long].collect()
    assert(out.toSet === Set(null, java.lang.Long.valueOf(7L)))
  }

  test("corrupt container count on a stream EOFs instead of allocating count slots") {
    // array32 declaring ~2^31 elements followed by only 3 real ones: the
    // stream path cannot bound-check the count up front, so it must grow
    // incrementally and fail at EOF — not reserve 2^31 slots (OOM)
    val bomb = Array[Byte](0xdd.toByte, 0x7f, -1, -1, -1, 1, 2, 3)
    val it = MsgPackCodec.decodeStream(
      new java.io.ByteArrayInputStream(bomb), ArrayType(LongType))
    assertThrows[MsgPackCodec.MsgPackException](it.next())
    // same for map32
    val mapBomb = Array[Byte](0xdf.toByte, 0x7f, -1, -1, -1, 0xa1.toByte, 'k'.toByte, 1)
    val mit = MsgPackCodec.decodeStream(
      new java.io.ByteArrayInputStream(mapBomb), MapType(StringType, LongType))
    assertThrows[MsgPackCodec.MsgPackException](mit.next())
  }

  test("schema inference maps tags to Spark types") {
    val st = StructType(Seq(StructField("s", StringType), StructField("n", LongType),
      StructField("d", DoubleType), StructField("ts", TimestampType),
      StructField("arr", ArrayType(LongType))))
    val bytes = MsgPackCodec.encode(new GenericInternalRow(Array[Any](
      UTF8String.fromString("x"), 1L, 1.5, 1704067200000000L,
      new GenericArrayData(Array(1L, 2L)))), st)
    assert(MsgPackCodec.inferType(new java.io.ByteArrayInputStream(bytes)) === st)
  }

  test("misordered producers: fields written out of schema order land in the right slots") {
    // a producer that writes (d, s, n) against a reader schema (s, n, d):
    // every key misses the schema-position fast path and goes through the
    // hash-index fallback
    val reader = StructType(Seq(StructField("s", StringType),
      StructField("n", LongType), StructField("d", DoubleType)))
    val writer = StructType(Seq(StructField("d", DoubleType),
      StructField("s", StringType), StructField("n", LongType)))
    val bytes = MsgPackCodec.encode(
      new GenericInternalRow(Array[Any](2.5, UTF8String.fromString("hello"), 7L)), writer)
    val row = MsgPackCodec.decode(bytes, reader).asInstanceOf[GenericInternalRow]
    assert(row.getUTF8String(0).toString === "hello")
    assert(row.getLong(1) === 7L)
    assert(row.getDouble(2) === 2.5)
    // unknown keys interleaved with known ones still resolve
    val writerPlus = StructType(Seq(StructField("zz", LongType),
      StructField("n", LongType), StructField("aa", StringType),
      StructField("s", StringType)))
    val bytes2 = MsgPackCodec.encode(new GenericInternalRow(
      Array[Any](1L, 9L, UTF8String.fromString("x"), UTF8String.fromString("yo"))), writerPlus)
    val row2 = MsgPackCodec.decode(bytes2, reader).asInstanceOf[GenericInternalRow]
    assert(row2.getUTF8String(0).toString === "yo")
    assert(row2.getLong(1) === 9L)
    assert(row2.isNullAt(2))
  }
}
