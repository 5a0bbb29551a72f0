package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MsgPackCodec
import graft.sources.StreamConfig
import graft.streaming.{FakeKinesis, MockProducer, StreamProducer}

/** G1 config parsing (`/root/reference/triton/config_test.go:8-54`) and the
  * K3 producer client (`/root/reference/tritond/client_test.go:13-93`,
  * `mock_test.go:10-21`).
  */
class ConfigProducerSpec extends AnyFunSuite {

  test("stream config parse: logical -> (name, region, partition_key)") {
    val cfg = StreamConfig.parse(
      """# comment
        |courier_activity:
        |  name: courier_activity_v2
        |  region: us-west-1
        |  partition_key: courier_id
        |bare:
        |  name: bare_v1
        |""".stripMargin)
    assert(cfg("courier_activity") === StreamConfig("courier_activity_v2", "us-west-1", "courier_id"))
    assert(cfg("bare") === StreamConfig("bare_v1", "", ""))
    assert(StreamConfig.resolve(cfg, "bare").name === "bare_v1")
    assertThrows[NoSuchElementException](StreamConfig.resolve(cfg, "missing"))
    assertThrows[IllegalArgumentException](StreamConfig.parse("  orphan: 1"))
  }

  test("producer encodes schemaless records as decodable msgpack") {
    val mock = new MockProducer
    mock.put("s", "key1", Map(
      "object_type" -> "courier",
      "version" -> 3L,
      "ok" -> true,
      "score" -> 1.25,
      "ids" -> Seq(1L, 2L, 3L),
      "nested" -> Map("x" -> "y")))
    assert(mock.puts.length === 1)
    val (_, pk, bytes) = mock.puts.head
    assert(pk === "key1")
    val st = MsgPackCodec.inferType(new java.io.ByteArrayInputStream(bytes)).asInstanceOf[StructType]
    assert(st.fieldNames.toSet === Set("object_type", "version", "ok", "score", "ids", "nested"))
    val row = MsgPackCodec.decode(bytes, st).asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
    assert(row.getLong(st.fieldIndex("version")) === 3L)
    mock.close()
    assertThrows[IllegalArgumentException](mock.put("s", "k", Map("a" -> 1L)))
  }

  test("two-frame wire format: JSON header + msgpack body round-trip (tritond framing)") {
    import graft.streaming.Producer
    val rec = Map("object_type" -> "courier", "version" -> 3L)
    val (header, body) = Producer.frame("courier_activity_v2", "drv\"42\\", rec)
    // frame 1: the daemon's documented JSON header
    // (/root/reference/tritond/client.go:103-115), quotes/backslashes escaped
    assert(Producer.parseHeader(header) === Some(("courier_activity_v2", "drv\"42\\")))
    // frame 2: the same msgpack payload the store pipeline decodes
    val st = MsgPackCodec.inferType(new java.io.ByteArrayInputStream(body)).asInstanceOf[StructType]
    assert(st.fieldNames.toSet === Set("object_type", "version"))
    // garbage header frames drop cleanly
    assert(Producer.parseHeader("not json".getBytes) === None)
    // standard JSON escapes from real encoders decode to their characters
    assert(Producer.parseHeader(
      """{"stream_name":"s\n1","partition_key":"k\tA"}""".getBytes)
      === Some(("s\n1", "k\tA")))
    // invalid unicode escapes are malformed → None, never an exception or
    // a garbage char (strings assembled so scalac doesn't eat the escape)
    val badEscape = """{"stream_name":"a","partition_key":"""" + "\\" + """uZZZZ"}"""
    assert(Producer.parseHeader(badEscape.getBytes) === None)
    val signEscape = """{"stream_name":"a""" + "\\" + """u-123","partition_key":"k"}"""
    assert(Producer.parseHeader(signEscape.getBytes) === None)
    // non-string field values are malformed too
    assert(Producer.parseHeader("""{"stream_name":1,"partition_key":"k"}""".getBytes) === None)
  }

  test("stream producer routes by partition key into shards") {
    FakeKinesis.reset()
    FakeKinesis.createStream("prod", 4)
    val p = new StreamProducer
    (1 to 40).foreach(i => p.put("prod", s"key$i", Map("i" -> i.toLong)))
    val perShard = FakeKinesis.listShards("prod")
      .map(s => FakeKinesis.getRecords("prod", s, -1L).length)
    assert(perShard.sum === 40)
    assert(perShard.count(_ > 0) >= 2, s"keys should spread over shards, got $perShard")
    // same key -> same shard (ordering per key preserved)
    FakeKinesis.reset(); FakeKinesis.createStream("prod2", 4)
    (1 to 10).foreach(i => p.put("prod2", "fixed", Map("i" -> i.toLong)))
    val counts = FakeKinesis.listShards("prod2")
      .map(s => FakeKinesis.getRecords("prod2", s, -1L).length)
    assert(counts.max === 10)
  }
}
