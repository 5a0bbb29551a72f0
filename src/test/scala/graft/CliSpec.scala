package graft

import org.scalatest.funsuite.AnyFunSuite

/** The four CLI commands against the reference's behaviors
  * (`/root/reference/triton.go:176-375`): store → cat round-trip with
  * JSON-lines output, shard listing, and stats over both checkpoint
  * stores. Runs `Cli.main` in-process (the session is shared; `Cli` only
  * creates one lazily).
  */
class CliSpec extends AnyFunSuite with SparkFixture {

  private def captureOut(body: => Unit): Seq[String] = {
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8"))(body)
    new String(bos.toByteArray, "UTF-8").linesIterator.toSeq
  }

  test("store then cat: archive range exports ordered JSON lines (K4)") {
    spark // force the shared fixture session so Cli reuses it via getOrCreate
    val root = tempDir("cli_arch").toString
    captureOut(Cli.main(Array("store",
      "--sf-dir", "/root/testdata/sf0.001", "--root", root, "--client", "c1")))
    val lines = captureOut(Cli.main(Array("cat",
      "--root", root, "--client", "c1", "--start", "20240101", "--end", "20241231")))
    assert(lines.nonEmpty)
    assert(lines.forall(l => l.startsWith("{") && l.contains("\"event_id\"")))
    // partition bookkeeping stays out of the JSON
    assert(!lines.head.contains("\"client\"") && !lines.head.contains("\"date\""))
    // ordered by (date, event_id): parse the ids per line and spot-check order
    val ids = lines.map(l => """"event_id":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
    assert(ids.size === ids.distinct.size)
  }

  test("shards lists the stream's shard ids (G2)") {
    streaming.FakeKinesis.reset()
    streaming.FakeKinesis.createStream("clistream", 3)
    val lines = captureOut(Cli.main(Array("shards", "--stream", "clistream")))
    assert(lines === Seq("shard-0", "shard-1", "shard-2"))
  }

  test("shards --pick N returns the Nth shard id; out-of-range fails with the count (G2/PickShardID)") {
    streaming.FakeKinesis.reset()
    streaming.FakeKinesis.createStream("pickstream", 3)
    assert(captureOut(Cli.main(Array("shards", "--stream", "pickstream", "--pick", "1")))
      === Seq("shard-1"))
    // trait-level utility, any ShardService implementation gets it
    assert(streaming.ShardService.resolve("fake").pickShardId("pickstream", 2) === "shard-2")
    val e = intercept[IllegalArgumentException] {
      streaming.FakeKinesis.pickShardId("pickstream", 3)
    }
    assert(e.getMessage.contains("doesn't have a shard 3") && e.getMessage.contains("3 shards"))
  }

  test("stats reads the JDBC checkpoint table for jdbc: locations (C4/G3)") {
    val db = streaming.CheckpointDb.open("jdbc:derby:memory:clidb;create=true")
    try db.checkpoint("graft", "events", "shard-0", "5", System.currentTimeMillis() / 1000L)
    finally db.close()
    val lines = captureOut(Cli.main(Array("stats",
      "--checkpoint", "jdbc:derby:memory:clidb", "--client", "graft")))
    assert(lines.length === 1)
    assert(lines.head.matches("""graft\.events\.shard-0\.age \d+"""), lines.head)
  }
}
