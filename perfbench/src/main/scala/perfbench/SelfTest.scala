package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Archive

/** Shows that each correctness gate fires: every gate must pass on true
  * data and report a problem on perturbed data, and a failed gate or a
  * thrown call must count as a failed operation.
  */
object SelfTest {
  def run(spark: SparkSession, work: String): Int = {
    val checks = mutable.ArrayBuffer[(String, Boolean)]()
    def expectPass(name: String, problems: => Seq[String]): Unit = checks += (s"passes: $name" -> problems.isEmpty)
    def expectFire(name: String, problems: => Seq[String]): Unit = checks += (s"fires: $name" -> problems.nonEmpty)

    val ctx = new Ctx(spark, 7L, 2, work, new Tracer(spark, "selftest", enabled = false))
    val stream = "selftest"
    BenchService.dropStream(stream)
    BenchService.createStream(stream, Ingest.Shards)
    val (frames, _) = Gen.frames(ctx.seed, 0, 3000, Gen.Epoch, 30 * Gen.DayMicros, 0.02, 2)
    Gen.put(stream, frames)
    val events = frames.flatMap(_.event).toSeq
    val injected = frames.count(_.event.isEmpty).toLong
    val expected = Gates.digestOf(events)
    expectPass("digest without Spark equals the digest Spark computes",
      Gates.readBack(expected, Gates.digest(Gen.eventsFrame(spark, events))))
    val root = ctx.dir("selftest/archive")
    val ckpt = ctx.dir("selftest/ckpt")
    val commit = Ingest.drain(ctx, stream, root, ckpt)
    val archived = Archive.read(spark, root, Ingest.Client, "00000000", "99999999")
    val back = Gates.digest(archived)

    expectPass("read-back count and digest", Gates.readBack(expected, back))
    val dropped = Gates.digest(archived.where(col("event_id") =!= events.head.eventId))
    expectFire("read-back with one record dropped", Gates.readBack(expected, dropped))
    val altered = Gates.digest(archived.withColumn("version",
      when(col("event_id") === events.head.eventId, col("version") + 1).otherwise(col("version"))))
    expectFire("read-back with one field altered", Gates.readBack(expected, altered))
    expectFire("perturbed digest", Gates.readBack(expected.copy(hashSum = expected.hashSum + 1), back))

    expectPass("dead letters", Gates.deadLetters(injected, frames.length - back.count))
    expectFire("dead letters off by one", Gates.deadLetters(injected, frames.length - back.count + 1))

    expectPass("committed sequences", commit)
    val latest = BenchService.listShards(stream).map(s => s -> BenchService.latestSequence(stream, s)).toMap
    expectFire("a shard one record behind", Gates.committed(latest, latest.updated("shard-0", latest("shard-0") - 1)))
    expectFire("a shard never committed", Gates.committed(latest, latest - "shard-1"))
    BenchService.put(stream, "late-key", graft.streaming.Producer.encode(events.head.toRecord))
    expectFire("a put after the drain", Gates.committed(
      BenchService.listShards(stream).map(s => s -> BenchService.latestSequence(stream, s)).toMap, latest))

    val dates = events.map(_.date).distinct.sorted
    val week = dates.take(7)
    val inWeek = events.count(e => week.contains(e.date)).toLong
    val lines = Cat.lines(root, week.head, week.last)
    expectPass("cat lines", Gates.catLines(lines, inWeek))
    expectFire("cat with one line dropped", Gates.catLines(lines.tail, inWeek))
    expectFire("cat with two lines swapped",
      Gates.catLines(lines.updated(0, lines(1)).updated(1, lines(0)), inWeek))

    val rows = Array(Row(1L, 0.1 + 0.2), Row(2L, 3.0))
    val d = Gates.resultDigest(rows)
    expectPass("query digest ignores row order", Gates.sameResult("q", d, Gates.resultDigest(rows.reverse)))
    expectPass("query digest ignores a sum's last bits",
      Gates.sameResult("q", d, Gates.resultDigest(Array(Row(1L, 0.3), Row(2L, 3.0)))))
    expectFire("query digest of a changed row",
      Gates.sameResult("q", d, Gates.resultDigest(Array(Row(1L, 0.3), Row(2L, 4.0)))))
    expectFire("query digest of a missing row", Gates.sameResult("q", d, Gates.resultDigest(rows.take(1))))

    ctx.op("gate fails")(Seq("perturbed"))
    ctx.op("call throws")(throw new IllegalStateException("boom"))
    ctx.op("clean")(Nil)
    checks += ("failed gates and thrown calls count as failed operations" ->
      (ctx.attempted == 3 && ctx.failed == 2))
    BenchService.dropStream(stream)

    checks.foreach { case (name, ok) => System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name") }
    val bad = checks.filterNot(_._2).map(_._1)
    println(Json.obj(Map("selftest" -> (if (bad.isEmpty) "pass" else "fail"),
      "checks" -> checks.length, "failed" -> bad.length)))
    if (bad.isEmpty) 0 else 1
  }
}
