package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener, StreamingQueryProgress}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{Sink, StateShape}

/** The one AvailableNow drain of the streaming lifecycles: a lifecycle
  * runs the state shape it declares however it is called, and a drain that
  * fails leaves the session as it found it.
  */
class StreamDrainSpec extends AnyFunSuite with SparkFixture {

  /** Every streaming progress event `body` causes, delivered before return. */
  private def progressOf(body: => Unit): Seq[StreamingQueryProgress] = {
    val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.add(e.progress): Unit
    }
    spark.streams.addListener(listener)
    try {
      body
      GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.streams.removeListener(listener)
    seen.asScala.toSeq
  }

  /** (state partitions of every stateful operator, micro-batches) of one run. */
  private def shapeOf(run: => DataFrame): (Seq[Long], Int) = {
    val progress = progressOf(run.collect(): Unit)
    (progress.flatMap(_.stateOperators.map(_.numShufflePartitions)).distinct.sorted, progress.size)
  }

  test("a direct call of q92 runs the state shape its registry entry runs") {
    val direct = shapeOf(StreamOps.streamStreamJoin(spark, sfDir))
    val registered = shapeOf(SparkEntry.queries("q92_stream_stream_join")(spark, sfDir))
    assert(registered._1.nonEmpty, "q92's join must report its state operators")
    assert(direct === registered)
    // sf0.001 sizes row-keyed state to the 2-partition floor, not the
    // fixture session's 4
    assert(direct._1 === Seq(2L))
  }

  test("a failed drain restores its confs and leaves no query and no memory-sink view") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(k => spark.conf.getOption(k))
    def tempViews: Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val viewsBefore = tempViews
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    def stream = spark.readStream.schema(raw.schema).parquet(s"$sfDir/[e]vents.parquet")
    // a shape that changes all three confs
    val shape = StateShape.RowKeyed(s"$sfDir/events.parquet", onArrival = true, rocksDb = true)
    @volatile var during: Seq[Option[String]] = Nil
    Scratch.withWorkDir("drain_fail_batches") { work =>
      intercept[StreamingQueryException] {
        StreamOps.drain(shape, work, stream, Sink.Batches { (_, _) =>
          during = keys.map(k => spark.conf.getOption(k))
          throw new IllegalStateException("the batch failed")
        })
      }
    }
    assert(during.head === Some("2"))
    assert(during(1) === Some("false"))
    assert(during(2).exists(_.contains("RocksDB")))
    val boom = udf((_: Long) => { throw new IllegalStateException("the row failed"); 0L })
    Scratch.withWorkDir("drain_fail_memory") { work =>
      intercept[StreamingQueryException] {
        StreamOps.drain(StateShape.Grid(onArrival = true), work,
          stream.select(boom(col("event_id")).as("x")), Sink.Memory)
      }
    }
    assert(keys.map(k => spark.conf.getOption(k)) === before)
    assert(spark.streams.active.isEmpty)
    assert(tempViews === viewsBefore)
  }
}
