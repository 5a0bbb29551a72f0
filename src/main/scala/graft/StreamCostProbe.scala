package graft

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Round-11 measurement instrument for the streaming block's fixed cost
  * (VERDICT r10 item 1: the 14 lifecycles carry ~28 s of the 148 s sf0.1
  * suite). Attaches a StreamingQueryListener and, for each lifecycle run,
  * aggregates the engine's own per-batch duration breakdown
  * (`durationMs`: addBatch / getBatch / latestOffset / queryPlanning /
  * walCommit / commitOffsets) plus batch count and state-operator commit
  * times — so "machinery, not data" becomes an attributed number per
  * phase instead of a total. Then A/Bs the two candidate knobs:
  *
  *   - state partition count (8 = the round-10 setting, vs 4/2): each
  *     stateful operator pays one state-store open/commit per partition
  *     per batch;
  *   - `noDataMicroBatches.enabled=false` for lifecycles that emit on
  *     ARRIVAL (inner join, within-watermark dedup, complete-mode agg,
  *     stateless router, foreachBatch): the trailing no-data batch only
  *     evicts state these one-shot replays are about to discard anyway.
  *     Append-mode window/session queries NEED that batch to emit — never
  *     probed for those.
  *
  * Usage: `sbt "runMain graft.StreamCostProbe [queryName ...]"` over
  * SPARK_GRAFT_SF_DIR (default sf0.1). Results land in BENCH_NOTES.
  */
object StreamCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.session("stream-cost-probe", cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // per-phase duration accumulator, reset between runs
    val phase = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nBatches = 0
    var stateCommitMs = 0L
    var stateRows = 0L
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        phase.synchronized {
          nBatches += 1
          e.progress.durationMs.forEach((k, v) => phase(k) += v.longValue())
          e.progress.stateOperators.foreach { so =>
            stateCommitMs += so.allUpdatesTimeMs + so.commitTimeMs
            stateRows += so.numRowsTotal
          }
        }
    }
    spark.streams.addListener(listener)

    val lifecycles: Seq[(String, Int => Unit)] = Seq(
      "q92" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.streamStreamJoin(spark, sfDir)).collect(): Unit),
      "q96" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.streamAbandonment(spark, sfDir)).collect(): Unit),
      "q159" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.timerSessionsStreamed(spark, sfDir)).collect(): Unit),
      "q179" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.operators.EventOps.lateDataAudit(spark, sfDir)).collect(): Unit),
      "q130" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.streamSourceDrift(spark, sfDir)).collect(): Unit),
      "q47" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.hourlyCountsStreamedAppend(spark, sfDir)).collect(): Unit),
      "q104" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.streamDedupWithinWatermark(spark, sfDir)).collect(): Unit),
      "q72" -> ((n: Int) => graft.streaming.StreamOps.withStatePartitions(spark, n)(
        graft.streaming.StreamOps.sessionizeStreamed(spark, sfDir)).collect(): Unit))
    val wanted = if (args.nonEmpty) args.toSet else lifecycles.map(_._1).toSet

    def run(tag: String, name: String, body: => Unit): Unit = {
      phase.synchronized { phase.clear(); nBatches = 0; stateCommitMs = 0L; stateRows = 0L }
      val t0 = System.nanoTime()
      body
      val wallMs = (System.nanoTime() - t0) / 1000000
      // listener events are async; give the final batch's event a moment
      Thread.sleep(300)
      val (ph, nb, scm, srw) = phase.synchronized {
        (phase.toSeq.sortBy(-_._2), nBatches, stateCommitMs, stateRows)
      }
      val top = ph.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(f"PROBE $tag%-28s $name%-5s wall=${wallMs}ms batches=$nb state_ms=$scm state_rows=$srw :: $top")
    }

    // warmup pass (codegen/JIT) at the same SF, untimed semantics-wise
    lifecycles.filter(l => wanted(l._1)).foreach { case (n, f) =>
      run(s"warmup", n, f(8))
    }
    // A/B state partitions, alternating to defeat box drift
    Seq(8, 2, 8, 2, 4).foreach { parts =>
      lifecycles.filter(l => wanted(l._1)).foreach { case (n, f) =>
        run(s"stateParts=$parts", n, f(parts))
      }
    }
    // no-data-batch knob on the emit-on-arrival lifecycles only
    val confKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    Seq("q92", "q104", "q130").foreach { n =>
      lifecycles.find(_._1 == n).filter(l => wanted(l._1)).foreach { case (_, f) =>
        spark.conf.set(confKey, "false")
        try run(s"noDataBatch=off", n, f(8)) finally spark.conf.set(confKey, "true")
        run(s"noDataBatch=on", n, f(8))
      }
    }
    spark.stop()
  }
}
