package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Scratch

/** One pass of every registered query that stages, sinks or caches files
  * in a work directory leaves the shared session as it found it: no work
  * directory under the scratch root, no active stream, no temp view.
  */
class PassLeakSpec extends AnyFunSuite with SparkFixture {

  private val lifecycles = Seq(
    "q43_stream_hourly", "q47_stream_hourly_append", "q59_stream_incremental_dedup",
    "q72_stream_sessionize", "q78_training_shards", "q83_stream_quality_gate",
    "q84_archive_compact", "q91_stream_running_counts", "q92_stream_stream_join",
    "q96_stream_abandonment", "q100_jsonl_ingest", "q104_stream_dedup",
    "q111_incremental_view", "q112_orc_roundtrip", "q113_csv_ingest",
    "q115_schema_evolution", "q119_stream_static_join", "q130_stream_drift",
    "q159_stream_timer_sessions", "q179_late_data_audit", "q188_ann_index_append")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("each file-lifecycle query leaves no work directory, stream or temp view") {
    val views0 = tempViews
    lifecycles.foreach { name =>
      assert(SparkEntry.queries(name)(spark, sfDir).collect().nonEmpty, s"$name: no rows")
      assert(Scratch.liveWorkDirs.isEmpty, s"$name left ${Scratch.liveWorkDirs}")
      assert(spark.streams.active.isEmpty,
        s"$name left streams ${spark.streams.active.map(_.name).mkString(",")}")
      assert(tempViews == views0, s"$name left temp views ${tempViews -- views0}")
    }
  }
}
