package perfbench

/** Per-layer metrics of the traced run, with their units. A workload that
  * does not exercise a layer reports 0 for it.
  */
object Layers {
  val Layouts = Seq("compacted", "fragmented")

  /** Five of the archive and msgpack queries and the cheapest streaming
    * lifecycle. Each other lifecycle, and q84's compaction, costs 1.2 to
    * 2.8 s a pass and 2.5 to 5 s cold.
    */
  val EventQueries = Seq(
    "q10_cat_range", "q14_decode_props", "q17_archive_keys", "q33_tri_roundtrip",
    "q34_msgpack_roundtrip", "q47_stream_hourly_append")

  /** Span names whose self time is reported as `self_ms.<name>`. */
  val SelfTimed = Seq("producer", "stream", "checkpoints", "decode", "archive_write",
    "archive_read", "cat", "operators", "gates")

  val All: Seq[(String, String)] = Seq(
    "producer.encode_us_per_record" -> "us",
    "producer.wire_bytes" -> "bytes",
    "source.get_records_calls" -> "count",
    "source.records_per_call" -> "ratio",
    "stream.start_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "stream.batches" -> "count",
    "decode.ns_per_record" -> "ns",
    "decode.dead_letters" -> "count",
    "archive_write.ns_per_record" -> "ns",
    "archive_write.files" -> "count",
    "archive_write.files_per_1k_records" -> "ratio",
    "archive_write.bytes_per_record" -> "bytes",
  ) ++ Layouts.flatMap(l => Seq(
    s"archive_read.list_ms.$l" -> "ms",
    s"archive_read.files_opened.$l" -> "count",
    s"archive_read.bytes_read.$l" -> "bytes",
    s"archive_read.day_ms.$l" -> "ms",
    s"archive_read.agg_ms.$l" -> "ms",
    s"archive_read.full_scan_ms.$l" -> "ms",
    s"cat.week_ms.$l" -> "ms",
  )) ++ Seq(
    "archive_read.returned_per_read" -> "ratio",
    "cat.lines" -> "count",
    "checkpoints.offsets_ms" -> "ms",
    "checkpoints.lag_records" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
  ) ++ EventQueries.flatMap(q => Seq(s"query.${q}_ms" -> "ms", s"query.${q}_cold_ms" -> "ms"))
}
