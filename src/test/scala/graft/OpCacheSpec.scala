package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.OpCache

/** The memo rule: a repeat call on an unchanged input dir is a cache hit
  * (the build closure never re-runs), and ANY content mutation of the
  * dir — a new file, a rewrite — misses and rebuilds.
  */
class OpCacheSpec extends AnyFunSuite with SparkFixture {

  test("memoDir hits on an unchanged dir and rebuilds after mutation") {
    import spark.implicits._
    val dir = tempDir("opcache_spec")
    try {
      Files.writeString(dir.resolve("part-0"), "one")
      var builds = 0
      def call() = OpCache.dataset("opCacheSpec", spark, dir.toString, "k") {
        builds += 1
        Seq(builds).toDS()
      }
      assert(call().head() == 1)
      assert(call().head() == 1) // unchanged dir: memo hit, no rebuild
      assert(builds == 1)
      // mutate: new file changes (count, bytes) whatever the mtime
      // granularity of the filesystem
      Files.writeString(dir.resolve("part-1"), "two")
      assert(call().head() == 2) // stamp changed: rebuilt from new contents
      assert(builds == 2)
    } finally {
      OpCache.release("opCacheSpec")
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }

  test("each family keeps one live entry, and each kind is released its own way") {
    import spark.implicits._
    val a = tempDir("opcache_a").toString
    val b = tempDir("opcache_b").toString
    def stage(tag: String)(d: java.nio.file.Path): Unit = { Files.writeString(d.resolve("f"), tag); () }
    val dA = OpCache.directory("opCacheSpecDir", spark, a)(stage("a"))
    assert(OpCache.directory("opCacheSpecDir", spark, a)(_ => fail("rebuilt on a hit")) == dA)
    // a new key evicts the family's entry: the old directory is deleted
    val dB = OpCache.directory("opCacheSpecDir", spark, b)(stage("b"))
    assert(!Files.exists(dA) && Files.readString(dB.resolve("f")) == "b")
    val ds = OpCache.dataset("opCacheSpecDs", spark, a)(Seq(1).toDS())
    assert(ds.storageLevel.useMemory)
    assert(OpCache.value("opCacheSpecVal", spark, a)(41) == 41)
    assert(OpCache.value("opCacheSpecVal", spark, a)(42) == 41)
    assert(Set("opCacheSpecDir", "opCacheSpecDs", "opCacheSpecVal")
      .subsetOf(OpCache.liveFamilies.toSet))
    OpCache.releaseAll()
    assert(OpCache.liveFamilies.isEmpty)
    assert(!Files.exists(dB))
    assert(!ds.storageLevel.useMemory)
    assert(OpCache.value("opCacheSpecVal", spark, a)(42) == 42)
    OpCache.release("opCacheSpecVal")
  }

  /** Every registered query that builds a session memo, by family
    * (BENCH_NOTES "Memo audit"). */
  private val memoConsumers = Seq(
    "q20_ngram_jaccard_pairs", "q21_minhash_lsh_pairs", "q23_cosine_neardup",
    "q24_ann_bruteforce", "q25_ann_lsh", "q33_tri_roundtrip", "q42_cosine_neardup_lsh",
    "q47_stream_hourly_append", "q48_dedup_clusters", "q49_contamination",
    "q51_ngram_novelty", "q53_ann_ivf_kmeans", "q55_dedup_keep_list",
    "q56_incremental_dedup", "q57_embed_dedup_clusters", "q59_stream_incremental_dedup",
    "q64_line_dedup", "q66_canonical_docs", "q69_line_dedup_keep_first",
    "q70_dup_ngram_fraction", "q71_knn_classify", "q72_stream_sessionize",
    "q73_cross_source_overlap", "q75_contamination_bloom", "q76_dup_substring_coverage",
    "q77_semantic_dedup", "q94_knn_classify_ivf", "q95_subword_bpe",
    "q96_stream_abandonment", "q104_stream_dedup", "q111_incremental_view",
    "q118_diversity_sample", "q120_hybrid_rrf", "q123_source_psi", "q129_retrieval_eval",
    "q130_stream_drift", "q142_bipartite_pagerank", "q148_copurchase_triangles",
    "q155_dedup_eval", "q156_split_leakage", "q159_stream_timer_sessions",
    "q161_bucketed_join_audit", "q162_cluster_capped_sample", "q163_matryoshka_eval",
    "q166_bench_leak_report", "q172_label_propagation", "q179_late_data_audit",
    "q181_ann_ivfpq", "q182_sequence_packing_bpe", "q185_ann_index_serve",
    "q186_knn_from_index", "q188_ann_index_append")

  test("a second pass of every memo consumer builds no memo and adds no live entry") {
    def pass(): Unit = memoConsumers.foreach { n =>
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    pass()
    val (builds, live) = (OpCache.builds, OpCache.liveFamilies)
    pass()
    assert(OpCache.builds - builds === 0L, "the second pass rebuilt a memo")
    assert(OpCache.liveFamilies === live)
  }

  test("dirStamp distinguishes absent, empty, and populated dirs") {
    val dir = tempDir("opcache_stamp")
    try {
      assert(OpCache.dirStamp(dir.resolve("nope").toString) == "absent")
      val empty = OpCache.dirStamp(dir.toString)
      Files.writeString(dir.resolve("f"), "x")
      assert(OpCache.dirStamp(dir.toString) != empty)
    } finally {
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
