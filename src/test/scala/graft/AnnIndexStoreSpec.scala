package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.{AnnIndexStore, OpCache, Similarity}

/** Earns q185/q186's rows-only oracle exemption: the persisted-index
  * lifecycle (build → write → load → serve) must be RESULT-INVISIBLE —
  * an artifact round trip through parquet serves exactly what the
  * in-session index serves — and must actually SERVE, not rebuild:
  * after every session memo is dropped, serving from the artifact may
  * touch the raw corpus (the exact-refine input) but never re-trains a
  * codebook. Plus the two failure-shape guards: a stale artifact
  * against a rewritten corpus refuses to serve, and the pruned codes
  * scan carries its probed-cell IN as a parquet PARTITION filter (the
  * 100 TB read-reduction claim, pinned on the plan).
  */
class AnnIndexStoreSpec extends AnyFunSuite with SparkFixture {

  private val dir = "/root/testdata/sf0.01"

  /** Live coarse and PQ codebook memos in the session registry. */
  private def codebooks: Seq[String] = OpCache.liveFamilies.filter(f =>
    f.startsWith("kmeansCodebook|") || f.startsWith("pqCodebooks|"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString)

  test("artifact round trip serves the in-session result row-for-row, without rebuilding codebooks") {
    val inSession = rows(Similarity.annIvfPq(spark, dir))
    assert(inSession.nonEmpty)

    val work = tempDir("annidx_spec").toString
    AnnIndexStore.write(spark, dir, work)

    // fresh-session simulation: drop EVERY session memo (vector caches,
    // coarse + PQ codebooks, BPE ranks) — the artifact on disk is all
    // that survives a real session boundary
    OpCache.releaseAll()
    assert(codebooks.isEmpty)

    val idx = AnnIndexStore.load(spark, work)
    val served = rows(AnnIndexStore.serve(spark, dir, idx,
      spark.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") % 100 === 0).select("vec_id", "embedding")))
    assert(served === inSession,
      "artifact-served top-k must equal the in-session index's result")

    // the serve path re-reads raw vectors (exact refine needs them) but
    // must NOT have re-trained either codebook
    assert(codebooks.isEmpty,
      "serving from the artifact re-trained a codebook")
  }

  test("q186: kNN vote from the persisted index equals the vote from in-session neighbors") {
    val fromIndex = rows(AnnIndexStore.knnClassifyFromIndex(spark, dir))
    val inSession = rows(Similarity.knnClassifyFrom(spark, dir,
      Similarity.annIvfPq(spark, dir)))
    assert(fromIndex.nonEmpty)
    assert(fromIndex === inSession)
  }

  test("serving a stale index against a different corpus is refused") {
    val work = tempDir("annidx_stale").toString
    AnnIndexStore.write(spark, dir, work)
    val idx = AnnIndexStore.load(spark, work)
    val other = "/root/testdata/sf0.001"
    val ex = intercept[IllegalArgumentException] {
      AnnIndexStore.serve(spark, other, idx,
        spark.read.parquet(s"$other/embeddings.parquet")
          .select("vec_id", "embedding").limit(1))
    }
    assert(ex.getMessage.contains("rebuild the index"))
  }

  test("append: delta encode is bit-identical to the build kernel, stale guard re-arms, twins serve at cosine 1") {
    import org.apache.spark.sql.functions._
    // growable corpus sandbox: embeddings.parquet as a DIRECTORY of part
    // files, so the corpus can grow the way a landing zone does
    val corpus = tempDir("annidx_grow").toString
    val embDir = java.nio.file.Paths.get(corpus, "embeddings.parquet")
    java.nio.file.Files.createDirectories(embDir)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/embeddings.parquet"),
      embDir.resolve("part-000.parquet"))
    val work = tempDir("annidx_append").toString
    AnnIndexStore.write(spark, corpus, work)
    val idx0 = AnnIndexStore.load(spark, work)
    def codeMap(idx: AnnIndexStore.Loaded, pred: org.apache.spark.sql.Column) =
      idx.codes.where(pred).collect()
        .map(r => r.getLong(1) -> ((r.getInt(0), r.getAs[Array[Byte]](2).toSeq)))
        .toMap
    val before = codeMap(idx0, lit(true))
    assert(before.nonEmpty)

    // the corpus grows: exact twins of every vector under shifted ids
    val shift = 1000000000L
    spark.read.parquet(s"$corpus/embeddings.parquet")
      .select((col("vec_id") + shift).as("vec_id"), col("embedding"),
        col("label"))
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")

    // the pre-growth artifact must now REFUSE to serve (stamp mismatch)
    intercept[IllegalArgumentException] {
      AnnIndexStore.serve(spark, corpus, idx0,
        spark.read.parquet(s"$corpus/embeddings.parquet")
          .select("vec_id", "embedding").limit(1))
    }

    // append ONLY the delta, frozen codebooks
    val delta = spark.read.parquet(s"$corpus/embeddings.parquet")
      .where(col("vec_id") >= shift).select("vec_id", "embedding")
    AnnIndexStore.append(spark, corpus, work, delta)
    val idx1 = AnnIndexStore.load(spark, work)

    // 1) appended (cell, code) equals the original build's for the same
    //    vector — the encode kernel is shared, this pins it end-to-end
    val appended = codeMap(idx1, col("vec_id") >= shift)
      .map { case (id, v) => (id - shift) -> v }
    assert(appended === before, "append path diverged from the build encode")
    // and the original rows are untouched
    assert(codeMap(idx1, col("vec_id") < shift) === before)

    // 2) the refreshed artifact serves the grown corpus, and every
    //    query's exact twin surfaces at cosine 1
    val queries = spark.read.parquet(s"$corpus/embeddings.parquet")
      .where(col("vec_id") % 100 === 0 && col("vec_id") < shift)
      .select("vec_id", "embedding")
    val served = AnnIndexStore.serve(spark, corpus, idx1, queries,
      k = 5, nProbe = idx1.nCells, kAdc = 64)
    val byQuery = served.collect().groupBy(_.getLong(0))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rows) =>
      val twin = rows.find(_.getLong(2) == q + shift)
      assert(twin.isDefined, s"query $q: twin not in top-5")
      assert(twin.get.getDouble(3) === 1.0, s"query $q: twin cosine != 1")
    }
  }

  test("q188 audit: every appended twin matches its original's cell and code") {
    val row = AnnIndexStore.annIndexAppendAudit(spark, dir).collect()(0)
    val (nBase, nAppended, nMatches) =
      (row.getLong(0), row.getLong(1), row.getLong(2))
    assert(nAppended > 0)
    assert(nMatches === nAppended,
      s"append drifted from the build encode: $nMatches of $nAppended matched")
    assert(nBase >= nAppended)
  }

  test("the probed-cell IN lands as a parquet partition filter on the codes scan") {
    val work = tempDir("annidx_prune").toString
    AnnIndexStore.write(spark, dir, work)
    val idx = AnnIndexStore.load(spark, work)
    // the serving kernel's exact pre-filter shape, on the loaded frame
    val pruned = idx.codes.where(col("cell").isin(0, 1, 2))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a parquet file scan for the codes frame")
    assert(scans.exists(_.partitionFilters.exists(_.references.exists(_.name == "cell"))),
      s"cell IN must prune partitions, got partitionFilters=${scans.map(_.partitionFilters)}")
    // and pruning is real: the selected cell directories are a strict
    // subset of the written ones
    val allCells = new java.io.File(s"$work/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(allCells > 3, s"expected >3 cell directories, got $allCells")
    val readFiles = pruned.select(org.apache.spark.sql.functions.input_file_name())
      .distinct().collect().map(_.getString(0)).toSet
    val readCells = readFiles.map(p => p.replaceAll(".*cell=", "").replaceAll("/.*", "")).map(_.toInt)
    assert(readCells.subsetOf(Set(0, 1, 2)),
      s"scan read cells outside the probe set: $readCells")
  }
}
