package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{OpCache, Similarity, TextAnalysis}

/** A session memo rebuilds when its input is rewritten under the same
  * path: the call after the rewrite returns what a call on an empty
  * registry returns, and that differs from the answer before the rewrite.
  * One case per memo kind: a scratch directory (q33's archive), a
  * driver-side value trained on documents (BPE ranks) and one trained on
  * embeddings (the k-means codebook).
  */
class MemoRebuildSpec extends AnyFunSuite with SparkFixture {

  /** `call` on a copy of `table`, then again after the copy is rewritten
    * in place with the rows `keep` selects. */
  private def rebuildsAfterRewrite[T](table: String, keep: String)(call: String => T): Unit = {
    val dir = tempDir("memo_rebuild").toString
    def write(src: org.apache.spark.sql.DataFrame): Unit =
      src.write.mode("overwrite").parquet(s"$dir/$table.parquet")
    val source = spark.read.parquet(s"$sfDir/$table.parquet")
    write(source)
    val before = call(dir)
    write(source.where(keep))
    val after = call(dir)
    OpCache.releaseAll()
    val cold = call(dir)
    assert(after == cold, s"$table rewritten: the memo served what the old file produced")
    assert(after != before, s"$table rewritten: the answer did not change")
  }

  test("q33's pinned archive rebuilds after events.parquet is rewritten") {
    rebuildsAfterRewrite("events", "event_id % 2 = 0") { dir =>
      SparkEntry.queries("q33_tri_roundtrip")(spark, dir).collect().map(_.toString).toSeq
    }
  }

  test("BPE merge ranks rebuild after documents.parquet is rewritten") {
    rebuildsAfterRewrite("documents", "doc_id % 2 = 0") { dir =>
      TextAnalysis.bpeRanks(spark, dir, 64, 65536)
    }
  }

  test("the k-means codebook rebuilds after embeddings.parquet is rewritten") {
    rebuildsAfterRewrite("embeddings", "vec_id % 2 = 0") { dir =>
      Similarity.kmeansCodebook(spark, dir, 8, 5).toSeq
        .map { case (cell, v, n) => (cell, v.toSeq, n) }
    }
  }
}
