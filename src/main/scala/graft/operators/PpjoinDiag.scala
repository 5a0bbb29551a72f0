package graft.operators

import org.apache.spark.sql.functions._

/** Measurement harness for q20's scale boundary: reports the PPJoin
  * candidate volume implied by the operator's own prefix table WITHOUT
  * running the candidate join — `sum(g*(g-1)/2)` over per-shingle prefix
  * groups is the join's output upper bound (before the length/positional
  * filters), computable from one tiny aggregation. Optionally (`exact`
  * arg) also counts the real filtered join output; only safe where the
  * bound says so — at sf10 on the bounded synthetic vocabulary the join
  * itself exhausts the box's spill disk (measured: >77 GB, Aug 2026).
  *
  * Usage: `sbt "runMain graft.operators.PpjoinDiag [sfDir] [exact]"`.
  */
object PpjoinDiag {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val exact = args.lift(1).contains("exact")
    val spark = graft.Tables.session("ppjoin-diag", "16")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val threshold = 0.8
    val (sh, rankedDf) = TextDedup.prefixRanked(spark, dir, threshold, 1 << 16)
    val ranked = rankedDf.cache()
    val (nDocs, meanNsh) = sh.agg(count(lit(1)), avg($"nsh"))
      .as[(Long, Double)].collect().head
    val prefixRows = ranked.count()
    // group sizes per prefix shingle -> candidate upper bound + skew
    val Array((groups, maxG, bound)) = ranked.groupBy($"h").count()
      .agg(count(lit(1)), max($"count"),
           sum(expr("count * (count - 1) DIV 2")))
      .as[(Long, Long, Long)].collect()
    val exactCand = if (exact) {
      val tt = threshold / (1.0 + threshold)
      ranked.as("a").join(ranked.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id"
            && $"a.nsh" >= lit(threshold) * $"b.nsh"
            && $"b.nsh" >= lit(threshold) * $"a.nsh"
            && (lit(1) + least($"a.nsh" - $"a.rn", $"b.nsh" - $"b.rn"))
               >= lit(tt) * ($"a.nsh" + $"b.nsh"))
        .count()
    } else -1L
    println(f"""{"sf":"$dir","docs":$nDocs,"mean_shingles":$meanNsh%.1f,"prefix_rows":$prefixRows,"prefix_groups":$groups,"max_group":$maxG,"cand_upper_bound":$bound,"cand_filtered":$exactCand}""")
    spark.stop()
  }
}
