package graft.operators

import org.apache.spark.sql.functions._

/** Measurement harness behind `annLsh`'s default config: sweeps
  * (planes, band bits, probes) over the real embeddings and prints mean
  * recall@5 vs exact brute force together with the candidate fraction
  * examined — the recall-vs-cost curve reported in BENCH_NOTES. Runs
  * driver-side on the collected corpus (the test SFs are ≤ a few thousand
  * vectors; this is a tuning tool, not an operator) but shares the
  * operator's exact plane family and probe-ordering code
  * ([[Similarity.lshPlanesN]], [[Similarity.perturbKeys]]), so its numbers
  * are the operator's numbers.
  *
  * Usage: `sbt "runMain graft.operators.LshSweep [sfDir]"`.
  */
object LshSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Tables.session("lsh-sweep", "8")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val n = vecs.length
    val norm = vecs.map { case (_, v) => math.sqrt(v.map(x => x * x).sum) }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val queries = vecs.indices.filter(i => vecs(i)._1 % 100 == 0)
    val exact: Map[Int, Set[Long]] = queries.map { qi =>
      val (qid, qv) = vecs(qi)
      val top = vecs.indices.filter(_ != qi)
        .map(i => (dot(vecs(i)._2, qv) / (norm(i) * norm(qi)), vecs(i)._1))
        .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2)
      qi -> top.toSet
    }.toMap

    println(f"${"planes"}%7s ${"bits"}%5s ${"probes"}%7s ${"recall@5"}%9s ${"cand%"}%7s")
    for ((nPlanes, bandBits) <- Seq((16, 4), (32, 4), (32, 8), (64, 8), (64, 16))) {
      // signatures/buckets depend only on (planes, bits): hoisted out of
      // the probes loop
      val nBands = nPlanes / bandBits
      val mask = (1L << bandBits) - 1
      val planes = Similarity.lshPlanesN(nPlanes)
      val dots = vecs.map { case (_, v) => planes.map(p => dot(v, p)) }
      val sigs = dots.map { d =>
        var sig = 0L; var p = 0
        while (p < d.length) { if (d(p) >= 0) sig |= 1L << p; p += 1 }
        sig
      }
      // corpus buckets: (band, key) -> ids
      val buckets = scala.collection.mutable.HashMap
        .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
      for (i <- vecs.indices; b <- 0 until nBands)
        buckets.getOrElseUpdate((b, (sigs(i) >>> (b * bandBits)) & mask),
          scala.collection.mutable.ArrayBuffer.empty) += i
      for (probes <- Seq(1, 2, 4, 6, 8, 12, 16)) {
      var recallSum = 0.0; var candSum = 0.0
      queries.foreach { qi =>
        val conf = dots(qi).map(math.abs)
        val cand = scala.collection.mutable.HashSet.empty[Int]
        for (b <- 0 until nBands) {
          val key = (sigs(qi) >>> (b * bandBits)) & mask
          val order = Array.range(0, bandBits).sortBy(j => conf(b * bandBits + j))
          Similarity.perturbKeys(key, order, probes).foreach { pk =>
            buckets.get((b, pk)).foreach(cand ++= _)
          }
        }
        cand -= qi
        val (qid, qv) = vecs(qi)
        val top = cand.toSeq
          .map(i => (dot(vecs(i)._2, qv) / (norm(i) * norm(qi)), vecs(i)._1))
          .sortBy { case (c, id) => (-c, id) }.take(5).map(_._2).toSet
        recallSum += (top & exact(qi)).size / 5.0
        candSum += cand.size.toDouble / (n - 1)
      }
      println(f"$nPlanes%7d $bandBits%5d $probes%7d ${recallSum / queries.size}%9.3f ${100 * candSum / queries.size}%6.1f%%")
      }
    }
    spark.stop()
  }
}
