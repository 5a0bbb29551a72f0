package graft.operators

/** Measurement harness for q53's recall/cost curve: sweeps (nCells,
  * nProbe) over the REAL operator (`Similarity.annIvfKmeans` — same
  * codebook build, same probe/search) against exact brute force, printing
  * mean recall@5 and the mean scanned fraction per config. Companion to
  * [[LshSweep]]; the defaults in `annIvfKmeans` and the gate in
  * `SimilarityRecallSpec` come from this table.
  *
  * Usage: `sbt "runMain graft.operators.IvfSweep [sfDir]"`.
  */
object IvfSweep {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Tables.session("ivf-sweep", "16")
    spark.sparkContext.setLogLevel("ERROR")

    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topk(Similarity.annBruteForce(spark, dir))
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()

    for ((nCells, nProbe) <- Seq((8, 2), (16, 2), (16, 4), (32, 4), (32, 8), (64, 8))) {
      val approx = topk(Similarity.annIvfKmeans(spark, dir, nCells = nCells, nProbe = nProbe))
      val recalls = exact.map { case (q, t) => (t & approx.getOrElse(q, Set.empty)).size.toDouble / t.size }
      val mean = recalls.sum / recalls.size
      // scanned fraction from the operator's own assignments
      val cents = Similarity.kmeansCodebook(spark, dir, nCells, 5)
      val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
        .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
        .selectExpr("vec_id", "v",
          "sqrt(aggregate(transform(v, x -> x * x), 0.0d, (a, b) -> a + b)) as nrm")
      val sizes = Similarity.assignCells(spark, vecs, cents)
        .groupBy("cell").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val queries = vecs.where("vec_id % 100 = 0")
        .select("vec_id", "v").collect().map(r => r.getSeq[Double](1).toArray)
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val fracs = queries.map { qv =>
        cents.sortBy(c => (-cos(qv, c._2), c._1)).take(nProbe)
          .map(c => sizes.getOrElse(c._1, 0L)).sum.toDouble / corpus
      }
      val meanFrac = fracs.sum / fracs.length
      println(f"""{"cells":$nCells,"probes":$nProbe,"recall@5":$mean%.3f,"scanned":$meanFrac%.3f,"lift":${mean / meanFrac}%.2f}""")
      OpCache.releaseAll()
    }
    spark.stop()
  }
}
