package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

/** Earns q25's rows-only oracle exemption: LSH ANN recall is
  * engine-specific by design, so the driver can't hash-compare it — this
  * spec pins it against the exact brute-force top-k instead, so a banding
  * or signature regression (recall collapsing toward the ~0.05 random-
  * guess overlap) fails the build.
  *
  * Bound context: the synthetic embeddings are near-uniform (measured
  * pairwise cosine mass around 0.3-0.45 with no cluster structure), the
  * adversarial case for any sublinear ANN. The multi-probe config
  * (64 planes, 8×8-bit bands, 8 probes of each band's least-confident
  * bits) measures mean recall@5 0.76 at sf0.01 / 0.70 at sf0.1 while
  * examining ~24-26% of the corpus as candidates (full curve: BENCH_NOTES
  * "Multi-probe LSH ANN (q25)") — the old
  * single-probe 16-plane config bought 0.44 for the same 24% cost. On
  * clustered real-world embeddings the same banding concentrates
  * candidates and recall rises; the gate checks the machinery, not a
  * universal recall promise.
  */
class SimilarityRecallSpec extends AnyFunSuite with SparkFixture {

  test("multi-probe LSH ANN: recall@5 >= 0.6 at <= 30% candidate fraction (sf0.01)") {
    val dir = "/root/testdata/sf0.01"
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topk(Similarity.annBruteForce(spark, dir))
    val approx = topk(Similarity.annLsh(spark, dir))
    assert(approx.keySet === exact.keySet, "every query must return candidates")
    val recalls = exact.map { case (q, t) => (t & approx(q)).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.6, s"mean recall@5 $mean fell below the 0.6 gate " +
      s"(per-query: ${recalls.toSeq.sortBy(identity).mkString(", ")})")

    // the cost side of the same claim: candidates examined stay <= 30% of
    // the corpus per query — recall bought by probing everything is not
    // an index
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    val candPerQuery = Similarity.annLshCandidates(spark, dir)
      .groupBy("query_id").count().collect().map(_.getLong(1))
    val meanFrac = candPerQuery.map(_.toDouble / (corpus - 1)).sum / candPerQuery.length
    assert(meanFrac <= 0.30, f"mean candidate fraction $meanFrac%.3f exceeds 0.30")
  }

  test("k-means IVF ANN (q53): recall@5 vs brute force, bounded scan, exact when probing all cells") {
    val dir = "/root/testdata/sf0.01"
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exactDf = Similarity.annBruteForce(spark, dir)
    val exact = topk(exactDf)
    val approx = topk(Similarity.annIvfKmeans(spark, dir))
    assert(approx.keySet === exact.keySet, "every query must return neighbors")
    val recalls = exact.map { case (q, t) => (t & approx(q)).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size

    // cost side: the 8-of-64 probed cells must cover a bounded corpus
    // fraction per query — an index whose cells collapse into one bucket
    // "earns" recall by scanning everything. Reconstruct the probe on the
    // driver from the deterministic codebook (k x 64 doubles).
    val cents = Similarity.kmeansCodebook(spark, dir, 64, 5)
    val sizes = Similarity.assignCells(spark,
        spark.read.parquet(s"$dir/embeddings.parquet")
          .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
          .selectExpr("vec_id", "v",
            "sqrt(aggregate(transform(v, x -> x * x), 0.0d, (a, b) -> a + b)) as nrm"),
        cents)
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val corpus = sizes.values.sum.toDouble
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .where("vec_id % 100 = 0")
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) as v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val fracs = queries.map { case (_, qv) =>
      val probed = cents.sortBy(c => (-cos(qv, c._2), c._1)).take(8).map(_._1)
      probed.map(c => sizes.getOrElse(c, 0L)).sum / corpus
    }
    val meanFrac = fracs.sum / fracs.length
    assert(meanFrac <= 0.25, f"mean scanned fraction $meanFrac%.3f exceeds 0.25")
    // recall gate, relative to cost: blind-scanning fraction f of a
    // structureless corpus recovers ~f of the true neighbors, and these
    // synthetic embeddings are near-uniform BY DESIGN (the adversarial
    // geometry — see the class doc). The learned cells must beat that
    // baseline with margin (measured: recall 0.72 at 0.125 scanned for
    // the 64-cell/8-probe default, a 5.8x lift, BENCH_NOTES "q53
    // recall/cost context"; clustered real-world embeddings concentrate
    // much harder). An absolute floor
    // keeps the gate meaningful if the probe reconstruction drifts.
    assert(mean >= meanFrac * 2.0 && mean >= 0.5,
      f"mean recall@5 $mean%.3f did not beat the blind-scan baseline " +
        f"($meanFrac%.3f scanned) with margin")
    info(f"q53 mean recall@5 $mean%.3f at $meanFrac%.3f mean scanned fraction")

    // machinery check: probing EVERY cell is a full exact scan — must
    // reproduce brute force bit-for-bit (same kernel, same rounding)
    val all = Similarity.annIvfKmeans(spark, dir, nProbe = 64)
    assert(all.collect().map(_.toSeq).toSeq === exactDf.collect().map(_.toSeq).toSeq)
  }

  test("IVF-PQ ANN (q181): recall@5 close to q53's raw-vector scan, exact under full probe + corpus shortlist") {
    val dir = "/root/testdata/sf0.01"
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "neighbor_id").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exactDf = Similarity.annBruteForce(spark, dir)
    val exact = topk(exactDf)
    val approx = topk(Similarity.annIvfPq(spark, dir))
    assert(approx.keySet === exact.keySet, "every query must return neighbors")
    val recalls = exact.map { case (q, t) => (t & approx(q)).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    // the PQ shortlist can only LOSE recall relative to q53's raw in-cell
    // scan (same probed cells, 64x less data read); the gate is the q53
    // floor minus a bounded ADC toll — a collapse below it means the
    // codes stopped ranking, not just quantization noise
    val rawScan = topk(Similarity.annIvfKmeans(spark, dir))
    val rawRecall = exact.map { case (q, t) => (t & rawScan(q)).size.toDouble / t.size }
      .sum / exact.size
    info(f"q181 mean recall@5 $mean%.3f vs q53 raw-scan $rawRecall%.3f")
    assert(mean >= rawRecall - 0.15 && mean >= 0.45,
      f"q181 recall $mean%.3f collapsed vs the raw in-cell scan $rawRecall%.3f")

    // compression pinned: the scanned representation is nSub = 8 bytes a
    // vector (vs 64 doubles = 512 B raw — the 64x the operator exists for)
    val codeLens = Similarity.annIvfPqCodeWidths(spark, dir)
    assert(codeLens == Set(8), s"code width drifted: $codeLens")

    // machinery check: probe ALL cells and let the shortlist cover the
    // corpus — the exact refine must then reproduce brute force
    // bit-for-bit (same kernel, same rounding)
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet").count().toInt
    val all = Similarity.annIvfPq(spark, dir, spark.read.parquet(s"$dir/embeddings.parquet")
        .where("vec_id % 100 = 0").selectExpr("vec_id", "embedding"),
      k = 5, nCells = 64, nProbe = 64, iters = 5, nSub = 8, nCodes = 256,
      pqIters = 3, kAdc = corpus)
    assert(all.collect().map(_.toSeq).toSeq === exactDf.collect().map(_.toSeq).toSeq)
  }

  test("q71 kNN vote equals a hand-derived majority over the exact top-k") {
    val dir = sfDir
    val knn = Similarity.annBruteForce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val labels = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val expected = knn.groupBy(_._1).map { case (q, rs) =>
      val votes = rs.map(r => labels(r._2)).groupBy(identity).map { case (l, v) => (l, v.length) }
      // argmax by (votes desc, label asc) — the operator's documented tie-break
      q -> votes.toSeq.sortBy { case (l, v) => (-v, l) }.head
    }
    val got = Similarity.knnClassify(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (q, (l, v)) =>
      assert(got(q) === ((l, v.toLong)), s"query $q")
    }
  }

  test("q71 neighbor seam: probe-all IVF reproduces the exact vote; bounded probe agrees") {
    def votes(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the seam is lossless: probing EVERY cell is a full exact scan, so
    // the IVF-fed vote must reproduce the brute-force-fed vote exactly
    val small = "/root/testdata/sf0.001"
    assert(votes(Similarity.knnClassifyFrom(spark, small,
        Similarity.annIvfKmeans(spark, small, nProbe = 64)))
      === votes(Similarity.knnClassify(spark, small)))
    // the bounded 100 TB path: default 8-of-64 learned cells at sf0.01,
    // widened to a 10%-of-corpus query frame (50 queries — the %100
    // harness convention leaves 5, too few to gate a rate on). On these
    // near-uniform embeddings (the adversarial geometry — see class doc)
    // neighbor recall is ~0.72 and the 5-neighbor majority vote absorbs
    // part of the substitutions; the gate is set from the measured rate
    // with margin, well above the ~1/nLabels random-agreement floor.
    val dir = "/root/testdata/sf0.01"
    val queries = spark.read.parquet(s"$dir/embeddings.parquet")
      .where("vec_id % 10 = 0").select("vec_id", "embedding")
    val exact = votes(Similarity.knnClassifyFrom(spark, dir,
      Similarity.annBruteForce(spark, dir, queries, 5, 512)))
    val bounded = votes(Similarity.knnClassifyFrom(spark, dir,
      Similarity.annIvfKmeans(spark, dir, queries, 5, 64, 8, 5)))
    assert(bounded.keySet === exact.keySet, "every query must get a label")
    val agree = exact.count { case (q, (l, _)) => bounded(q)._1 == l }
    val rate = agree.toDouble / exact.size
    // measured 0.50 on the current testdata generation; gated at 0.35 so
    // a driver data regen doesn't flip the build while a machinery break
    // (agreement collapsing to the random floor) still does
    assert(rate >= 0.35, f"IVF-fed kNN label agreement $rate%.3f fell below 0.35")
    info(f"q71 IVF-fed label agreement: $rate%.3f over ${exact.size} queries")
  }

  test("q94 registered query IS the IVF-fed vote and covers every harness query") {
    val dir = "/root/testdata/sf0.01"
    // the registry entry must run the bounded path, not drift back to
    // brute force: bit-identical to the explicit composition…
    val registered = SparkEntry.queries("q94_knn_classify_ivf")(spark, dir)
      .collect().map(_.toSeq).toSeq
    val composed = Similarity.knnClassifyFrom(spark, dir,
      Similarity.annIvfKmeans(spark, dir, nProbe = 8))
      .collect().map(_.toSeq).toSeq
    assert(registered === composed)
    // …and probe-bounded IVF covers every query, so q94 keys = q71 keys
    val exactKeys = Similarity.knnClassify(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(registered.map(_.head.asInstanceOf[Long]).toSet === exactKeys)
  }

  test("ANN operators accept an arbitrary query frame, including external vectors") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // arbitrary set: three in-corpus ids OFF the %100 convention plus one
    // external vector that exists nowhere in the corpus
    val inIds = corpus.map(_._1).filter(id => id % 97 == 1).take(3)
    val external = (-7L, Array.tabulate(corpus.head._2.length)(i => (0.3f - 0.01f * i)))
    val queries = (inIds.map(id => (id, corpus.find(_._1 == id).get._2)) :+ external)
      .toSeq.toDF("vec_id", "embedding")
    val expectIds = (inIds :+ external._1).toSet

    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) = {
        var i = 0; var acc = 0.0
        while (i < x.length) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
        acc
      }
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    // local exact top-5 for every query (self excluded by id)
    val localTop = (inIds.map(id => (id, corpus.find(_._1 == id).get._2)) :+ external).map {
      case (qid, qv) =>
        qid -> corpus.filter(_._1 != qid)
          .map { case (id, v) => (id, cos(qv, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSeq
    }.toMap

    val bf = Similarity.annBruteForce(spark, dir, queries, 5, 512)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(bf.keySet === expectIds)
    assert(bf === localTop, "brute force over the query frame must equal local exact top-5")

    // probe-all learned IVF over the same frame reproduces brute force
    val ivfAll = Similarity.annIvfKmeans(spark, dir, queries, 5, 64, 64, 5)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
    assert(ivfAll === localTop)

    // per-label IVF + LSH: answer exactly the asked queries with true cosines
    val ivf = Similarity.annIvf(spark, dir, queries, 5, 2).collect()
    assert(ivf.map(_.getLong(0)).toSet.subsetOf(expectIds) && ivf.nonEmpty)
    val lsh = Similarity.annLsh(spark, dir, queries, 5, 64, 8, 8).collect()
    assert(lsh.map(_.getLong(0)).toSet.subsetOf(expectIds) && lsh.nonEmpty)
    lsh.foreach { r =>
      val qv = (inIds.map(id => (id, corpus.find(_._1 == id).get._2)) :+ external)
        .find(_._1 == r.getLong(0)).get._2
      val nv = corpus.find(_._1 == r.getLong(2)).get._2
      assert(math.abs(r.getDouble(3) - cos(qv, nv)) < 1e-5,
        s"LSH cosine for ${r.getLong(0)}->${r.getLong(2)} is not the true cosine")
    }
  }

  // q77's rows-only gates: semanticDedup has no SQL oracle (learned
  // k-means), so three invariants replace it.
  test("semantic dedup (q77): in-cell exactness, measured recall vs the global prune, one keeper per cluster") {
    val dir = "/root/testdata/sf0.01"
    val tau = 0.45
    val sem = Similarity.semanticDedup(spark, dir, tau = tau).collect()
    val cluster = sem.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cell = sem.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keep = sem.filter(_.getBoolean(3)).map(_.getLong(0)).toSet

    // (1) one keeper per cluster, and it is the min id (SemDeDup's
    // deterministic representative rule)
    val byCluster = sem.groupBy(_.getLong(2))
    byCluster.foreach { case (cid, rows) =>
      val keepers = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      assert(keepers.toSeq == Seq(cid) && cid == rows.map(_.getLong(0)).min,
        s"cluster $cid: keeper must be exactly the min member id")
    }

    // (2) in-cell exactness: every GLOBAL exact near-dup pair whose
    // endpoints landed in the same cell must be clustered together —
    // the cell-local compare may not drop pairs it can see
    val exact = Similarity.cosineNearDupPairs(spark, dir, threshold = tau)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sameCell = exact.filter { case (a, b) => cell(a) == cell(b) }
    sameCell.foreach { case (a, b) =>
      assert(cluster(a) == cluster(b),
        s"same-cell exact pair ($a,$b) not clustered together")
    }

    // (3) measured recall of the global exact pair set: the SemDeDup
    // bargain loses only the pairs the cells split. The synthetic
    // embeddings are near-uniform (no cluster structure — the
    // adversarial case, see the class doc); the floor pins the
    // machinery against regression, not a universal promise.
    val captured = exact.count { case (a, b) => cluster(a) == cluster(b) }
    val recall = if (exact.isEmpty) 1.0 else captured.toDouble / exact.length
    info(f"q77 recall vs global exact prune: $recall%.3f " +
      s"($captured/${exact.length} pairs, ${keep.size}/${sem.length} kept)")
    assert(exact.nonEmpty, "fixture must plant exact near-dup pairs")
    assert(recall >= 0.5, f"q77 recall $recall%.3f fell below the 0.5 floor")
  }

  test("semantic dedup (q77): pair-budget guard fails fast before the compare launches") {
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(spark, "/root/testdata/sf0.001", pairBudget = 1L)
    }
    assert(e.getMessage.contains("pair bound"))
  }

  test("q107 PCA: planted axis recovered, Rayleigh residual tiny, axes orthogonal, output deterministic") {
    import spark.implicits._
    // fixture: points along a planted dominant axis (dim 3) with small
    // noise on dim 7 — the top component must find the plant
    val d = 16
    val rows = (0 until 400).map { i =>
      val x = new Array[Float](d)
      val t = (i % 21 - 10).toFloat // deterministic spread, mean 0-ish
      x(3) = 5f * t
      x(7) = ((i * 7919) % 13 - 6).toFloat * 0.1f
      (i % 4, x)
    }
    val m = graft.operators.Similarity.pcaModel(rows.toDS())
    val cosAxis = math.abs(m.v1(3))
    assert(cosAxis > 0.999, s"planted axis not recovered: |v1(3)| = $cosAxis")
    // Rayleigh residual on the exact driver-side covariance
    val cv = m.cov.map(row => row.zip(m.v1).map { case (a, b) => a * b }.sum)
    val resid = math.sqrt(cv.zip(m.v1).map { case (a, b) =>
      val r = a - m.lam1 * b; r * r }.sum) / m.lam1
    assert(resid < 1e-6, s"Rayleigh residual $resid")
    val dot12 = m.v1.zip(m.v2).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-6, s"components not orthogonal: $dot12")
    assert(m.lam1 >= m.lam2 && m.lam2 >= -1e-9, s"eig order: ${m.lam1} < ${m.lam2}")
    // determinism + sanity on the real table: two runs, equal rows
    val dir = "/root/testdata/sf0.001"
    val r1 = graft.operators.Similarity.embeddingPca(spark, dir).collect().toSeq
    val r2 = graft.operators.Similarity.embeddingPca(spark, dir).collect().toSeq
    assert(r1 == r2, "embeddingPca must be run-to-run deterministic")
    assert(r1.nonEmpty && r1.forall(_.getDouble(6) <= 1.0 + 1e-9),
      "explained-variance fraction must be <= 1")
  }

  test("q118 diversity sample: every non-empty cell covered, quota held, members only, deterministic") {
    val dir = "/root/testdata/sf0.01"
    val k = 4
    val out = Similarity.diversitySample(spark, dir, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // quota: at most k per cell, n_in_cell-consistent
    val perCell = out.groupBy(_._1)
    perCell.foreach { case (cell, rows) =>
      assert(rows.length <= k, s"cell $cell over quota: ${rows.length}")
      assert(rows.length == math.min(k, rows.head._2),
        s"cell $cell sampled ${rows.length} of ${rows.head._2}")
    }
    // coverage + membership vs the shared inverted file
    import spark.implicits._
    val vecs = graft.Tables.table(spark, dir, "embeddings")
      .select($"vec_id").as[Long].collect().toSet
    assert(out.map(_._4).toSet.subsetOf(vecs), "sampled ids must be corpus members")
    val nInCells = perCell.view.mapValues(_.head._2).values.sum
    assert(nInCells == vecs.size,
      s"cells must partition the corpus: ${nInCells} vs ${vecs.size}")
    // determinism
    val out2 = Similarity.diversitySample(spark, dir, k = k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == out2.toSeq)
  }

  test("repeat ANN queries hold at most one live corpus cache per operator") {
    val dir = "/root/testdata/sf0.001"
    Similarity.annLsh(spark, dir).count()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    Similarity.annLsh(spark, dir).count()
    Similarity.annLsh(spark, dir).count()
    val after3 = spark.sparkContext.getPersistentRDDs.size
    assert(after3 <= after1,
      s"corpus caches accumulated: $after1 persistent RDDs after 1 call, $after3 after 3")
  }
}
