package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{EventOps, Similarity, TextAnalysis, TextDedup}

/** The bounded-state operators take tuning knobs (sketch size, block
  * count, query chunk) whose non-default paths the oracle harness never
  * exercises — the test corpus is small enough that one sketch/chunk/
  * block covers it. These tests force the degraded/partitioned paths and
  * assert bit-identical output, proving the bounds are lossless:
  *
  *  - a frequency sketch far smaller than the vocabulary must not change
  *    q20 (any consistent total order keeps the prefix filter lossless);
  *  - a block count that splits the corpus must not change q23 (each
  *    pair is owned by exactly one block-pair group);
  *  - a query chunk that splits the query set must not change q24 (each
  *    query's top-k window is complete within its chunk).
  */
class OperatorEquivalenceSpec extends AnyFunSuite with SparkFixture {

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q20 output is invariant to frequency-sketch size") {
    val full = rowsOf(TextDedup.ngramJaccardPairs(spark, sfDir, freqSketchSize = 1 << 16))
    val tiny = rowsOf(TextDedup.ngramJaccardPairs(spark, sfDir, freqSketchSize = 4))
    assert(tiny === full)
  }

  test("q20 saturation guard: fails fast with the measured bound, or routes to minhash-LSH") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    // sf10-shaped corpus in miniature: a BOUNDED vocabulary (5 words →
    // ≤125 distinct trigrams) over many docs, so prefix groups grow with
    // the corpus and the candidate bound goes quadratic — exactly the
    // measured scale failure, reproduced small
    val words = Array("alpha", "beta", "gamma", "delta", "eps")
    val dir = tempDir("saturated").toString
    (0 until 200).map { i =>
      val rnd = new scala.util.Random(i)
      (i.toLong, Seq.fill(30)(words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    // fail-fast path (the DEFAULT): the error carries the measured bound
    // and the fix
    val e = intercept[IllegalStateException] {
      TextDedup.ngramJaccardPairs(spark, dir, candidateBudget = 100L).collect()
    }
    assert(e.getMessage.contains("exceeds budget 100"))
    assert(e.getMessage.contains("minhashLshPairs"))
    // opt-in route: same rows as the minhash-LSH detector, and the
    // structured API SAYS it routed and carries the bound
    val rp = TextDedup.ngramJaccardPairsRouted(spark, dir, candidateBudget = 100L)
    assert(rp.routed && rp.candidateBound > 100L)
    val routed = rowsOf(TextDedup.ngramJaccardPairs(spark, dir, candidateBudget = 100L,
      routeOnSaturation = true))
    assert(routed === rowsOf(rp.pairs))
    assert(routed === rowsOf(TextDedup.minhashLshPairs(spark, dir)))
    // under budget the exact PPJoin result is unchanged (superset of the
    // LSH detector's by prefix-filter losslessness)
    val exact = rowsOf(TextDedup.ngramJaccardPairs(spark, dir))
    assert(routed.toSet.subsetOf(exact.toSet))
  }

  test("repeat q20 calls hold one live prefix-table cache (no per-call leak)") {
    TextDedup.ngramJaccardPairs(spark, sfDir).count()
    val after1 = spark.sparkContext.getPersistentRDDs.size
    TextDedup.ngramJaccardPairs(spark, sfDir).count()
    TextDedup.ngramJaccardPairs(spark, sfDir).count()
    val after3 = spark.sparkContext.getPersistentRDDs.size
    assert(after3 <= after1,
      s"prefix caches accumulated: $after1 persistent RDDs after 1 call, $after3 after 3")
  }

  test("q75 Bloom-prefiltered screen is bit-identical to the exact broadcast screen") {
    val dir = "/root/testdata/sf0.001"
    val exact = graft.operators.TextAnalysis
      .contamination(spark, dir, benchMod = 61, threshold = 0.3).collect()
    assert(exact.nonEmpty)
    val bloom = graft.operators.TextAnalysis.contaminationBloom(spark, dir).collect()
    assert(bloom.toSeq === exact.toSeq)
    // even a deliberately sloppy filter (50% fpp) changes nothing: every
    // false positive dies in the exact verify join — the BF only prices
    // the shuffle, never the answer
    val sloppy = graft.operators.TextAnalysis
      .contaminationBloom(spark, dir, fpp = 0.5).collect()
    assert(sloppy.toSeq === exact.toSeq)
  }

  test("q23 output is invariant to block count") {
    val b16 = rowsOf(Similarity.cosineNearDupPairs(spark, sfDir, blocks = 16))
    val b3 = rowsOf(Similarity.cosineNearDupPairs(spark, sfDir, blocks = 3))
    val b1 = rowsOf(Similarity.cosineNearDupPairs(spark, sfDir, blocks = 1))
    assert(b3 === b16)
    assert(b1 === b16)
  }

  test("q24 output is invariant to query-chunk size") {
    val whole = rowsOf(Similarity.annBruteForce(spark, sfDir, queryChunk = 512))
    val split = rowsOf(Similarity.annBruteForce(spark, sfDir, queryChunk = 2))
    assert(split === whole)
  }

  test("annBruteForce with zero queries returns an empty frame, not a crash") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("empty_q").toString
    // no vec_id is a multiple of 100 → the query set is empty
    Seq(1L, 2L, 3L).toDF("vec_id")
      .withColumn("embedding", expr("transform(sequence(1, 64), i -> cast(i as float))"))
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.annBruteForce(spark, dir)
    assert(out.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "cosine"))
    assert(out.count() === 0)
  }

  test("annIvfKmeans with an empty corpus returns an empty frame, not a crash") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("empty_kmeans").toString
    Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.annIvfKmeans(spark, dir)
    assert(out.columns.toSeq === Seq("query_id", "rank", "neighbor_id", "cosine"))
    assert(out.count() === 0)
  }

  test("q68 int8 quantization matches hand-computed components, zero vector safe") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("quant").toString
    Seq((10L, Array(1.0f, -2.0f, 0.5f), 7), (11L, Array(0.0f, 0.0f, 0.0f), 3))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val got = Similarity.quantizeInt8(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // ma=2: q = [floor(63.5+0.5), floor(-127+0.5), floor(31.75+0.5)] = [64, -127, 32]
    assert(got(10L) === ((7L, 3L, 2.0, -31L, 21249L, -94L)))
    // all-zero vector: the epsilon guard yields q=0 everywhere, max_abs 0
    assert(got(11L) === ((3L, 3L, 0.0, 0L, 0L, 0L)))
  }

  test("q42 candidate-fed pairs ⊆ exhaustive q23 pairs, with identical cosines") {
    // sf0.01: enough vectors that the banding actually forms candidates.
    // The banded path may miss pairs below the banding bar (that's the
    // trade), but every pair it emits must carry the exact all-pairs
    // cosine — the kernel is shared, only candidate generation differs.
    val dir = "/root/testdata/sf0.01"
    val exact = rowsOf(Similarity.cosineNearDupPairs(spark, dir))
      .map(r => (r(0), r(1)) -> r(2)).toMap
    val banded = rowsOf(Similarity.cosineNearDupLsh(spark, dir))
    assert(banded.nonEmpty, "banding must surface at least one true pair at sf0.01")
    banded.foreach { r =>
      assert(exact.get((r(0), r(1))).contains(r(2)),
        s"pair (${r(0)},${r(1)}) missing or cosine differs vs exhaustive search")
    }
  }

  test("q42 output is invariant to block count (bucket-local verify decomposition)") {
    val dir = "/root/testdata/sf0.01"
    val b16 = rowsOf(Similarity.cosineNearDupLsh(spark, dir, blocks = 16))
    val b3 = rowsOf(Similarity.cosineNearDupLsh(spark, dir, blocks = 3))
    val b1 = rowsOf(Similarity.cosineNearDupLsh(spark, dir, blocks = 1))
    assert(b16.nonEmpty)
    assert(b16 === b3)
    assert(b16 === b1)
  }

  test("q52 packing conserves tokens at every budget; bins respect the budget") {
    import graft.operators.Pipeline
    val perLangTokens = rowsOf(Pipeline.sequencePacking(spark, sfDir, budget = 256L))
      .groupBy(_.head).view.mapValues(_.map(_(3).asInstanceOf[Long]).sum).toMap
    Seq(64L, 1L << 40).foreach { budget =>
      val rows = rowsOf(Pipeline.sequencePacking(spark, sfDir, budget = budget))
      // token mass per language is budget-invariant (no doc dropped/duped)
      assert(rows.groupBy(_.head).view.mapValues(_.map(_(3).asInstanceOf[Long]).sum).toMap
        === perLangTokens)
      // a bin over budget can only be a single oversized document
      rows.foreach { r =>
        assert(r(3).asInstanceOf[Long] <= budget || r(2).asInstanceOf[Long] == 1L,
          s"multi-doc bin over budget: $r")
      }
      // bin ids are dense from 0 per language
      rows.groupBy(_.head).foreach { case (_, rs) =>
        assert(rs.map(_(1).asInstanceOf[Long]).sorted === (0L until rs.length).toSeq)
      }
    }
    // unbounded budget + single range → exactly one bin per language
    val one = rowsOf(Pipeline.sequencePacking(spark, sfDir, budget = 1L << 40,
      rangeSize = 1L << 40))
    assert(one.map(_.head).distinct.length === one.length)
    // unbounded budget at the default range size → one bin per (lang, range):
    // the bounded cross-range seam cost, parallelism's documented trade
    val perRange = rowsOf(Pipeline.sequencePacking(spark, sfDir, budget = 1L << 40))
    assert(perRange.length >= one.length)
  }

  test("q52 range sub-key: parallel (lang, range) packing matches the serial reference") {
    import graft.operators.Pipeline
    // driver-side reference: greedy fold per (lang, doc_id DIV rangeSize)
    // in doc_id order, bins renumbered per lang by cumulative range counts
    val docs = Tables.table(spark, sfDir, "documents")
      .select("lang", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2).split(" ", -1).length.toLong))
    def ref(budget: Long, rangeSize: Long): Seq[(String, Long, Long, Long)] =
      docs.groupBy(_._1).toSeq.flatMap { case (lang, ds) =>
        var off = 0L
        ds.groupBy(_._2 / rangeSize).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
          val bins = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (n_docs, n_tokens)
          var tot = 0L
          rs.sortBy(_._2).foreach { case (_, _, n) =>
            if (bins.nonEmpty && tot > 0 && tot + n > budget) tot = 0L
            if (bins.isEmpty || tot == 0L) { bins += ((0L, 0L)); }
            val last = bins.length - 1
            bins(last) = (bins(last)._1 + 1, bins(last)._2 + n)
            tot += n
          }
          val out = bins.zipWithIndex.map { case ((nd, nt), i) => (lang, off + i, nd, nt) }
          off += bins.length
          out
        }
      }.sortBy(t => (t._1, t._2))
    Seq(64L, 256L, 1L << 40).foreach { rangeSize =>
      val got = rowsOf(Pipeline.sequencePacking(spark, sfDir, budget = 256L,
          rangeSize = rangeSize))
        .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Long],
          r(2).asInstanceOf[Long], r(3).asInstanceOf[Long]))
      assert(got === ref(256L, rangeSize), s"rangeSize=$rangeSize")
    }
  }

  test("q58 chunking: correct chunk counts, window bound, full coverage at stride = window") {
    import graft.operators.Pipeline
    val ntok = Tables.table(spark, sfDir, "documents")
      .selectExpr("doc_id", "cast(size(split(text, ' ')) as long) as n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // overlapping default: every doc emits floor((n-1)/stride)+1 chunks,
    // each at most `window` tokens, and the first `stride` tokens of
    // consecutive chunks tile the document
    val rows = rowsOf(Pipeline.tokenChunks(spark, sfDir))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val n = ntok(id)
      assert(cs.length.toLong === (n - 1) / 48 + 1, s"doc $id chunk count")
      assert(cs.map(_._2).sorted === (0L until cs.length).toSeq)
      assert(cs.forall(_._3 <= 64))
      // last chunk reaches the document end
      val last = cs.maxBy(_._2)
      assert(last._2 * 48 + last._3 === n, s"doc $id tail coverage")
    }
    // stride == window → non-overlapping → token mass conserved exactly
    val flat = rowsOf(Pipeline.tokenChunks(spark, sfDir, window = 32, stride = 32))
      .map(r => (r(0).asInstanceOf[Long], r(2).asInstanceOf[Long]))
    flat.groupBy(_._1).foreach { case (id, cs) =>
      assert(cs.map(_._2).sum === ntok(id), s"doc $id token conservation")
    }
  }

  test("q56 incremental screen equals the within-corpus detector restricted to crossing pairs") {
    val dir = "/root/testdata/sf0.01"
    val pairs = TextDedup.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val inc = TextDedup.incrementalDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(inc.nonEmpty && inc.exists(!_._4), "some incoming doc must match the corpus")
    // same banding + same exact verify on both operators => q56's matches
    // per incoming doc are exactly q21's pairs with one endpoint on each
    // side of the split
    val isIncoming = (id: Long) => id % 10 == 7
    val crossing = pairs.flatMap { case (a, b, j) =>
      Seq((a, b, j), (b, a, j)).filter { case (x, y, _) => isIncoming(x) && !isIncoming(y) }
    }.groupBy(_._1)
    inc.foreach { case (id, n, bj, kept) =>
      val exp = crossing.getOrElse(id, Array.empty)
      assert(n === exp.length.toLong, s"doc $id match count")
      assert(bj === (if (exp.isEmpty) 0.0 else exp.map(_._3).max), s"doc $id best jaccard")
      assert(kept === exp.isEmpty, s"doc $id keep decision")
    }
  }

  test("q54 approx percentiles sit within the sketch's rank-error bound of the exact data") {
    import graft.operators.TextAnalysis
    // approx_percentile(accuracy=10000) guarantees a REAL data value whose
    // rank is within n/accuracy of the target rank — check each estimate
    // against the exact sorted values at the bounding ranks, per source
    val eps = 1.0 / 10000
    val bySource = Tables.table(spark, sfDir, "documents")
      .selectExpr("source", "cast(size(split(text, ' ')) as long) as n_ws")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val approx = TextAnalysis.tokenPercentilesApprox(spark, sfDir).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val vals = bySource(r.getString(0))
      val n = vals.length
      assert(r.getLong(1) === n.toLong) // n_docs agrees
      Seq(0.25 -> r.getDouble(2), 0.5 -> r.getDouble(3), 0.75 -> r.getDouble(4))
        .foreach { case (p, est) =>
          val lo = vals(math.max(0, math.floor((p - eps) * (n - 1)).toInt)).toDouble
          val hi = vals(math.min(n - 1, math.ceil((p + eps) * (n - 1)).toInt)).toDouble
          assert(est >= lo && est <= hi,
            s"source ${r.getString(0)} p$p estimate $est outside [$lo, $hi]")
        }
    }
    // and the estimate tracks q40's exact interpolated percentile closely
    // on this data (integer token counts: the exact value is between the
    // same bounding ranks)
    val exact = TextAnalysis.tokenPercentiles(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    approx.foreach { r =>
      val (p25, p50, p75) = exact(r.getString(0))
      assert(math.abs(r.getDouble(2) - p25) <= 1.0)
      assert(math.abs(r.getDouble(3) - p50) <= 1.0)
      assert(math.abs(r.getDouble(4) - p75) <= 1.0)
    }
  }

  test("q98 MG candidate pass is a superset of every >N/m item under adversarial skew") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{explode, split}
    // vocabulary (1000 one-off fillers) far exceeds the sketch size
    // (m = 4); the hot token's 400 occurrences are interleaved so every
    // partition sees mostly fillers. Guarantee under test: any token
    // with count > N/m survives the per-partition summaries, so the
    // exact recheck emits exactly the true >N/k report.
    val fillers = (0 until 50).map(i => s"f$i") // each recurs ~20 times
    val words = scala.collection.mutable.ArrayBuffer.empty[String]
    var fi = 0
    (0 until 1400).foreach { i =>
      if (i % 7 < 2) words += "hot" // 400 hot
      else { words += fillers(fi % 50); fi += 1 }
    }
    val docs = words.grouped(20).map(_.mkString(" ")).toSeq
      .toDF("text").repartition(8)
    // N = 1400, k = 4 -> threshold 350; hot = 400 qualifies, nothing else
    val got = TextAnalysis.heavyHittersDf(docs, k = 4, m = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("hot", 400L)))
    // cross-check vs the exact full groupBy at a looser threshold that
    // admits the ~20-count fillers too. m >= k is the guarantee's
    // precondition: every token > N/m = 10.9 survives the sketch, so
    // the > N/k = 14 report is complete.
    val exact = docs.select(explode(split($"text", " ")).as("w"))
      .groupBy($"w").count()
      .where($"count" * 100 > 1400)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(exact.size > 10, "fixture must admit many tokens at the loose threshold")
    val gotLoose = TextAnalysis.heavyHittersDf(docs, k = 100, m = 128)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotLoose === exact)
  }

  test("q49 contamination: benchmark-held-out docs score overlap 1 when duplicated") {
    import graft.operators.TextAnalysis
    // benchMod=1 would make every doc benchmark → empty checked set; the
    // operator must return an empty frame, not divide by zero or crash
    val none = TextAnalysis.contamination(spark, sfDir, benchMod = 1L)
    assert(none.count() === 0)
    // two different holdouts: overlaps must stay valid fractions and the
    // per-source doc accounting must cover exactly the non-benchmark docs
    Seq(97L, 10L).foreach { mod =>
      val rows = TextAnalysis.contamination(spark, sfDir, benchMod = mod).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val mx = r.getDouble(3)
        assert(mx >= 0.0 && mx <= 1.0)
        assert(r.getLong(2) <= r.getLong(1)) // n_contaminated <= n_docs
      }
    }
  }

  test("q18 HLL estimate stays within 3 sigma of the exact count; q74 is its exact half") {
    // q18's approx column is rows-only at the oracle (sketch estimates are
    // engine-specific) — this is its error gate instead: the sketch is
    // configured at rsd 0.01, so |approx - exact| / exact <= 3 * 0.01
    // with overwhelming probability (and exactly 0 in HLL's sparse regime
    // at these cardinalities). Run at sf0.01 so the gate sees thousands
    // of distinct users, not tens.
    val dir = "/root/testdata/sf0.01"
    val rows = EventOps.userCardinality(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      assert(exact > 0)
      val relErr = math.abs(approx - exact).toDouble / exact
      assert(relErr <= 0.03,
        s"event_type ${r.getString(0)}: HLL $approx vs exact $exact " +
          f"(rel err $relErr%.4f > 3 sigma of the 0.01 rsd)")
    }
    // q74 = the same exact counts without the sketch column
    val exactHalf = EventOps.userCardinalityExact(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exactHalf === rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("q122 experiment lift: exposure gating, strict 7-day window, hash-deterministic variants") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val us = 1000000L
    val day = 24L * 3600 * 1000000L
    // (user, t, type): u1 converts (purchase at +1h); u2 purchases at +8d
    // (outside window); u3 never purchases; u4 purchases but was never
    // exposed (excluded); u5's purchase PRECEDES exposure (not converted)
    val rows = Seq(
      (1L, 0L, "click"), (1L, 3600L * us, "purchase"),
      (2L, 0L, "click"), (2L, 8L * day, "purchase"),
      (3L, 0L, "click"),
      (4L, 0L, "purchase"),
      (5L, day, "click"), (5L, day - 3600L * us, "purchase"))
    val dir = tempDir("explift").toString
    rows.zipWithIndex.map { case ((u, t, ty), i) =>
      (i.toLong, t, u, ty, 0.0, "{}")
    }.toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventOps.experimentLift(spark, dir).collect().head
    val (nA, kA, nB, kB) =
      (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
    assert(nA + nB == 4, "exposed users are exactly u1,u2,u3,u5")
    assert(kA + kB == 1, "only u1's +1h purchase converts")
    // variant split must follow hash60 parity exactly
    val parity = Seq(1L, 2L, 3L, 5L).toDF("user_id")
      .select($"user_id", (expr("hash60(cast(user_id as string))") % 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(nA == parity.values.count(_ == 0) && nB == parity.values.count(_ == 1))
    assert((if (parity(1L) == 0) kA else kB) == 1)
  }

  test("q123 PSI: a source mirroring the mix scores near zero, a shifted source scores high") {
    import spark.implicits._
    // 'bulk' is 95% short / 5% long; 'mirror' reproduces that ratio at a
    // tenth the size (small-source fairness is exactly what the +r
    // smoothing buys — under +1/+1 this mirror measured 0.61); 'drift' is
    // all long words, its mass in a bin the mix barely occupies
    val shortDoc = Seq.fill(20)("ab").mkString(" ")
    val longDoc = Seq.fill(20)("abcdefghijkl").mkString(" ")
    def mk(ids: Range, frac20th: Int, src: String) = ids.map { i =>
      val text = if (i % 20 < frac20th) longDoc else shortDoc
      (i.toLong, text, "en", src, 0L)
    }
    val docs = mk(1 to 400, 1, "bulk") ++ mk(401 to 440, 1, "mirror") ++
      (441 to 450).map(i => (i.toLong, longDoc, "en", "drift", 0L))
    val dir = tempDir("psi").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val psi = graft.operators.TextAnalysis.sourcePsi(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(psi("mirror") < 0.05,
      s"a source matching the mix must sit near zero, got ${psi("mirror")}")
    assert(psi("drift") > 0.25,
      s"an all-shifted source must cross the conventional 0.25 line, got ${psi("drift")}")
    assert(psi("drift") > 10 * psi("mirror"),
      s"drift must dominate the faithful mirror by an order of magnitude: $psi")
  }

  test("q125 purge audit: counts are conserved and the customer leg equals the key-list size") {
    import spark.implicits._
    val rows = graft.operators.EventOps.purgeAudit(spark, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("customer", "orders", "events"))
    rows.foreach { case (t, (before, refs, after)) =>
      assert(before == refs + after, s"$t: $before != $refs + $after")
    }
    val nDel = graft.Tables.table(spark, sfDir, "customer")
      .where($"c_custkey" % 97 === 0).count()
    assert(rows("customer")._2 == nDel,
      "every key-list customer row must count as a reference to itself")
  }

  test("q126 basket lift: a type pair forced into every session lifts to exactly N/(n_a) scale") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // two users; each session contains both 'x' and 'y'; 'z' appears in
    // only one session — lift(x,y) = (2*2)/(2*2) = 1.0 exactly, and
    // lift(x,z) = (1*2)/(2*1) = 1.0, all from exact integer rationals
    val us = 1000000L
    val rows = Seq(
      (1L, 0L, "x"), (2L, 1L * us, "y"),
      (3L, 7200L * us, "x"), (4L, 7201L * us, "y"), (5L, 7202L * us, "z"))
    val dir = tempDir("basket").toString
    rows.map { case (id, t, ty) => (id, t, 1L, ty, 0.0, "{}") }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.EventOps.basketLift(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // 2 sessions (7200 s apart >= the 30-min gap)
    assert(out(("x", "y")) == ((2L, 2L, 2L, 1.0)))
    assert(out(("x", "z")) == ((2L, 1L, 1L, 1.0)))
    assert(out(("y", "z")) == ((2L, 1L, 1L, 1.0)))
  }

  private def writeOrders(dir: String,
                          rows: Seq[(Long, Long, String, Double, String)]): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice",
        timestamp_micros(lit(0L)).as("o_orderdate"), $"o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  private def writeCustomer(dir: String,
                            rows: Seq[(Long, String, Int, Double, String)]): Unit = {
    import spark.implicits._
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
  }

  test("q134 benford: digit counting is exact and the expectation hits log10(1+1/d) to six places") {
    val dir = tempDir("benford").toString
    writeOrders(dir, Seq(
      (1L, 1L, "O", 12.3, "1-URGENT"),
      (2L, 1L, "O", 923.0, "1-URGENT"),
      (3L, 1L, "O", 105.5, "1-URGENT")))
    val out = graft.operators.Relational.benfordProfile(spark, dir).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(1L, 9L), "12.3 and 105.5 lead with 1; 923.0 leads with 9")
    assert(out(1L)._1 == 2L && out(9L)._1 == 1L)
    assert(out(1L)._2 == 0.666667 && out(9L)._2 == 0.333333)
    assert(out(1L)._3 == 0.30103, "benford(1) = log10(2) rounded to six places")
    assert(out(9L)._3 == 0.045757, "benford(9) = log10(10/9) rounded to six places")
  }

  test("q135 gini: equal spend is exactly 0, one-customer concentration is (n-1)/n") {
    val dir = tempDir("gini").toString
    // nation 0: four customers spending identically -> gini exactly 0
    // nation 1: four customers, one holds all revenue -> gini = 3/4
    writeCustomer(dir, Seq(
      (1L, "a", 0, 0.0, "B"), (2L, "b", 0, 0.0, "B"),
      (3L, "c", 0, 0.0, "B"), (4L, "d", 0, 0.0, "B"),
      (5L, "e", 1, 0.0, "B"), (6L, "f", 1, 0.0, "B"),
      (7L, "g", 1, 0.0, "B"), (8L, "h", 1, 0.0, "B")))
    writeOrders(dir,
      (1L to 4L).map(k => (k, k, "O", 7.50, "P")) ++ Seq(
        (5L, 5L, "O", 0.0, "P"), (6L, 6L, "O", 0.0, "P"),
        (7L, 7L, "O", 0.0, "P"), (8L, 8L, "O", 10.0, "P")))
    val out = graft.operators.Relational.giniConcentration(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(0L) == ((4L, 3000L, 0.0)))
    assert(out(1L) == ((4L, 1000L, 0.75)))
  }

  test("q136 scd2: consecutive duplicates collapse, intervals chain, last version stays open") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val us = 1000000L
    val dir = tempDir("scd2").toString
    // user 1 emits a,a,b,a -> three versions: a[10,30) b[30,40) a[40,open)
    val rows = Seq(
      (1L, 10L * us, 1L, "a"), (2L, 20L * us, 1L, "a"),
      (3L, 30L * us, 1L, "b"), (4L, 40L * us, 1L, "a"),
      (5L, 5L * us, 2L, "z"))
    rows.map { case (id, t, u, ty) => (id, t, u, ty, 0.0, "{}") }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.EventOps.scd2History(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getString(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
    assert(out.toMap == Map(
      (1L, 1L) -> (("a", 10L * us, 30L * us, false)),
      (1L, 2L) -> (("b", 30L * us, 40L * us, false)),
      (1L, 3L) -> (("a", 40L * us, -1L, true)),
      (2L, 1L) -> (("z", 5L * us, -1L, true))))
  }

  test("q137 concurrency: overlapping sessions count, the half-open boundary does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val us = 1000000L
    val day = 86400L
    val dir = tempDir("sweep").toString
    // day 0: user 1's session is [0, 1800s); user 3 starts AT 1800s ->
    //        never concurrent (half-open), peak stays 1
    // day 1: users 1 and 2 overlap (0s and 600s starts) -> peak 2
    val rows = Seq(
      (1L, 0L, 1L), (2L, 1800L, 3L),
      (3L, day, 1L), (4L, day + 600L, 2L))
    rows.map { case (id, t, u) => (id, t * us, u, "click", 0.0, "{}") }
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
      .select($"event_id", timestamp_micros($"ts_us").as("ts"), $"user_id",
        $"event_type", $"value", $"props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.operators.EventOps.concurrencyProfile(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 1L, "a session starting exactly at another's end never overlaps it")
    assert(out(1L) == 2L, "two open intervals at 600s must count as 2")
  }

  test("q138 expectations: every declared rule fires on its planted violation") {
    val dir = tempDir("expect").toString
    writeOrders(dir, Seq(
      (1L, 10L, "O", 5.0, "P1"),
      (1L, 10L, "X", 0.0, "P1"),   // dup key, bad status, price at the open bound
      (2L, 99L, "F", 20.0, "P2"))) // custkey 99 has no customer row
    writeCustomer(dir, Seq((10L, "n", 0, -5000.0, "")))
    val out = graft.operators.Relational.expectationsReport(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("orders.o_orderkey.not_null") == ((3L, 0L, true)))
    assert(out("orders.o_orderkey.unique") == ((3L, 1L, false)))
    assert(out("orders.o_totalprice.in_range") == ((3L, 1L, false)))
    assert(out("orders.o_orderstatus.in_domain") == ((3L, 1L, false)))
    assert(out("orders.o_orderdate.not_null") == ((3L, 0L, true)))
    assert(out("orders.o_custkey.fk_customer") == ((3L, 1L, false)))
    assert(out("customer.c_mktsegment.not_empty") == ((1L, 1L, false)))
    assert(out("customer.c_acctbal.min_bound") == ((1L, 1L, false)))
  }
}
