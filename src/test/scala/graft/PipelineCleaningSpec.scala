package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{TextAnalysis, TextDedup}

/** Hand-computed expectations for the corpus-cleaning operators added in
  * round 6 — PII redaction (q63), CCNet-style line dedup (q64), and the
  * unigram-LM rarity filter (q65). Each test builds a corpus small enough
  * that the expected output is derivable on paper, independent of both
  * the operator and the DuckDB oracle.
  */
class PipelineCleaningSpec extends AnyFunSuite with SparkFixture {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("cleaning").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("q95 BPE train/encode match the hand-computed fixture") {
    import graft.functions.Bpe
    // corpus: "aaab" x3, "aab" x2. Hand-derived rounds:
    //   r1: pairs (a,a)=2*3+1*2=8, (a,b)=3+2=5          -> merge (a,a)
    //       words: [aa,a,b]x3, [aa,b]x2
    //   r2: (aa,a)=3, (a,b)=3, (aa,b)=2; tie 3: ("a","b") < ("aa","a")
    //       lexicographically                            -> merge (a,b)
    //       words: [aa,ab]x3, [aa,b]x2
    //   r3: (aa,ab)=3, (aa,b)=2                          -> merge (aa,ab)
    val wc = Seq("aaab" -> 3L, "aab" -> 2L)
    val merges = Bpe.train(wc, 3)
    assert(merges === Vector(("a", "a"), ("a", "b"), ("aa", "ab")))
    val ranks = merges.zipWithIndex.toMap
    assert(Bpe.encode("aaab", ranks) === Vector("aaab"))
    assert(Bpe.encode("aab", ranks) === Vector("aa", "b"))
    assert(Bpe.encode("ba", ranks) === Vector("b", "a")) // no applicable merge
    assert(Bpe.encode("aaaab", ranks) === Vector("aa", "aa", "b"))
    // determinism + early stop: re-train identical; merge budget past
    // full fusion stops rather than inventing pairs
    assert(Bpe.train(wc, 3) === merges)
    assert(Bpe.train(Seq("ab" -> 1L), 10) === Vector(("a", "b")))
  }

  test("q95 profile: round-trip invariant and fixture arithmetic") {
    import graft.functions.Bpe
    // round-trip: pieces concatenate back to the word's bytes, for every
    // corpus word under the corpus-trained merges
    val docs = Seq(0L -> "aaab aab aaab", 1L -> "ba aab", 2L -> "aaab")
    val dir = writeDocs(docs)
    val words = docs.flatMap(_._2.split(' '))
    val wc = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }
      .toSeq.sortBy { case (w, c) => (-c, w) }
    val ranks = Bpe.train(wc, 8).zipWithIndex.toMap
    words.distinct.foreach { w =>
      assert(Bpe.encode(w, ranks).mkString === w, s"round-trip of $w")
    }
    // operator output vs hand counts: corpus counts aaab=4, aab=2, ba=1
    //   -> merges fuse aaab fully and aab fully within 8 rounds, so
    // recompute expected pieces directly from the pinned encode
    val pieces = words.map(w => Bpe.encode(w, ranks).length.toLong).sum
    val bytes = words.map(_.length.toLong).sum
    val got = TextAnalysis.subwordProfile(spark, dir, nMerges = 8).collect()
    assert(got.length === 1)
    val r = got.head
    assert(r.getString(0) === "t")
    assert(r.getLong(1) === 3L) // n_docs
    assert(r.getLong(2) === bytes)
    assert(r.getLong(3) === pieces)
    assert(r.getDouble(4) === math.floor(bytes.toDouble / pieces * 1e6 + 0.5) / 1e6)
  }

  test("q182 BPE packing: conservation vs q95's piece totals, budget bound, dense bins, shared ranks") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val budget = 256L
    val bins = operators.Pipeline.sequencePackingBpe(spark, dir, budget = budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bins.nonEmpty)
    // (1) conservation: total packed pieces == q95's corpus piece total —
    // the two surfaces share ONE rank table, so a drift here means the
    // budgeting tokenizer and the profiled tokenizer diverged
    val packedPieces = bins.map(_._4).sum
    val profiled = operators.TextAnalysis.subwordProfile(spark, dir)
      .agg(sum(col("sum_pieces"))).collect().head.getLong(0)
    assert(packedPieces === profiled,
      s"packed $packedPieces pieces but q95 profiled $profiled")
    // (2) budget: a bin over budget must be a single oversized document
    bins.filter(_._4 > budget).foreach { case (lang, bin, nDocs, nTok) =>
      assert(nDocs === 1L, s"bin ($lang,$bin) holds $nDocs docs at $nTok > $budget tokens")
    }
    // (3) dense per-lang numbering starting at 0
    bins.groupBy(_._1).foreach { case (lang, rows) =>
      val ids = rows.map(_._2).sorted
      assert(ids === (0L until ids.length).toArray.toSeq.toArray, s"$lang bins not dense")
    }
    // (4) deterministic: a second run reproduces the first bit-for-bit
    val again = operators.Pipeline.sequencePackingBpe(spark, dir, budget = budget)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq === bins.toSeq)
  }

  test("q63 counts and redacted checksum match the injection rule") {
    val docs = Seq(0L -> "alpha beta", 1L -> "gamma", 5L -> "t one two")
    val dir = writeDocs(docs)
    val got = TextAnalysis.piiRedaction(spark, dir).collect()
    assert(got.length === docs.length)
    got.foreach { r =>
      val id = r.getLong(0)
      val text = docs.toMap.apply(id)
      val nEmail = 1 + id % 3
      val nPhone = id % 2
      assert(r.getLong(1) === nEmail, s"n_email doc $id")
      assert(r.getLong(2) === nPhone, s"n_phone doc $id")
      assert(r.getLong(3) === 1L, s"n_ip doc $id")
      val redacted = text + (" <EMAIL>" * nEmail.toInt) +
        (" <PHONE>" * nPhone.toInt) + " <IP>"
      assert(r.getString(4) === md5Hex(redacted), s"clean_md5 doc $id")
    }
  }

  test("q64 drops every copy of a corpus-duplicated line, keeps order") {
    val dir = writeDocs(Seq(
      0L -> "a1 a2 a3 a4 dup1 dup2 dup3 dup4",
      1L -> "dup1 dup2 dup3 dup4 b1 b2 b3 b4",
      2L -> "c1 c2 c3 c4 c5",
      3L -> "dup1 dup2 dup3 dup4"))
    val got = TextDedup.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(0L) === ((2L, 1L, md5Hex("a1 a2 a3 a4"))))
    assert(got(1L) === ((2L, 1L, md5Hex("b1 b2 b3 b4"))))
    // short tail line "c5" is its own line and unique -> doc 2 intact
    assert(got(2L) === ((2L, 2L, md5Hex("c1 c2 c3 c4 c5"))))
    // every line duplicated -> empty doc, md5 of ""
    assert(got(3L) === ((1L, 0L, md5Hex(""))))
  }

  test("q69 keeps exactly the first occurrence of a duplicated line") {
    val dir = writeDocs(Seq(
      0L -> "a1 a2 a3 a4 dup1 dup2 dup3 dup4",
      1L -> "dup1 dup2 dup3 dup4 b1 b2 b3 b4",
      2L -> "dup1 dup2 dup3 dup4"))
    val got = TextDedup.lineDedupKeepFirst(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 0 holds the globally-first (doc_id=0, pos=1) copy of the dup
    // line -> keeps BOTH its lines; later copies in docs 1 and 2 drop
    assert(got(0L) === ((2L, 2L, md5Hex("a1 a2 a3 a4 dup1 dup2 dup3 dup4"))))
    assert(got(1L) === ((2L, 1L, md5Hex("b1 b2 b3 b4"))))
    assert(got(2L) === ((1L, 0L, md5Hex(""))))
  }

  test("q70 marks BOTH holders of a shared trigram as duplicated") {
    val dir = writeDocs(Seq(
      0L -> "x1 x2 x3 u1",   // trigrams: (x1 x2 x3), (x2 x3 u1)
      1L -> "x1 x2 x3 u2",   // shares (x1 x2 x3) with doc 0
      2L -> "z1 z2 z3"))     // fully unique
    val got = TextAnalysis.dupNgramFraction(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(0L) === ((2L, 1L, 0.5)))
    assert(got(1L) === ((2L, 1L, 0.5)))
    assert(got(2L) === ((1L, 0L, 0.0)))
  }

  test("q76 merges overlapping dup windows into exact token coverage") {
    val dir = writeDocs(Seq(
      // docs 0/1 share the 10-token run s1..s10 at different offsets:
      // three 8-token windows each, merging to ONE 10-token span
      0L -> "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 a1 a2",
      1L -> "z1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 z2",
      2L -> "u1 u2 u3 u4 u5 u6 u7 u8", // one window, unique
      3L -> "v1 v2 v3",                // shorter than a window
      // docs 4/5 share TWO disjoint 8-token runs -> two separate spans
      4L -> "p1 p2 p3 p4 p5 p6 p7 p8 m1 m2 m3 m4 q1 q2 q3 q4 q5 q6 q7 q8",
      5L -> "p1 p2 p3 p4 p5 p6 p7 p8 w1 w2 w3 w4 q1 q2 q3 q4 q5 q6 q7 q8"))
    val got = TextDedup.dupSubstringCoverage(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))).toMap
    assert(got(0L) === ((12L, 5L, 3L, 1L, 10L, 0.833333)))
    assert(got(1L) === ((12L, 5L, 3L, 1L, 10L, 0.833333)))
    assert(got(2L) === ((8L, 1L, 0L, 0L, 0L, 0.0)))
    assert(got(3L) === ((3L, 0L, 0L, 0L, 0L, 0.0)))
    assert(got(4L) === ((20L, 13L, 2L, 2L, 16L, 0.8)))
    assert(got(5L) === ((20L, 13L, 2L, 2L, 16L, 0.8)))
  }

  test("q76 packs negative doc_ids exactly and refuses ids past 32 bits") {
    val a = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 a1 a2"
    val b = "z1 s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 z2"
    def coverage(ids: (Long, Long)): Seq[(Long, Long, Long, Long, Long, Double)] =
      TextDedup.dupSubstringCoverage(spark, writeDocs(Seq(ids._1 -> a, ids._2 -> b)))
        .collect().toSeq.map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getDouble(6)))
    val want = Seq.fill(2)((12L, 5L, 3L, 1L, 10L, 0.833333))
    assert(coverage((0L, 1L)) === want)
    // doc_id -1 packs to a negative BIGINT; a truncating unpack would
    // file its windows under doc 0 at negative positions
    assert(coverage((-1L, 1L)) === want)
    // past 2^31 the pack cannot be exact: the query must fail, not alias
    val err = intercept[Exception](coverage(((1L << 31) + 1L, 1L)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).toLowerCase.contains("overflow")))
  }

  test("q78 writes one file per shard and round-trips every document") {
    val dir = writeDocs((0L until 20L).map(i => i -> s"tok$i a b"))
    val out = tempDir("q78spec").toString
    val stats = graft.operators.Pipeline
      .trainingShards(spark, dir, nShards = 4, keepDir = Some(out)).collect()
    assert(stats.map(_.getLong(1)).sum === 20L, "every doc lands in a shard")
    // layout: one parquet file per written shard directory (the training-
    // loader contract the repartition-on-shard exists for)
    val shardDirs = new java.io.File(s"$out/shards").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
    assert(shardDirs.nonEmpty)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"${d.getName}: expected 1 file, got ${files.length}")
    }
    // round trip: the read-back corpus is exactly the input corpus
    val back = spark.read.parquet(s"$out/shards")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back === orig)
  }

  test("q66 keeps exactly the argmax-quality doc per cluster, clusters agree with q55") {
    val rows = operators.Clustering.canonicalDocs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    rows.groupBy(_._2).foreach { case (cluster, members) =>
      val kept = members.filter(_._4)
      assert(kept.length === 1, s"cluster $cluster keep count")
      // representative is max score, doc_id ascending tie-break
      val best = members.minBy(m => (-m._3, m._1))
      assert(kept.head._1 === best._1, s"cluster $cluster representative")
    }
    val q55 = operators.Clustering.dedupKeepList(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, cluster, _, _) =>
      assert(q55(id) === cluster, s"doc $id cluster label")
    }
  }

  test("q67 keeps the hash-order prefix that fits the budget, per source") {
    // hash order and cumulative sums computed independently here, straight
    // from the md5 definition of hash60
    val docs = Seq(0L -> "a b c", 1L -> "d e", 2L -> "f g h i", 3L -> "j",
      4L -> "k l m", 5L -> "n o", 6L -> "p q r", 7L -> "s")
    val dir = writeDocs(docs)
    def h60(id: Long): Long =
      java.lang.Long.parseUnsignedLong(md5Hex(id.toString).take(15), 16)
    val budget = 8L
    val expected = docs.map { case (id, t) => (id, h60(id), t.split(" ").length.toLong) }
      .sortBy { case (id, h, _) => (h, id) }
      .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, _, n)) => (id, 0L, n, cum + n) }
      .drop(1).zipWithIndex
      .map { case ((id, _, n, cum), i) => id -> ((i + 1L, n, cum, cum <= budget)) }
      .toMap
    val got = operators.Pipeline.tokenBudgetMix(spark, dir, budget = budget, nBuckets = 4)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got === expected)
    // the decomposition is invariant in the bucket count
    val got1 = operators.Pipeline.tokenBudgetMix(spark, dir, budget = budget, nBuckets = 1)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(got1 === expected)
  }

  test("q65 scores are the exact corpus-frequency arithmetic") {
    // freqs: w=2, x=2, y=1; total=5
    val dir = writeDocs(Seq(0L -> "w w x", 1L -> "x y"))
    val rows = TextAnalysis.tokenRarity(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(rows(0L) === ((3L, 2L, 0.4))) // (2+2+2)/(3*5)
    assert(rows(1L) === ((2L, 1L, 0.3))) // (2+1)/(2*5)
  }

  test("q73 matrix is complete: zero-overlap source pairs appear with n_shared = 0") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val dir = tempDir("xsrc").toString
    // a/b share exactly the trigram "x1 x2 x3"; c shares nothing with
    // either; d and e hold only sub-trigram docs (NO grams at all) — the
    // leakage matrix must still carry every pair, including the
    // gram-less sources and the (d,e) empty-vs-empty pair (Jaccard 0 by
    // convention, never a 0/0 null)
    Seq(
      (0L, "x1 x2 x3 x4", "a"), // trigram set {x1 x2 x3, x2 x3 x4}
      (1L, "x1 x2 x3 y1", "b"), // trigram set {x1 x2 x3, x2 x3 y1}
      (2L, "z1 z2 z3 z4", "c"), // trigram set {z1 z2 z3, z2 z3 z4}
      (3L, "w1 w2", "d"),       // 2 tokens -> empty trigram set
      (4L, "v1", "e"))          // 1 token  -> empty trigram set
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.crossSourceOverlap(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("a", "b", 1L, 0.333333), // J = 1/(2+2-1), floor-rounded to 6 dp
      ("a", "c", 0L, 0.0),
      ("a", "d", 0L, 0.0),
      ("a", "e", 0L, 0.0),
      ("b", "c", 0L, 0.0),
      ("b", "d", 0L, 0.0),
      ("b", "e", 0L, 0.0),
      ("c", "d", 0L, 0.0),
      ("c", "e", 0L, 0.0),
      ("d", "e", 0L, 0.0))) // both empty: denominator 0 guarded to 0.0
  }

  test("q79 fires each gate rule on its construction and passes the healthy doc") {
    // one doc per rule, built to trip exactly the targeted flag(s)
    val sixteenOk = "the of " + (1 to 14).map(i => f"wrd$i%02d").mkString(" ")
    val dir = writeDocs(Seq(
      0L -> "the of cc", // 3 tokens: f_short (mean len 7/3 also < 4 -> f_len)
      1L -> ("the of " + (1 to 95).map(i => f"tk$i%03d").mkString(" ")), // 97: f_long
      2L -> ("the of " + (1 to 14).map(_ => "extralongtoken").mkString(" ")), // mean len > 5.2: f_len (+ttr)
      3L -> ("the of " + Seq.fill(14)("delta").mkString(" ")), // 3/16 distinct: f_ttr (mean 75/16 ok)
      4L -> (1 to 16).map(i => f"tk$i%03d").mkString(" "), // 0 stop types: f_stop (mean 5.0 ok)
      5L -> sixteenOk)) // 16 tokens, mean 75/16, ttr 1.0, 2 stop types: pass
    val got = graft.operators.TextAnalysis.qualityGate(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6), r.getBoolean(7))))
      .toMap
    assert(got(0L) === ((3L, true, false, true, false, false, false)))
    assert(got(1L) === ((97L, false, true, false, false, false, false)))
    assert(got(2L) === ((16L, false, false, true, true, false, false)))
    assert(got(3L) === ((16L, false, false, false, true, false, false)))
    assert(got(4L) === ((16L, false, false, false, false, true, false)))
    assert(got(5L) === ((16L, false, false, false, false, false, true)))
  }

  test("q80 cells partition the corpus and certify membership via the id checksum") {
    def hash60(x: String): Long =
      new java.math.BigInteger(md5Hex(x).substring(0, 15), 16).longValue
    val docs = (0L until 40L).map(i => i -> s"tok$i a b c")
    val dir = writeDocs(docs)
    val got = graft.operators.Pipeline.splitManifest(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(6)))
    // expected assignment replicated independently (md5-prefix arithmetic)
    val exp = docs.map(_._1).groupBy { id =>
      val b = hash60(id.toString) % 100
      if (b < 90) "train" else if (b < 95) "val" else "test"
    }
    assert(got.map(_._2).sum === 40L, "every doc lands in exactly one cell")
    got.foreach { case (split, nDocs, nTok, idSum) =>
      val ids = exp(split)
      assert(nDocs === ids.length.toLong, s"$split n_docs")
      assert(nTok === 4L * ids.length, s"$split n_tokens")
      assert(idSum === ids.map(i => hash60(i.toString) % 1000000007L).sum,
        s"$split id_sum")
    }
    assert(got.map(_._1).toSet === exp.keySet, "only populated splits emit cells")
  }

  test("q81 ranks source-exclusive terms above shared ones with the exact ln score") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.{col, length, lit}
    val dir = tempDir("tfidf").toString
    // shared terms score ln(2/2)=0; each source's exclusive term wins rank 1
    Seq(
      (0L, "common one two zebra zebra zebra", "a"),
      (1L, "common one two", "a"),
      (2L, "common one two quokka quokka", "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.sourceTfidfProfile(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    val top = got.filter(_._2 == 1L).map(t => t._1 -> t).toMap
    assert(top("a") === (("a", 1L, "zebra", 3L, 1L, r6(3.0 * math.log(2.0)))))
    assert(top("b") === (("b", 1L, "quokka", 2L, 1L, r6(2.0 * math.log(2.0)))))
    // shared-vocabulary terms all score exactly 0 and fill the remaining
    // ranks in term order
    val aTail = got.filter(t => t._1 == "a" && t._2 > 1L).map(t => (t._3, t._6))
    assert(aTail.toSeq === Seq("common" -> 0.0, "one" -> 0.0, "two" -> 0.0))
  }

  test("q82 per-label sums are the exact quantized-component arithmetic") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("embstats").toString
    Seq(
      (0L, Array(1.0f, -0.5f), 0),
      (1L, Array(0.25f, 0.25f), 0),
      (2L, Array(0.0f, 2.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .withColumn("label", org.apache.spark.sql.functions.col("label").cast("int"))
      .write.parquet(s"$dir/embeddings.parquet")
    val got = graft.operators.Similarity.embedStats(spark, dir).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))).toMap
    // label 0: q = (1e6, -5e5), (2.5e5, 2.5e5) -> sum_q 1e6,
    //   sum_q2 = 1e12 + 2.5e11 + 2*6.25e10 = 1.375e12
    assert(got(0) === ((2L, 2L, 1000000L, 1375000000000L, 0.25, 0.6875)))
    // label 1: q = (0, 2e6) -> sum_q 2e6, sum_q2 4e12
    assert(got(1) === ((1L, 2L, 2000000L, 4000000000000L, 1.0, 4.0)))
  }

  test("q85 slope matches the quantized-log OLS recomputed independently") {
    // source A: freq 4, 2, 1 (ranks 1..3) — a clean descending profile;
    // the expected slope replays the exact quantization + moment formula
    val dir = writeDocs(Seq(
      0L -> "aa aa aa bb cc",
      1L -> "aa bb"))
    val got = graft.operators.TextAnalysis.zipfProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def qln(v: Double): Long = math.floor(math.log(v) * 1e6 + 0.5).toLong
    val freqs = Seq(4L, 2L, 1L) // aa=4, bb=2, cc=1
    val xy = freqs.zipWithIndex.map { case (f, i) => (qln(i + 1.0), qln(f.toDouble)) }
    val n = xy.size.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val (sxy, sxx) = (xy.map(t => t._1 * t._2).sum, xy.map(t => t._1 * t._1).sum)
    val slope = (n * sxy - sx.toDouble * sy) / (n * sxx - sx.toDouble * sx)
    val exp = math.floor(slope * 1e6 + 0.5) / 1e6
    assert(got.toSeq === Seq(("t", 3L, 7L, exp)))
    // sanity: the profile is Zipf-decreasing, so the fit must be negative
    assert(exp < 0.0)
  }

  test("q86 flags the spike hour and withholds z until a full 24 h baseline") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("anomfix").toString
    // 24 baseline hours alternating 9/11 events, then a 30-event spike
    // hour; hour h gets `cnt(h)` rows
    def cnt(h: Int): Int = if (h == 24) 30 else if (h % 2 == 0) 9 else 11
    val rows = for {
      h <- 0 to 24
      i <- 1 to cnt(h)
    } yield (h.toLong * 100 + i,
      if (h == 24) "2024-03-02 00:00:00" else f"2024-03-01 $h%02d:00:00",
      1L, "click", 1.0)
    rows.toDF("event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("t"))).drop("t")
      .write.parquet(s"$dir/events.parquet")
    val got = graft.operators.EventOps.hourlyAnomaly(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4), r.getBoolean(5)))
    assert(got.length === 25)
    // warmup hours: no baseline, z pinned to 0, never a spike
    got.dropRight(1).foreach { case (_, _, hb, z, spike) =>
      assert(!hb && z === 0.0 && !spike)
    }
    // the spike hour: 12x9 + 12x11 baseline -> m=240, s2=2424,
    // var=(24*2424-240^2)/552, z=(30-10)/sqrt(var)
    val varr = (24.0 * 2424 - 240.0 * 240) / 552.0
    val expZ = math.floor((30.0 - 10.0) / math.sqrt(varr) * 1e6 + 0.5) / 1e6
    val (_, n, hb, z, spike) = got.last
    assert(n === 30L && hb && z === expZ && spike)
  }

  private def writeEvents(rows: Seq[(Long, String, Long, String)]): String = {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("evfix").toString
    rows.toDF("event_id", "t", "user_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("ts", org.apache.spark.sql.functions.to_timestamp(
        org.apache.spark.sql.functions.col("t"))).drop("t")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("q99 as-of nearest: tie goes backward, tolerance excludes, no-match is NULL") {
    val dir = writeEvents(Seq(
      // user 1: clicks 1 h before and 1 h after → tie → BACKWARD (id 10)
      (10L, "2024-03-01 09:00:00", 1L, "click"),
      (11L, "2024-03-01 10:00:00", 1L, "purchase"),
      (12L, "2024-03-01 11:00:00", 1L, "click"),
      // user 2: only a FORWARD click, 90 min out (inside 2 h tolerance)
      (20L, "2024-03-01 10:00:00", 2L, "purchase"),
      (21L, "2024-03-01 11:30:00", 2L, "click"),
      // user 3: nearest click 3 h back — OUTSIDE tolerance → NULL
      (30L, "2024-03-01 07:00:00", 3L, "click"),
      (31L, "2024-03-01 10:00:00", 3L, "purchase"),
      // user 4: back 100 min vs forward 10 min → FORWARD wins (nearer)
      (40L, "2024-03-01 08:20:00", 4L, "click"),
      (41L, "2024-03-01 10:00:00", 4L, "purchase"),
      (42L, "2024-03-01 10:10:00", 4L, "click")))
    val got = graft.operators.EventOps.asOfNearestClick(spark, dir).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) None
        else Some((r.getLong(3), r.getLong(5))))).toMap
    assert(got === Map(
      11L -> Some((10L, 3600000000L)),
      20L -> Some((21L, 5400000000L)),
      31L -> None,
      41L -> Some((42L, 600000000L))))
  }

  test("q87 funnel only counts strictly-ordered stage entries") {
    val dir = writeEvents(Seq(
      // user 1: full ordered funnel, 1 h then 2 h lags
      (1L, "2024-03-01 10:00:00", 1L, "signup"),
      (2L, "2024-03-01 11:00:00", 1L, "click"),
      (3L, "2024-03-01 13:00:00", 1L, "purchase"),
      // user 2: click BEFORE signup must not convert; purchase without
      // a converting click must not either
      (4L, "2024-03-01 09:00:00", 2L, "click"),
      (5L, "2024-03-01 10:00:00", 2L, "signup"),
      (6L, "2024-03-01 11:00:00", 2L, "purchase"),
      // user 3: signup only
      (7L, "2024-03-01 08:00:00", 3L, "signup")))
    val got = graft.operators.EventOps.eventFunnel(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      ("1_signup", 3L, 0L, 0.0),
      ("2_click", 1L, 3600000000L, 1.0),
      ("3_purchase", 1L, 7200000000L, 2.0)))
  }

  test("q88 cohort triangle counts distinct users per epoch-week offset") {
    // week boundaries are epoch-week multiples; 2024-03-01 ~ week 2826
    val dir = writeEvents(Seq(
      (1L, "2024-03-01 10:00:00", 1L, "click"),  // cohort w
      (2L, "2024-03-08 10:00:00", 1L, "click"),  // w+1
      (3L, "2024-03-01 11:00:00", 2L, "click"),  // cohort w, never again
      (4L, "2024-03-08 09:00:00", 3L, "click"),  // cohort w+1
      (5L, "2024-03-15 09:00:00", 3L, "click"))) // w+2 for its cohort -> offset 1
    val got = graft.operators.EventOps.retentionCohorts(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // session tz is UTC, so the fixture strings are UTC instants
    val w = java.time.Instant.parse("2024-03-01T10:00:00Z").toEpochMilli * 1000L / 604800000000L
    assert(got.toSeq === Seq(
      (w, 0L, 2L), (w, 1L, 1L),
      (w + 1, 0L, 1L), (w + 1, 1L, 1L)))
  }

  test("q93 trigrams follow per-user (ts, event_id) order and never cross users") {
    val dir = writeEvents(Seq(
      // user 1: a -> b -> c -> b gives trigrams (a,b,c) and (b,c,b);
      // events 2 and 3 share a timestamp — event_id breaks the tie
      (1L, "2024-03-01 10:00:00", 1L, "a"),
      (2L, "2024-03-01 10:01:00", 1L, "b"),
      (3L, "2024-03-01 10:01:00", 1L, "c"),
      (4L, "2024-03-01 10:02:00", 1L, "b"),
      // user 2: two events only -> no trigram, and nothing crosses into
      // user 1's stream
      (5L, "2024-03-01 10:00:30", 2L, "a"),
      (6L, "2024-03-01 10:00:40", 2L, "b")))
    val got = graft.operators.EventOps.eventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(("a", "b", "c", 1L), ("b", "c", "b", 1L)))
  }

  test("q90 counts orphans per edge on a warehouse with planted violations") {
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions.{lit => slit, to_timestamp, col}
    val dir = tempDir("rifix").toString
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.parquet(s"$dir/$name.parquet")
    save(Seq((1L, "n", 10L, 0.0, "M")).toDF(
      "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), "customer")
    // order 102 -> customer 9 does not exist (1 orphan of 2 rows)
    save(Seq((101L, 1L, "O", 1.0, "1996-01-02", "1-URGENT"),
      (102L, 9L, "O", 2.0, "1996-01-03", "5-LOW")).toDF(
      "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")
    // line 2 -> order 999 missing; line 3 -> part 99 missing
    save(Seq(
      (101L, 7L, 5L, 1L, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-02-01"),
      (999L, 7L, 5L, 1L, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-02-02"),
      (101L, 99L, 5L, 2L, 1.0, 1.0, 0.0, 0.0, "N", "O", "1996-02-03")).toDF(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"), "lineitem")
    save(Seq((10L, "GERMANY", 3L)).toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    save(Seq((3L, "EUROPE")).toDF("r_regionkey", "r_name"), "region")
    save(Seq((5L, "s", 10L, 0.0)).toDF(
      "s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")
    save(Seq((7L, "p", "B", "T", 1L, 1.0)).toDF(
      "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), "part")
    // two events for the existing customer, one orphan user
    save(Seq((1L, "2024-03-01 10:00:00", 1L, "click", 1.0),
      (2L, "2024-03-01 11:00:00", 77L, "view", 1.0)).toDF(
      "event_id", "t", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(col("t"))).drop("t"), "events")
    val got = graft.operators.Relational.integrityAudit(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      ("customer.c_nationkey", 1L, 0L),
      ("events.user_id", 2L, 1L),
      ("lineitem.l_orderkey", 3L, 1L),
      ("lineitem.l_partkey", 3L, 1L),
      ("lineitem.l_suppkey", 3L, 0L),
      ("nation.n_regionkey", 1L, 0L),
      ("orders.o_custkey", 2L, 1L),
      ("supplier.s_nationkey", 1L, 0L)))
  }
}
