package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.table

/** Text-analysis stages of a training-data pipeline over `documents`:
  * language ID, quality scoring, token counting, document fingerprinting.
  * All scoring sticks to integer sums plus single final divisions so the
  * doubles are bit-identical to the DuckDB oracle.
  */
object TextAnalysis {

  /** Frequency-profile language ID over hashed features: tokens hash to a
    * fixed-width bucket space (60-bit md5 hash mod `width`), the "train"
    * pass aggregates per-language bucket counts, and each document scores
    * as sum(count_lang(bucket(token))) / total_lang over its tokens with
    * multiplicity; predict argmax (ties to the lexicographically first
    * language). Emits the confusion matrix. The profile is bounded at
    * langs x width longs BY CONSTRUCTION — a web-scale vocabulary changes
    * nothing about driver or broadcast footprint — and the score pass is a
    * partition-local kernel plus one (lang, predicted) aggregation.
    */
  def langIdConfusion(s: SparkSession, dir: String, width: Int = 4096): DataFrame = {
    import s.implicits._
    // train pass: bucket counts per language. The groupBy output is at
    // most langs x width rows whatever the corpus, so the collect is O(1)
    // in corpus size; counts combine map-side before the one shuffle.
    val buckets = table(s, dir, "documents")
      .select($"lang", $"text").as[(String, String)]
      .mapPartitions { it =>
        val memo = new TextDedup.Hash60Memo()
        it.flatMap { case (lang, text) =>
          text.split(' ').iterator.map(t =>
            (lang, (memo(t) % width).toInt))
        }
      }.toDF("lang", "b")
    val profRows = buckets.groupBy($"lang", $"b").agg(count(lit(1)).as("c"))
      .as[(String, Int, Long)].collect()
    val langs = profRows.map(_._1).distinct.sorted
    val prof: Array[Array[Long]] = langs.map { l =>
      val arr = new Array[Long](width)
      profRows.foreach { case (ll, b, c) => if (ll == l) arr(b) = c }
      arr
    }.toArray
    val totals: Array[Long] = prof.map(_.sum)
    val bProf = s.sparkContext.broadcast((langs, prof, totals))
    // score pass: one kernel sweep per document — hash each token once,
    // then integer hit sums per language (order-free), one division,
    // argmax with lang-asc tie-break; identical arithmetic to the
    // oracle's bucket-join formulation
    val predicted = table(s, dir, "documents")
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)]
      .mapPartitions { it =>
        val (ls, pf, tot) = bProf.value
        val memo = new TextDedup.Hash60Memo()
        it.map { case (_, lang, text) =>
          val hits = new Array[Long](ls.length)
          text.split(' ').foreach { t =>
            val b = (memo(t) % width).toInt
            var i = 0
            while (i < ls.length) { hits(i) += pf(i)(b); i += 1 }
          }
          var best = 0; var bestScore = -1.0; var i = 0
          while (i < ls.length) {
            val sc = hits(i).toDouble / tot(i)
            if (sc > bestScore) { bestScore = sc; best = i }
            i += 1
          }
          (lang, ls(best))
        }
      }.toDF("lang", "predicted")
    predicted
      .groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  /** Per-document quality score: type/token ratio, stopword ratio, capped
    * mean token length — the length/punct/stopword heuristics of a corpus
    * filter. Pure per-row projection (no shuffle); embarrassingly parallel
    * at any scale.
    *
    * One token loop per document: the declarative form spent its time in
    * interpreted HigherOrderFunction lambdas (`filter`/`aggregate` — 36 s
    * for 500 k docs at sf10, measured). The kernel computes the same
    * counts (split with limit -1 = Spark's `split` trailing-empty
    * semantics) and the same double arithmetic in the same order, so the
    * oracle result is bit-identical.
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Set("the", "a", "of", "to", "and")
    table(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val seen = new java.util.HashSet[String]()
        it.map { case (id, text) =>
          seen.clear()
          val toks = text.split(" ", -1)
          var nstop = 0L; var sumlen = 0L; var i = 0
          while (i < toks.length) {
            val t = toks(i)
            seen.add(t)
            if (stop(t)) nstop += 1
            sumlen += t.length
            i += 1
          }
          val ntok = toks.length.toLong
          val ttr = seen.size.toDouble / ntok
          val stopRatio = nstop.toDouble / ntok
          val avgLen = sumlen.toDouble / ntok
          val score = 0.4 * ttr + 0.3 * (1.0 - stopRatio) +
            0.3 * math.min(avgLen / 10.0, 1.0)
          (id, ntok, score)
        }
      }.toDF("doc_id", "ntok", "raw")
      .select($"doc_id", $"ntok", graft.Tables.round6($"raw").as("score"))
      .orderBy($"doc_id")
  }

  /** Token counting three ways per source: whitespace tokens, regex word
    * tokens ([a-z0-9]+), and a BPE-ish subword piece count (ceil(len/4) per
    * word — the "every ~4 chars is a piece" budget heuristic). Integer-only.
    */
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // counts computed in one character/token pass per document (the
    // `aggregate` HOF lambda is interpreted, and regexp_extract_all
    // materializes every match just to count them): n_re counts maximal
    // [a-z0-9] runs — exactly the regex's non-overlapping matches —
    // n_bpe is the same ceil(len/4) integer arithmetic. Integer-only,
    // so kernel-vs-expression equivalence is exact.
    table(s, dir, "documents")
      .select($"source", $"text").as[(String, String)]
      .mapPartitions { it =>
        it.map { case (src, text) =>
          var nWs = 1L // split(" ", -1) yields runs+1 fields
          var nRe = 0L; var nBpe = 0L
          var runLen = 0; var fieldLen = 0; var i = 0
          def isWord(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
          while (i < text.length) {
            val c = text.charAt(i)
            if (c == ' ') { nWs += 1; nBpe += (fieldLen + 3) / 4; fieldLen = 0 }
            else fieldLen += 1
            if (isWord(c)) { if (runLen == 0) nRe += 1; runLen += 1 }
            else runLen = 0
            i += 1
          }
          nBpe += (fieldLen + 3) / 4
          (src, nWs, nRe, nBpe)
        }
      }.toDF("source", "n_ws", "n_re", "n_bpe")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_ws").as("sum_ws_tokens"),
        sum($"n_re").as("sum_re_tokens"),
        sum($"n_bpe").as("sum_bpe_pieces"),
        max($"n_ws").as("max_ws_tokens"))
      .orderBy($"source")
  }

  /** Per-source token-count quantiles (p25/p50/p75): the corpus-profiling
    * stage of a dataset card. Exact sort-based `percentile` — at 100 TB
    * [[tokenPercentilesApprox]] (q54) is the registered drop-in scale
    * path; exact is kept here because the oracle can reproduce it
    * bit-for-bit: dyadic quantile fractions over integer counts make the
    * interpolation arithmetic exact in binary, so both engines produce
    * identical doubles.
    */
  def tokenPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .withColumn("n_ws", size(split($"text", " ")).cast("long"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        percentile($"n_ws", lit(0.25)).as("p25"),
        percentile($"n_ws", lit(0.5)).as("p50"),
        percentile($"n_ws", lit(0.75)).as("p75"))
      .orderBy($"source")
  }

  /** The 100 TB form of [[tokenPercentiles]] (q54): one-pass
    * `approx_percentile` — a mergeable KLL-style sketch with bounded
    * memory per group, no sort, map-side combinable — instead of the
    * exact percentile's per-group sort. Guarantee: each estimate is a
    * REAL data value whose rank is within `1/accuracy` of the requested
    * quantile (Spark's documented bound), which the spec pins against
    * q40's exact values. Estimates are engine-specific (sketch internals)
    * -> rows-only check, like q18/q25.
    */
  def tokenPercentilesApprox(s: SparkSession, dir: String,
                             accuracy: Int = 10000): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .withColumn("n_ws", size(split($"text", " ")).cast("long"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        approx_percentile($"n_ws", lit(0.25), lit(accuracy)).cast("double").as("p25"),
        approx_percentile($"n_ws", lit(0.5), lit(accuracy)).cast("double").as("p50"),
        approx_percentile($"n_ws", lit(0.75), lit(accuracy)).cast("double").as("p75"))
      .orderBy($"source")
  }

  /** Benchmark-contamination screen: the fraction of each document's
    * distinct word trigrams that appear anywhere in a held-out benchmark
    * set (here the deterministic holdout doc_id % benchMod = 0 — in
    * production, the eval suites). Docs above `threshold` overlap are
    * train/test leaks and must be dropped before training.
    *
    * Shape: benchmark n-gram hashes collect to a SORTED long array and
    * broadcast — real benchmarks are 10^6..10^7 n-grams (tens of MB), far
    * under broadcast limits, and binary search beats a boxed hash set on
    * memory and cache behavior. The corpus side is then a pure projection
    * kernel: no join, no shuffle of corpus n-grams, linear at any corpus
    * size.
    */
  def contamination(s: SparkSession, dir: String, benchMod: Long = 97,
                    threshold: Double = 0.5): DataFrame = {
    import s.implicits._
    val sh = TextDedup.hashedShinglesCached(s, dir)
    val bench: Array[Long] = sh.where($"doc_id" % benchMod === 0)
      .select(explode($"hshs").as("h")).distinct().as[Long].collect()
    java.util.Arrays.sort(bench)
    val bBench = s.sparkContext.broadcast(bench)
    // docs with <3 tokens have NO shingles: overlap would be hits/0 = NaN
    // and would silently poison max_overlap, while the oracle's unnest
    // drops such docs entirely — filter them here so both engines score
    // the same document set (latent on the test generator, whose docs are
    // all >= 10 tokens)
    val scored = sh.where($"doc_id" % benchMod =!= 0 && size($"hshs") > 0)
      .select($"doc_id", $"hshs").as[(Long, Array[Long])]
      .mapPartitions { it =>
        val bs = bBench.value
        it.map { case (id, hs) =>
          var hits = 0L; var i = 0
          while (i < hs.length) {
            if (java.util.Arrays.binarySearch(bs, hs(i)) >= 0) hits += 1
            i += 1
          }
          (id, hits.toDouble / hs.length)
        }
      }.toDF("doc_id", "overlap")
    scored.join(table(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"overlap" >= threshold, 1L).otherwise(0L)).as("n_contaminated"),
        graft.Tables.round6(max($"overlap")).as("max_overlap"))
      .orderBy($"source")
  }

  /** Bloom-prefiltered benchmark-contamination screen (q75): the scale
    * path past [[contamination]]'s exact-set broadcast. q49 ships the
    * whole benchmark hash set to every executor (8 B/hash — fine to
    * ~10^8 n-grams, dead past it); here the driver builds only a Bloom
    * filter over the benchmark hashes (~1.2 B/entry at 1% fpp — ~7x more
    * benchmark per MB of broadcast), every corpus shingle probes the
    * filter partition-locally, and ONLY the BF-positive (doc_id, hash)
    * survivors — the true hits plus an fpp-sized sliver of the corpus
    * stream — shuffle into an exact equi-join against the distributed
    * benchmark frame. False positives die in that join, so the result is
    * bit-identical to the exact screen (same oracle SQL shape as q49,
    * distinct (mod, threshold) parameters), while the corpus-sized
    * stream never shuffles and the benchmark never collects.
    */
  def contaminationBloom(s: SparkSession, dir: String, benchMod: Long = 61,
                         threshold: Double = 0.3, fpp: Double = 0.01): DataFrame = {
    import s.implicits._
    val sh = TextDedup.hashedShinglesCached(s, dir)
    // cached: read once for sizing, once for the BF build, once exact-side
    val bench = OpCache.dataset("benchHashes", s, dir, benchMod)(
      sh.where($"doc_id" % benchMod === 0)
        .select(explode($"hshs").as("h")).distinct())
    val nBench = math.max(bench.count(), 64L)
    val bBf = s.sparkContext.broadcast(
      bench.stat.bloomFilter("h", nBench, fpp))
    // docs with no shingles are excluded on BOTH engines (q49 convention)
    val scoredDocs = sh.where($"doc_id" % benchMod =!= 0 && size($"hshs") > 0)
    val candidates = scoredDocs
      .select($"doc_id", explode($"hshs").as("h")).as[(Long, Long)]
      .mapPartitions { it =>
        val f = bBf.value
        it.filter { case (_, h) => f.mightContainLong(h) }
      }.toDF("doc_id", "h")
    val hits = candidates.join(bench, Seq("h")) // exact verify: fps die here
      .groupBy($"doc_id").agg(count(lit(1)).as("hits"))
    scoredDocs
      .select($"doc_id", size($"hshs").cast("long").as("nsh"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"nsh", coalesce($"hits", lit(0L)).as("hits"))
      .join(table(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"hits" / $"nsh" >= threshold, 1L).otherwise(0L)).as("n_contaminated"),
        graft.Tables.round6(max($"hits" / $"nsh")).as("max_overlap"))
      .orderBy($"source")
  }

  /** Gopher-style repetition metrics per document: the duplicate-trigram
    * fraction (1 - distinct/total word trigrams) and the top-bigram
    * fraction (occurrences of the most frequent word bigram over all
    * bigram slots) — the two cheap signals that catch boilerplate and
    * degenerate loops. Pure per-row kernel, no shuffle.
    *
    * Short-doc semantics (shared with the q50 oracle): a doc with no
    * trigrams (<3 tokens) scores dup_tri_frac 0.0, one with no bigrams
    * (<2 tokens) scores top_bi_frac 0.0 — every document gets a row,
    * degenerate fractions are defined as "no repetition evidence".
    */
  def repetitionStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val biCounts = new java.util.HashMap[String, Int]()
        val triSeen = new java.util.HashSet[String]()
        it.map { case (id, text) =>
          biCounts.clear(); triSeen.clear()
          val toks = text.split(' ')
          var maxBi = 0; var i = 0
          while (i + 1 < toks.length) {
            val bi = toks(i) + " " + toks(i + 1)
            val c = biCounts.merge(bi, 1, (a, b) => a + b)
            if (c > maxBi) maxBi = c
            if (i + 2 < toks.length) triSeen.add(bi + " " + toks(i + 2))
            i += 1
          }
          val nbi = toks.length - 1
          val ntri = toks.length - 2
          val dupTri = if (ntri > 0) 1.0 - triSeen.size.toDouble / ntri else 0.0
          val topBi = if (nbi > 0) maxBi.toDouble / nbi else 0.0
          (id, toks.length.toLong, dupTri, topBi)
        }
      }.toDF("doc_id", "ntok", "dt", "tb")
      .select($"doc_id", $"ntok",
        graft.Tables.round6($"dt").as("dup_tri_frac"),
        graft.Tables.round6($"tb").as("top_bi_frac"))
      .orderBy($"doc_id")
  }

  /** N-gram novelty: for each document, the fraction of its distinct word
    * trigrams whose FIRST appearance in the corpus (smallest doc_id holding
    * the trigram) is this document — the marginal-information signal a
    * curriculum or dataset-pruning pass ranks by. Two shuffles, both keyed
    * on the 60-bit n-gram hash / doc_id: explode -> min-per-ngram (combines
    * map-side) -> join back -> per-doc count. Linear in total n-grams.
    */
  def ngramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ex = TextDedup.hashedShinglesCached(s, dir)
      .select($"doc_id", explode($"hshs").as("h"))
    val first = ex.groupBy($"h").agg(min($"doc_id").as("first_doc"))
    ex.join(first, "h")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("nsh"),
        sum(when($"first_doc" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"nsh", $"n_novel",
        graft.Tables.round6($"n_novel" / $"nsh").as("novelty"))
      .orderBy($"doc_id")
  }

  /** Duplicate n-gram fraction (q70) — the RefinedWeb/Dolma repetition
    * filter signal at CORPUS scope: for each document, the fraction of
    * its distinct word trigrams that occur in at least `minDf` documents
    * (itself included). Distinct from [[ngramNovelty]] (q51) — novelty
    * credits the FIRST holder of a shared trigram, while this metric
    * marks BOTH copies as duplicated, which is what a filter thresholds
    * on. Shares the 60-bit hashed-shingle cache: two shuffles, both on
    * the hash (explode -> document-frequency aggregate, map-side
    * combined, vocab-sized output -> join back -> per-doc fraction).
    * Linear in total n-grams at any corpus size.
    */
  def dupNgramFraction(s: SparkSession, dir: String, minDf: Int = 2): DataFrame = {
    import s.implicits._
    val ex = TextDedup.hashedShinglesCached(s, dir)
      .select($"doc_id", explode($"hshs").as("h"))
    // shingle sets are distinct per doc, so count(*) per hash IS the
    // document frequency
    val freq = ex.groupBy($"h").agg(count(lit(1)).as("df"))
    ex.join(freq, "h")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("nsh"),
        sum(when($"df" >= minDf, 1L).otherwise(0L)).as("n_dup"))
      .select($"doc_id", $"nsh", $"n_dup",
        graft.Tables.round6($"n_dup" / $"nsh").as("dup_frac"))
      .orderBy($"doc_id")
  }

  /** Cross-source contamination matrix (q73): for every pair of corpus
    * sources, how many distinct word trigrams they share, plus the
    * trigram-set Jaccard — the train/train leakage audit run before
    * mixing sources (the source-level form of q49's benchmark screen).
    *
    * Shape: the hashed-shingle stream joins its doc's source, collapses
    * to DISTINCT (source, gram) — corpus-sized down to vocab×sources —
    * then self-joins on the gram hash. A gram in k sources yields
    * k·(k-1)/2 pair rows, hard-bounded by nSources² per gram, so the
    * join output is at most vocab·nSources²: corpus-linear with a small
    * constant, no driver state. Per-source set sizes ride in as a tiny
    * broadcast join.
    *
    * The matrix is COMPLETE: every unordered source pair gets a row, with
    * n_shared = 0 when the two sources share no trigram — the pair frame
    * is built from the (tiny, nSources-row) sizes frame and the shared
    * counts left-join onto it, so a disjoint pair can't silently vanish
    * from the leakage report.
    */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // attach source BEFORE exploding: the doc_id join runs on the compact
    // per-doc shingle frame (one row per doc), not the corpus-sized
    // exploded trigram stream — at sf10 this was the difference between a
    // 2 GB and a ~100 MB join shuffle for identical output. The one
    // corpus-sized shuffle left is the (source, gram) distinct, which is
    // the operator's irreducible collapse — and it has THREE consumers
    // below (the sizes aggregate plus both sides of the self-join), so
    // the collapsed vocab×sources frame memoizes through OpCache: the
    // collapse runs once per corpus, not three times per action.
    val sg = OpCache.dataset("xsrcGrams", s, dir) {
        TextDedup.hashedShinglesCached(s, dir)
          .join(table(s, dir, "documents").select($"doc_id", $"source"), "doc_id")
          .select($"source", explode($"hshs").as("h")).distinct()
      }
    // size every source that EXISTS in the corpus, not every source that
    // produced a trigram: a source whose docs are all shorter than the
    // shingle width has an empty gram set, and deriving the pair frame
    // from sg alone would silently drop its rows — the exact
    // missing-from-the-report failure the complete matrix exists to
    // prevent. Such sources carry n = 0 and Jaccard 0 against everyone.
    val sizes = table(s, dir, "documents").select($"source").distinct()
      .join(sg.groupBy($"source").agg(count(lit(1)).as("gn")), Seq("source"), "left")
      .select($"source", coalesce($"gn", lit(0L)).as("n"))
    val shared = sg.as("a").join(sg.as("b"),
        $"a.h" === $"b.h" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("source_a"), $"b.source".as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // all-pairs frame over the nSources-row sizes frame: nSources² rows,
    // broadcast on both sides — never corpus-sized
    val pairs = sizes.select($"source".as("source_a"), $"n".as("na"))
      .join(sizes.select($"source".as("source_b"), $"n".as("nb")),
        $"source_a" < $"source_b")
    pairs.join(shared, Seq("source_a", "source_b"), "left")
      .withColumn("ns", coalesce($"n_shared", lit(0L)))
      .withColumn("denom", $"na" + $"nb" - $"ns")
      .select($"source_a", $"source_b", $"ns".as("n_shared"),
        // two gram-less sources give an empty-vs-empty union: Jaccard is
        // 0 by convention here, never a 0/0 null
        graft.Tables.round6(when($"denom" === 0, lit(0.0))
          .otherwise($"ns".cast("double") / $"denom")).as("jaccard"))
      .orderBy($"source_a", $"source_b")
  }

  /** Document fingerprint: winnowing-style minimum 60-bit hash over word
    * 3-gram shingles (robust to reordering of distant content, stable under
    * identical prefixes). Emits (doc_id, fingerprint) plus the collision
    * group size — fingerprint equality is the fast near-dup screen.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // partition-local min-hash kernel: no trigram explode/shuffle — each
    // document folds its trigrams into one 60-bit minimum in place.
    val fp = table(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val memo = new TextDedup.Hash60Memo()
        it.map { case (id, text) =>
          val toks = text.split(' ')
          var minH = Long.MaxValue
          var i = 0
          while (i + 2 < toks.length) {
            val tri = toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
            val h = memo(tri)
            if (h < minH) minH = h
            i += 1
          }
          (id, minH)
        }
      }.toDF("doc_id", "fingerprint")
    val groups = fp.groupBy($"fingerprint").agg(count(lit(1)).as("group_size"))
    fp.join(groups, "fingerprint")
      .select($"doc_id", $"fingerprint", $"group_size")
      .orderBy($"doc_id")
  }

  private val EmailRe = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
  private val PhoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
  private val IpRe    = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction (q63): count and mask emails, phone
    * numbers, and IPv4 addresses — the scrubbing stage every text corpus
    * passes through before training. The synthetic corpus carries no PII,
    * so both engines first append a deterministic PII tail derived from
    * `doc_id` (same trick as the multimodal payloads: the injection is
    * reproducible without the operator, which is what makes the redaction
    * VERIFIABLE — counts and the post-redaction checksum must match an
    * oracle that never ran the regexes over hidden state).
    *
    * Shape: pure per-row kernel of codegen'd native functions
    * (`regexp_extract_all` / `regexp_replace` / `md5`) — no shuffle, no
    * UDF, trivially 100 TB-safe. Patterns stay in the RE2-compatible
    * subset (no lookaround) so Java and the oracle's RE2 agree.
    */
  def piiRedaction(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val aug = concat(
      $"text",
      expr("repeat(concat(' user', doc_id, '@mail.example.com'), cast(1 + doc_id % 3 as int))"),
      expr("repeat(concat(' +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0')), cast(doc_id % 2 as int))"),
      concat(lit(" 10."), $"doc_id" % 256, lit(".0.1")))
    table(s, dir, "documents")
      .select($"doc_id", aug.as("aug"))
      .select(
        $"doc_id",
        size(regexp_extract_all($"aug", lit(EmailRe), lit(0))).cast("long").as("n_email"),
        size(regexp_extract_all($"aug", lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
        size(regexp_extract_all($"aug", lit(IpRe), lit(0))).cast("long").as("n_ip"),
        md5(regexp_replace(regexp_replace(regexp_replace(
          $"aug", EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), IpRe, "<IP>")
        ).as("clean_md5"))
      .orderBy($"doc_id")
  }

  /** Unigram-LM corpus filter (q65): score every document by the corpus
    * frequency of its own tokens — the classic LM-filtering shape (KenLM
    * perplexity ranking) with the log replaced by integer-exact
    * arithmetic-mean probability, so the oracle reproduces the doubles
    * bit-for-bit (libm `log` is not guaranteed identical across engines).
    * Low `mean_prob` / low `min_freq` = out-of-distribution document.
    *
    * Shape: explode -> vocab aggregate (map-side combined; output is
    * vocab-sized, not corpus-sized) -> split token->freq join -> per-doc
    * aggregate. The join key is Zipf-skewed by nature ("the" is a hot
    * key), so the join is SPLIT rather than left to runtime rescue: the
    * top-`headK` frequencies (a few KB — the Zipf head is tiny by
    * definition) broadcast-join their tokens with no shuffle at all, and
    * only the de-skewed tail shuffle-joins the vocab table. Same output,
    * but the 100 TB plan no longer depends on AQE detecting and
    * splitting the hot partitions at runtime. The per-doc aggregate then
    * re-shuffles on the uniform doc_id. The corpus total rides in as a
    * broadcast 1-row aggregate — no driver state, fully lazy.
    */
  def tokenRarity(s: SparkSession, dir: String, headK: Int = 1024): DataFrame = {
    import s.implicits._
    val toks = table(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
    val freq = toks.groupBy($"tok").agg(count(lit(1)).as("freq"))
    // the corpus total rides in as a broadcast 1-row crossJoin instead of
    // an eager head(): the plan stays lazy (no corpus job at construction
    // time) and the total is the vocab-sized freq aggregate, not a third
    // full token explosion
    val total = freq.agg(sum($"freq").as("total"))
    // TakeOrdered over the vocab-sized aggregate; tie-break on tok keeps
    // the head deterministic (set membership only — freq values are
    // identical either path, so the result can't depend on the cut line)
    val head = freq.orderBy($"freq".desc, $"tok").limit(headK)
    val scored = toks.join(broadcast(head), "tok")
      .unionByName(
        toks.join(broadcast(head.select($"tok")), Seq("tok"), "left_anti")
          .join(freq, "tok"))
    scored
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("ntok"),
        min($"freq").as("min_freq"),
        sum($"freq").as("sum_freq"))
      .crossJoin(broadcast(total))
      .select($"doc_id", $"ntok", $"min_freq",
        (floor(lit(1e6) * ($"sum_freq".cast("double") /
          ($"ntok" * $"total")) + lit(0.5)) / 1e6).as("mean_prob"))
      .orderBy($"doc_id")
  }

  /** Hard quality gate with per-rule reason flags (q79) — the
    * Gopher/C4-style document FILTER that precedes training, distinct
    * from [[qualityScore]] (q27), which RANKS. Each document gets one
    * boolean per rule plus the combined verdict, because a production
    * filter must report WHY it dropped a document (the per-reason
    * histogram is the knob-tuning artifact; auditing a filter that only
    * says "dropped" means rerunning it rule by rule).
    *
    * Rules (thresholds tuned to this corpus's measured distribution so
    * every flag fires on real rows): token count outside [16, 96]; mean
    * token length outside [4.0, 5.2]; type/token ratio < 0.35; fewer
    * than 2 distinct stopword types. All comparisons are INTEGER
    * cross-multiplications (`sumlen*10 > ntok*52`, never
    * `sumlen/ntok > 5.2`), so the gate is bit-exact against the oracle
    * at every SF with no rounding convention needed. Token-length sum
    * uses the split identity `sum(len(tok)) = len(text) - (ntok-1)` —
    * single-char split guarantees it, so no second pass over the text.
    *
    * Pure per-row projection over native array expressions (split /
    * array_distinct / array_intersect — no UDF, no HOF lambda): no
    * shuffle, embarrassingly parallel at any scale.
    */
  def qualityGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gateFlags(table(s, dir, "documents"))
      .select($"doc_id", $"ntok", $"f_short", $"f_long", $"f_len",
        $"f_ttr", $"f_stop", $"pass")
      .orderBy($"doc_id")
  }

  /** The q79 rule battery over ANY frame with (doc_id, text) — appends
    * ntok + the five flags + pass, keeping every other input column.
    * Shared by the batch gate and the streaming router (q83): ONE rule
    * definition, so the stream cannot drift from the batch oracle.
    */
  def gateFlags(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val stop = Seq("the", "a", "of", "to", "and")
    docs
      .withColumn("ntok", size(split($"text", " ")).cast("long"))
      .withColumn("sumlen",
        (length($"text") - size(split($"text", " ")) + 1).cast("long"))
      .withColumn("ndistinct",
        size(array_distinct(split($"text", " "))).cast("long"))
      .withColumn("nstop",
        size(array_intersect(split($"text", " "),
          array(stop.map(lit): _*))).cast("long"))
      .withColumn("f_short", $"ntok" < 16)
      .withColumn("f_long", $"ntok" > 96)
      .withColumn("f_len",
        $"sumlen" < $"ntok" * 4 || $"sumlen" * 10 > $"ntok" * 52)
      .withColumn("f_ttr", $"ndistinct" * 100 < $"ntok" * 35)
      .withColumn("f_stop", $"nstop" < 2)
      .withColumn("pass",
        !($"f_short" || $"f_long" || $"f_len" || $"f_ttr" || $"f_stop"))
      .drop("sumlen", "ndistinct", "nstop")
  }

  /** Per-source characteristic-term profile (q81): the top-k terms of
    * each source by tf-idf, where tf is the term's occurrence count in
    * the source and idf = ln(nSources / nSourcesContaining) — the
    * dataset-card "what distinguishes this slice" summary, and the
    * cheap signal a mixture designer reads before weighting sources.
    *
    * Scale shape: the only corpus-sized stage is the token explode into
    * the (source, term) count, which combines map-side; everything after
    * runs on vocab-bounded frames (per-source tf, per-term source
    * frequency, a broadcast 1-row source count) and the top-k window
    * partitions by source over at most vocab rows. Output is
    * nSources × k rows at ANY corpus size, so the oracle compare holds
    * through sf10.
    *
    * Cross-engine determinism: idf takes one of nSources distinct values
    * (ln of a small-integer ratio — identical doubles in both engines),
    * tf·idf is then an exact IEEE product of identical operands, and the
    * rank orders by (score desc, term asc) with the emitted score
    * round6-ed by the shared convention.
    */
  def sourceTfidfProfile(s: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val tf = table(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    // sf (source frequency) as a count-over-window on the vocab-bounded
    // tf frame — the groupBy-then-join formulation re-evaluated the
    // corpus explode for the sf consumer (two full Generate+scan
    // subtrees in the physical plan); this shape pays the explode ONCE
    // and every later stage runs on at most vocab x nSources rows.
    // n_src reads the raw table rather than tf for the same reason: off
    // tf it would replay the explode a second time, off the table it is
    // a column-pruned scan of the dictionary-encoded `source` column —
    // no Generate anywhere in its subtree.
    val withSf = tf.withColumn("sf",
      count(lit(1)).over(Window.partitionBy($"term")).cast("long"))
    val nSrc = table(s, dir, "documents")
      .agg(countDistinct($"source").as("n_src"))
    val w = Window.partitionBy($"source").orderBy($"score".desc, $"term".asc)
    withSf
      .crossJoin(broadcast(nSrc))
      .withColumn("score",
        $"tf" * log($"n_src".cast("double") / $"sf".cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where($"rank" <= topK)
      .select($"source", $"rank", $"term", $"tf", $"sf",
        graft.Tables.round6($"score").as("tfidf"))
      .orderBy($"source", $"rank")
  }

  /** Zipf profile per source (q85): vocabulary size, token mass, and the
    * fitted rank-frequency slope — the corpus-statistics panel of a
    * dataset card. Natural text follows freq ∝ rank^s with s ≈ -1;
    * machine-generated or template-heavy slices bend the curve, so the
    * per-source slope is a cheap generator-artifact detector.
    *
    * Fit: OLS of ln(freq) on ln(rank) over the source's full vocabulary.
    * Cross-engine determinism is the design constraint: both ln values
    * are quantized to BIGINT (floor(ln·1e6 + 0.5); inputs are exact
    * small-integer doubles, so the lns agree to ulps and the quantized
    * values match), the OLS moment sums are then order-free integer
    * arithmetic, and only the final slope division runs in doubles — on
    * identical operands. Long headroom: Σxy terms are ~(ln(v)·1e6)² ≈
    * 3e14 at vocab 1e4 / freq 1e7 — 1e4 of them is 3e18, inside the
    * long range for any corpus this engine's vocab-bounded frames target
    * (a web-scale open vocabulary would move the sums to DECIMAL(38)).
    *
    * Shape: one corpus explode into the map-side-combined (source, term)
    * count (the q81 stage, shared cost class), then windows and
    * aggregates over vocab-bounded frames only.
    */
  def zipfProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c) * lit(1000000.0) + lit(0.5)).cast("long")
    val tf = table(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"source").orderBy($"tf".desc, $"term".asc)
    val xy = tf
      .withColumn("rank", row_number().over(w).cast("long"))
      .select($"source", $"tf",
        qln($"rank".cast("double")).as("x"), qln($"tf".cast("double")).as("y"))
    xy.groupBy($"source")
      .agg(
        count(lit(1)).as("vocab"),
        sum($"tf").as("n_tokens"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
      .select($"source", $"vocab", $"n_tokens",
        // vocab=1 makes the OLS denominator 0 (0/0 NaN, and the two
        // engines disagree on floor(NaN)); a one-term vocabulary has no
        // rank-frequency curve, so the slope is pinned to 0.0.
        when($"vocab" > 1,
          graft.Tables.round6(
            ($"vocab".cast("double") * $"sxy" - $"sx".cast("double") * $"sy") /
            ($"vocab".cast("double") * $"sxx" - $"sx".cast("double") * $"sx")))
          .otherwise(lit(0.0))
          .as("zipf_slope"))
      .orderBy($"source")
  }

  /** EXACT corpus heavy hitters via a Misra–Gries candidate pass (q98):
    * every token whose count strictly exceeds N/k, with its exact count
    * — the frequent-item report (stopword discovery, template
    * detection, vocabulary pruning) computed WITHOUT a full-vocabulary
    * shuffle. Two phases:
    *   1. per-partition Misra–Gries summaries of size `m` (classic
    *      guarantee: any item with partition frequency > n_p/m survives
    *      its partition's summary, so the union over partitions is a
    *      SUPERSET of every global >N/m item; m ≥ k makes it a superset
    *      of the >N/k report). Only ≤ partitions·m candidate tokens
    *      leave the executors — no vocabulary-sized shuffle;
    *   2. one exact count pass restricted to the broadcast candidate
    *      set, thresholded as c·k > N in INTEGER arithmetic.
    * The sketch only proposes; the recheck disposes — so the output is
    * exact and engine-independent (hash-checked against DuckDB's full
    * groupBy), while the scale cost stays two scans + a candidate-set
    * aggregate. `HeavyHitterSpec`-style superset behavior is pinned in
    * OperatorEquivalenceSpec on an adversarial skew fixture.
    */
  def heavyHitters(s: SparkSession, dir: String, k: Int = 32,
                   m: Int = 256): DataFrame =
    heavyHittersDf(table(s, dir, "documents"), k, m)

  private[graft] def heavyHittersDf(docs: DataFrame, k: Int, m: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs.select(explode(split($"text", " ")).as("w")).as[String]
    // pass 1: Misra–Gries per partition; ≤ m survivors each
    val cands = toks.mapPartitions { it =>
      val mg = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { w =>
        mg.get(w) match {
          case Some(c) => mg(w) = c + 1
          case None if mg.size < m => mg(w) = 1L
          case None => // decrement-all step; drop zeros
            val dead = scala.collection.mutable.ArrayBuffer.empty[String]
            mg.keysIterator.foreach { kk =>
              val nv = mg(kk) - 1
              if (nv == 0L) dead += kk else mg(kk) = nv
            }
            dead.foreach(mg.remove)
        }
      }
      mg.keysIterator
    }.distinct().collect() // bounded: ≤ partitions · m tokens
    val bCands = s.sparkContext.broadcast(cands.toSet)
    val n = docs.agg(coalesce(sum(size(split($"text", " "))), lit(0L)))
      .head.getLong(0)
    toks.filter(w => bCands.value.contains(w))
      .toDF("w")
      .groupBy($"w".as("token"))
      .agg(count(lit(1)).as("n"))
      .where($"n" * k > n)
      .select($"token", $"n")
      .orderBy($"n".desc, $"token".asc)
  }

  /** Per-document bigram cross-entropy under the corpus's own bigram LM
    * (q97) — the perplexity-style quality filter of a training-data
    * pipeline: documents whose token transitions are improbable under
    * the corpus distribution (boilerplate, shuffled text, wrong-language
    * slices) score high and get gated. Model: maximum-likelihood bigram
    * LM trained on the corpus itself, p(w2|w1) = c(w1,w2) / c(w1·)
    * (prefix counts), so every scored bigram has corpus support and no
    * smoothing convention has to match across engines.
    *
    * Cross-engine exactness: the q85 discipline — ln of exact integer
    * counts quantized to BIGINT (floor(ln·1e6 + 0.5)), per-bigram score
    * = qln(c1) − qln(c2) ≥ 0 summed as integers, ONE double division
    * chain at the end, then round6. Docs with fewer than two tokens stay
    * in the report with n_bigrams = 0 and entropy 0.0.
    *
    * Shape: one corpus explode into the map-side-combined bigram count
    * (vocab²-bounded — the irreducible LM collapse), a vocab-bounded
    * prefix-count join inside the model frame, one stream-to-model join
    * keyed on the bigram (AQE broadcasts the model while it fits; at
    * open-web vocab it degrades to a hash join on the same key), one
    * per-doc aggregate. The sequence() guard keeps 1-token docs out of
    * the generator (it would count DOWN — the q76 lesson).
    */
  def bigramCrossEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    val docs = table(s, dir, "documents")
    val bg = docs
      .select($"doc_id", split($"text", " ").as("ts"))
      .where(size($"ts") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(ts) - 2), i -> struct(ts[i] as w1, ts[i+1] as w2))"))
        .as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
    val c2 = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
    val model = c2.join(
        c2.groupBy($"w1").agg(sum($"c2").as("c1")), "w1")
      .select($"w1", $"w2", (qln($"c1") - qln($"c2")).as("score"))
    val scored = bg.join(model, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum($"score").as("score_sum"))
    docs.select($"doc_id").join(scored, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        when($"n_bigrams".isNull, lit(0.0))
          .otherwise(graft.Tables.round6(
            ($"score_sum".cast("double") / lit(1000000.0)) / $"n_bigrams"))
          .as("cross_entropy"))
      .orderBy($"doc_id")
  }

  /** BM25 retrieval scoring (q108): rank the corpus against a fixed term
    * query with the classic Okapi BM25 (k1 = 1.2, b = 0.75) — the
    * retrieval primitive behind retrieval-based decontamination and
    * quality mining. Everything reduces to exact integers until one
    * double chain per term:
    *
    *   - idf: ln((N−df+0.5)/(df+0.5) + 1) rewrites to
    *     ln(2(N+1)) − ln(2df+1) — INTEGER ln arguments, so the q85/q97
    *     qln quantization applies verbatim;
    *   - tf saturation: tf(k1+1)/(tf + k1(1−b+b·dl/avgdl)) with
    *     avgdl = S/N cross-multiplies to 22·tf·S / (10·tf·S + 3·S +
    *     9·dl·N) — one exact integer numerator/denominator pair;
    *   - per-doc score: the ≤3 per-term doubles are added in FIXED term
    *     order (pivoted columns, not an agg over rows), so both engines
    *     run the identical IEEE chain.
    *
    * Scale shape: the corpus explode filters to the query terms AT THE
    * SCAN (everything downstream is query-bounded); df/N/S are bytes of
    * broadcast state; top-k is TakeOrderedAndProject, never a full sort.
    */
  def bm25TopDocs(s: SparkSession, dir: String,
                  terms: Seq[String] = Seq("scan", "filter", "vector"),
                  k: Int = 20): DataFrame = {
    import s.implicits._
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    val docs = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", size($"ts").cast("long").as("dl"), $"ts")
    val stats = docs.agg(count(lit(1)).as("n_docs"), sum($"dl").as("s_tok"))
    val hits = docs
      .select($"doc_id", $"dl", explode($"ts").as("t"))
      .where($"t".isin(terms: _*))
      .groupBy($"doc_id", $"dl", $"t")
      .agg(count(lit(1)).as("tf"))
    val df_ = hits.groupBy($"t").agg(count(lit(1)).as("df"))
    val scoredTerms = hits
      .join(broadcast(df_), "t")
      .crossJoin(broadcast(stats))
      .select($"doc_id", $"dl", $"t", $"tf",
        // idf_q/1e6 * 22·tf·S / (10·tf·S + 3·S + 9·dl·N), one double chain
        (((qln(lit(2) * ($"n_docs" + 1)) - qln(lit(2) * $"df" + 1))
          .cast("double") / lit(1000000.0)) *
          (lit(22) * $"tf" * $"s_tok").cast("double") /
          (lit(10) * $"tf" * $"s_tok" + lit(3) * $"s_tok" +
            lit(9) * $"dl" * $"n_docs").cast("double")).as("ts_score"))
    // fixed-order pivot: term scores land in per-term columns so the
    // final addition order is part of the contract, not the partitioning
    val perDoc = scoredTerms.groupBy($"doc_id", $"dl")
      .agg(terms.map(t =>
        coalesce(max(when($"t" === t, $"ts_score")), lit(0.0)).as(s"s_$t")).head,
        terms.map(t =>
          coalesce(max(when($"t" === t, $"ts_score")), lit(0.0)).as(s"s_$t")).tail: _*)
    val total = terms.map(t => col(s"s_$t")).reduce(_ + _)
    perDoc
      .select($"doc_id", $"dl", graft.Tables.round6(total).as("bm25"))
      .orderBy($"bm25".desc, $"doc_id".asc)
      .limit(k)
  }

  /** Per-source subword (byte-level BPE) profile (q95): every
    * token-denominated stage so far (q28/q40/q58/q67/q78/q81) budgets in
    * whitespace tokens; real pipelines budget in SUBWORD tokens. Trains
    * a deterministic byte-level BPE on the corpus itself and reports,
    * per source: docs, UTF-8 bytes, subword pieces, and bytes-per-piece
    * (the compression ratio — the number that converts a byte budget
    * into a token budget for THIS corpus).
    *
    * Scale shape (the reason this is Spark-shaped and not a UDF around
    * a library): ONE vocab-bounded word-count aggregate (map-side
    * combined — the q81/q85 cost class), a deterministic top-`vocabCap`
    * cut on (count desc, word asc), driver-local merge training on that
    * bounded table ([[graft.functions.Bpe]]), one broadcast of the rank
    * map, and a per-row encode kernel with a per-partition word→pieces
    * memo (vocabulary-bounded, self-clearing) — no shuffle after the
    * count, nothing corpus-sized on the driver. Engine-specific
    * recursion (the merge loop) puts this rows-only under the driver;
    * PipelineCleaningSpec pins the merge/encode semantics on a
    * hand-computed fixture plus round-trip and determinism invariants.
    */
  /** The corpus-trained BPE merge ranks, memoized in [[OpCache]] per
    * (nMerges, vocabCap): ONE vocab-bounded word-count aggregate + the
    * driver-local merge loop, shared by every subword-denominated
    * consumer (q95's profile, q182's packing) so trainer and consumer
    * CANNOT drift — one rank table, one tokenization.
    */
  private[graft] def bpeRanks(s: SparkSession, dir: String, nMerges: Int,
                              vocabCap: Int): Map[(String, String), Int] =
    OpCache.value(s"bpeRanks|$nMerges|$vocabCap", s, dir) {
      import s.implicits._
      val wc = table(s, dir, "documents")
        .select(explode(split($"text", " ")).as("w"))
        .where(length($"w") > 0)
        .groupBy($"w").agg(count(lit(1)).as("c"))
        .orderBy($"c".desc, $"w".asc).limit(vocabCap)
        .as[(String, Long)].collect()
      graft.functions.Bpe.train(wc.toSeq, nMerges).zipWithIndex.toMap
    }

  def subwordProfile(s: SparkSession, dir: String, nMerges: Int = 64,
                     vocabCap: Int = 65536): DataFrame = {
    import s.implicits._
    val ranks = bpeRanks(s, dir, nMerges, vocabCap)
    val bRanks = s.sparkContext.broadcast(ranks)
    table(s, dir, "documents")
      .select($"source", $"text").as[(String, String)]
      .mapPartitions { it =>
        val rk = bRanks.value
        val memo = new java.util.HashMap[String, Long]()
        it.map { case (src, text) =>
          var pieces = 0L; var bytes = 0L
          text.split(' ').foreach { w =>
            if (w.nonEmpty) {
              var n = memo.getOrDefault(w, 0L)
              if (n == 0L) { // 0 is impossible for a non-empty word
                n = graft.functions.Bpe.encode(w, rk).length.toLong
                if (memo.size > (1 << 20)) memo.clear() // vocab blowup guard
                memo.put(w, n)
              }
              pieces += n
              bytes += w.getBytes("UTF-8").length
            }
          }
          (src, pieces, bytes)
        }
      }.toDF("source", "n_pieces", "n_bytes")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bytes").as("sum_bytes"),
        sum($"n_pieces").as("sum_pieces"))
      .select($"source", $"n_docs", $"sum_bytes", $"sum_pieces",
        graft.Tables.round6($"sum_bytes".cast("double") / $"sum_pieces")
          .as("bytes_per_piece"))
      .orderBy($"source")
  }

  /** Per-source distribution drift / PSI monitor (q123): how far each
    * source's document-difficulty distribution sits from the corpus-wide
    * one, as a population stability index over a 16-bin equi-width grid —
    * the standing data-quality monitor that flags a source going weird
    * before it poisons a training mix (PSI > 0.25 is the conventional
    * "investigate" line).
    *
    * Determinism discipline (the q82/q85/q108 toolbox combined):
    * difficulty is q102's integer-scaled mean word length; the grid is
    * q105's exact integer equi-width binning; smoothing adds +1 to the
    * source's bins and a SIZE-PROPORTIONAL integer pseudo-count
    * r = Tg div Ts to the global's (plain +1 on both sides makes every
    * empty bin charge a small source ~(1/Ts)·ln(Tg/Ts) of fake drift —
    * measured: a faithful 40-doc mirror of the mix scored 0.61 under
    * +1/+1, 0.008 under +1/+r). Both smoothed ratios stay INTEGER ln
    * arguments — ln(ps/pg) = ln((cs+1)(Tg+16r)) − ln((cg+r)(Ts+16))
    * under qln; each bin's PSI term is one fixed-shape double chain
    * quantized to a BIGINT (×1e12, floor) so the per-source sum is
    * order-free.
    *
    * Scale shape: one corpus pass collapses to a (source × 16)-bounded
    * count grid; the dense grid, global marginals, and the PSI arithmetic
    * all run on that bounded frame (a 1-row bounds broadcast ahead of
    * it). Nothing after the first groupBy scales with the corpus.
    */
  def sourcePsi(s: SparkSession, dir: String, nBins: Int = 16): DataFrame = {
    import s.implicits._
    val docs = psiScoresCorpus(s, dir)
    val bounds = docs.agg(min($"iscore").as("mn"), max($"iscore").as("mx"))
    val binned = docs.crossJoin(broadcast(bounds))
      .select($"source",
        expr(s"(iscore - mn) * $nBins div (mx - mn + 1)").as("bin"))
      .groupBy($"source", $"bin").agg(count(lit(1)).as("c"))
    psiFromCounts(s, binned, nBins)
  }

  /** The corpus-wide (source, iscore) frame, memoized per (session, dir)
    * in the shared OpCache — q123's PSI grid and q130's bound-pinning
    * pass both consume it, so the paired batch/streaming monitors pay
    * ONE difficulty-projection scan per session instead of one each. */
  private[graft] def psiScoresCorpus(s: SparkSession, dir: String): DataFrame =
    OpCache.dataset("psiScoresCorpus", s, dir)(
      psiScores(s, table(s, dir, "documents"))).toDF()

  /** The (source, iscore) difficulty projection shared by [[sourcePsi]]
    * and the streaming drift monitor (q130). */
  private[graft] def psiScores(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .select($"source", size(split($"text", " ")).cast("long").as("ntok"),
        (length($"text") - size(split($"text", " ")) + 1).cast("long").as("sumlen"))
      .select($"source", expr("sumlen * 1000000 div ntok").as("iscore"))
  }

  /** The counts → PSI tail shared by [[sourcePsi]] and q130's streaming
    * twin: takes the (source, bin, c) count frame, however it was
    * accumulated (one batch pass, or merged micro-batch partials — sums
    * are commutative, so the arrival path cannot change the result).
    */
  private[graft] def psiFromCounts(s: SparkSession, binned: DataFrame,
                                   nBins: Int): DataFrame = {
    import s.implicits._
    def qln(c: org.apache.spark.sql.Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    // dense (source x bin) grid: absent bins must carry c = 0 into the
    // smoothed PSI terms, not vanish
    val srcTot = binned.groupBy($"source").agg(sum($"c").as("t_s"))
    val grid = srcTot.crossJoin(
        s.range(0, nBins).select($"id".as("bin")))
      .join(binned, Seq("source", "bin"), "left")
      .na.fill(0L, Seq("c"))
    val gTot = grid.groupBy($"bin").agg(sum($"c").as("c_g"))
      .crossJoin(binned.agg(sum($"c").as("t_g")))
    val terms = grid.join(gTot, Seq("bin"))
      // r = Tg div Ts: the global pseudo-count that matches the source's
      // +1 at the source's own scale (integer, >= 1 since Ts <= Tg)
      .withColumn("r", expr("t_g div t_s"))
      .select($"source", $"t_s",
        // ((cs+1)/(Ts+16) - (cg+r)/(Tg+16r)) * qln-ratio, one fixed chain,
        // quantized to a BIGINT so the per-source sum is order-free
        floor((($"c" + 1).cast("double") / ($"t_s" + nBins).cast("double") -
          ($"c_g" + $"r").cast("double") / ($"t_g" + $"r" * nBins).cast("double")) *
          ((qln(($"c" + 1) * ($"t_g" + $"r" * nBins)) -
            qln(($"c_g" + $"r") * ($"t_s" + nBins))).cast("double") / lit(1000000.0)) *
          lit(1000000000000.0)).cast("long").as("term_q"))
    terms.groupBy($"source")
      .agg(max($"t_s").as("n_docs"), sum($"term_q").as("psi_q"))
      .select($"source", $"n_docs",
        graft.Tables.round6($"psi_q".cast("double") / lit(1000000000000.0))
          .as("psi"))
      .orderBy($"source")
  }

  /** Robust per-source length dispersion (q141): exact lower median and
    * MAD (median absolute deviation) of whitespace token counts, plus
    * the count of docs outside median ± 5·MAD — the robust outlier
    * screen that q28's mean/max profile can't give (one 10^6-token
    * pathological doc moves a mean, never a median). "Lower median" =
    * the value at rank (n+1) div 2 under (value, doc_id) order — an
    * ELEMENT of the data, so everything stays integer; interpolated
    * medians are a cross-engine double trap.
    *
    * ONE parquet scan: the token count is pure SQL (spaces + 1, the
    * q28 n_ws definition), the median attaches to every row as a window
    * max over when(rank = median_rank) — no self-join, no rescan — and
    * the MAD repeats the trick on |x - median|. Two per-source window
    * sorts + one aggregate; partitioned by source throughout, so 100×
    * data parallelizes across sources and the q102 distributed-rank
    * decomposition is the path if a single source outgrows a partition
    * sort (noted, not needed at 10×).
    */
  def tokenDispersion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wSrc = Window.partitionBy($"source")
    val w1 = wSrc.orderBy($"n_tokens", $"doc_id")
    val toks = table(s, dir, "documents")
      .select($"source", $"doc_id",
        expr("cast(length(text) - length(replace(text, ' ', '')) + 1 as bigint)")
          .as("n_tokens"))
      .withColumn("i", row_number().over(w1).cast("long"))
      .withColumn("n", count(lit(1)).over(wSrc))
      .withColumn("med", max(when($"i" === expr("(n + 1) div 2"), $"n_tokens"))
        .over(wSrc))
      .withColumn("dev", abs($"n_tokens" - $"med"))
    val w2 = wSrc.orderBy($"dev", $"doc_id")
    toks
      .withColumn("j", row_number().over(w2).cast("long"))
      .withColumn("mad", max(when($"j" === expr("(n + 1) div 2"), $"dev"))
        .over(wSrc))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        min($"med").as("median_tokens"),
        min($"mad").as("mad_tokens"),
        sum(when($"dev" > $"mad" * 5, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy($"source")
  }

  /** Cross-source vocabulary overlap matrix (q143): for every source
    * pair, the shared distinct-token count plus Jaccard and overlap
    * coefficients — the corpus-mixing diagnostic that says which sources
    * are near-copies of each other at the VOCABULARY level (q73 answers
    * it at the document level, q123 at the difficulty level). Both
    * coefficients are exact integer rationals emitted in ppm
    * (x·1,000,000 div denominator) — no doubles anywhere.
    *
    * Scale shape: ONE explode pass → distinct (source, term), then the
    * pair counts come from a self-join on term. The fan-out per term is
    * bounded by the source vocabulary (a term can appear in at most
    * n_sources sources, ~20), so the join output is ≤ n_src²/2 rows per
    * term — never corpus-quadratic — and everything after the distinct
    * is vocab-bounded. Output is the (n_src choose 2) matrix.
    */
  def vocabOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val st = table(s, dir, "documents")
      .select($"source", explode(split($"text", " ")).as("term"))
      .distinct()
    val vocab = st.groupBy($"source").agg(count(lit(1)).as("vocab"))
    val inter = st.select($"source".as("source_a"), $"term")
      .join(st.select($"source".as("source_b"), $"term"), "term")
      .where($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(vocab.select($"source".as("source_a"), $"vocab".as("vocab_a")), "source_a")
      .join(vocab.select($"source".as("source_b"), $"vocab".as("vocab_b")), "source_b")
      .select($"source_a", $"source_b", $"vocab_a", $"vocab_b", $"n_shared",
        expr("(n_shared * 1000000) div (vocab_a + vocab_b - n_shared)")
          .as("jaccard_ppm"),
        expr("(n_shared * 1000000) div least(vocab_a, vocab_b)")
          .as("overlap_ppm"))
      .orderBy($"source_a", $"source_b")
  }

  /** Two-sample Kolmogorov-Smirnov distance per source pair (q149) on
    * the per-document token-count distribution — the exact
    * distributional-drift test that PSI (q123) approximates through
    * binning: D = sup |F_a − F_b| over the merged support, emitted in
    * ppm. EXACT integer arithmetic throughout: the ECDF compare
    * cross-multiplies (|cum_a·n_b − cum_b·n_a| over the common
    * denominator n_a·n_b), so no ratio ever becomes a double.
    * n_a·n_b·10^6 ≤ ~2.5e17 at sf10 — BIGINT-safe; corpora past ~3e6
    * docs/source would move the cross-product to DECIMAL(38,0).
    *
    * Scale shape: one scan folds to the (source × token-length) grid —
    * token lengths are generation-bounded (hundreds of distinct values),
    * so everything after the first groupBy is grid-sized: the per-source
    * cumulative window partitions by source over the bounded length
    * axis, and the pair join fans out to n_src²/2 rows per length.
    * ECDFs are step functions, so the sup over the union of observed
    * lengths IS the global sup — no densification needed beyond the
    * shared grid both engines build identically.
    */
  def ksDistance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lens = table(s, dir, "documents")
      .select($"source", size(split($"text", " ")).cast("long").as("len"))
    val counts = lens.groupBy($"source", $"len").agg(count(lit(1)).as("cnt"))
    // dense (source x len) grid: a length observed in ANY source is an
    // ECDF jump point for every pair, and cum must be defined there
    val grid = counts.select($"source").distinct()
      .crossJoin(counts.select($"len").distinct())
      .join(counts, Seq("source", "len"), "left")
      .na.fill(0L, Seq("cnt"))
      .withColumn("cum", sum($"cnt").over(
        Window.partitionBy($"source").orderBy($"len")))
    val totals = lens.groupBy($"source").agg(count(lit(1)).as("n"))
    val a = grid.join(totals, "source")
      .select($"source".as("source_a"), $"len", $"cum".as("cum_a"), $"n".as("n_a"))
    val b = grid.join(totals, "source")
      .select($"source".as("source_b"), $"len", $"cum".as("cum_b"), $"n".as("n_b"))
    a.join(b, "len").where($"source_a" < $"source_b")
      .groupBy($"source_a", $"source_b", $"n_a", $"n_b")
      .agg(max(abs($"cum_a" * $"n_b" - $"cum_b" * $"n_a")).as("d_num"))
      .select($"source_a", $"source_b", $"n_a", $"n_b",
        expr("(d_num * 1000000) div (n_a * n_b)").as("ks_ppm"))
      .orderBy($"source_a", $"source_b")
  }

  /** Cross-source quantile normalization (q152): map every document's
    * token count onto the GLOBAL length distribution at the same
    * within-source quantile — the feature-calibration transform that
    * makes "long for its source" comparable across sources whose raw
    * length scales differ (q149 measures that the distributions
    * diverge; this is the fix). norm_len is the exact global order
    * statistic at rank ceil(r·N/n_s) — pure integer arithmetic, no
    * interpolation convention to match across engines.
    *
    * Scale shape: the within-source rank is a source-PARTITIONED
    * window (doc_id tie-break); the global quantile function lives on
    * the bounded observed-length grid (cnt, cum per len — the q149
    * grid), so the lookup is a broadcast range join g ∈ (cum−cnt, cum]
    * with exactly one match per doc. No global sort of documents
    * anywhere; a single giant source degrades to q102's distributed
    * rank, noted here for the 100 TB path.
    */
  def quantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lens = table(s, dir, "documents")
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("len"))
    val grid = lens.groupBy($"len").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(Window.orderBy($"len")))
      .select($"len".as("glen"), $"cnt", $"cum")
    val totals = lens.groupBy($"source").agg(count(lit(1)).as("n_s"))
    val n = lens.agg(count(lit(1)).as("n_total"))
    val ranked = lens
      .withColumn("r", row_number().over(
        Window.partitionBy($"source").orderBy($"len", $"doc_id")))
      .join(totals, "source")
      .crossJoin(broadcast(n))
      .withColumn("g", expr("(r * n_total + n_s - 1) div n_s"))
    ranked.join(broadcast(grid),
        $"g" > $"cum" - $"cnt" && $"g" <= $"cum")
      .select($"doc_id", $"source", $"len", $"glen".as("norm_len"))
      .orderBy($"doc_id")
  }

  /** Per-benchmark-item leak report (q166): q49/q75 answer "which DOCS
    * are contaminated"; this answers the decontamination auditor's dual —
    * "which BENCHMARK ITEMS are compromised, how badly, and by how many
    * corpus docs". Containment is asymmetric: |doc ∩ item| / |item|, so a
    * long doc that swallowed a short eval item scores 1.0 even though the
    * doc-side overlap fraction is tiny (exactly the case q49's symmetric
    * screen under-weights). Threshold at containment >= 0.5 via the
    * integer form hits*2 >= item_nsh — no FP compare at the boundary.
    *
    * Matching unit: word 8-GRAMS, not q49's trigrams — the width real
    * decontamination pipelines use (GPT-3 13-gram, The Pile 13-gram,
    * Dolma/BFF 8+). Deliberate, and load-bearing for scale: the pair
    * aggregate is keyed by (item, doc), so every shared gram is a pair
    * row — at trigram width the stop-gram tail made that stream
    * corpus-quadratic (measured: 57.7 s / 2.9 GB spill at sf10), while
    * 8-grams only collide on real copied spans (measured: 18 surviving
    * pairs at sf10, pair stream bounded by actual leakage).
    *
    * Scale shape: the benchmark side is eval-suite-bounded (explodes to
    * item 8-gram hashes and BROADCASTS); the corpus shingle stream probes
    * it without shuffling corpus-sized data — only true (doc, item) hash
    * hits reach the pair aggregate. Items with zero hits re-enter via
    * the left join so every benchmark row reports.
    */
  def benchLeakReport(s: SparkSession, dir: String, benchMod: Long = 97,
                      width: Int = 8): DataFrame = {
    import s.implicits._
    val sh = TextDedup.hashedShinglesCached(s, dir, width)
    val bench = sh.where($"doc_id" % benchMod === 0 && size($"hshs") > 0)
      .select($"doc_id".as("bench_id"), size($"hshs").cast("long").as("item_nsh"),
        explode($"hshs").as("h"))
    val corpus = sh.where($"doc_id" % benchMod =!= 0)
      .select($"doc_id", explode($"hshs").as("h"))
    val pairHits = corpus.join(broadcast(bench), Seq("h"))
      .groupBy($"bench_id", $"doc_id")
      .agg(first($"item_nsh").as("item_nsh"), count(lit(1)).as("hits"))
    val perItem = pairHits.groupBy($"bench_id")
      .agg(
        count(lit(1)).as("n_docs_hit"),
        sum(when($"hits" * 2 >= $"item_nsh", 1L).otherwise(0L)).as("n_leaking_docs"),
        graft.Tables.round6(max($"hits".cast("double") / $"item_nsh"))
          .as("max_containment"))
    sh.where($"doc_id" % benchMod === 0 && size($"hshs") > 0)
      .select($"doc_id".as("bench_id"), size($"hshs").cast("long").as("item_nsh"))
      .join(perItem, Seq("bench_id"), "left")
      .select($"bench_id", $"item_nsh",
        coalesce($"n_docs_hit", lit(0L)).as("n_docs_hit"),
        coalesce($"n_leaking_docs", lit(0L)).as("n_leaking_docs"),
        coalesce($"max_containment", lit(0.0)).as("max_containment"))
      .orderBy($"bench_id")
  }

  /** Robust per-source length outliers via median/MAD (q168): the
    * quality-monitoring cut that survives the heavy tails mean/stddev
    * drowns in — a source whose scraper started emitting boilerplate
    * 10x-length docs moves the MAD count immediately but barely moves a
    * stddev already inflated by the tail. Outlier rule: |len - median| >
    * 5 * MAD (one multiply on exact-half-representable doubles, so the
    * comparison is the same IEEE decision in both engines; k=5 ≈ the
    * 3.5-sigma consistency cut at normality).
    *
    * Scale shape: two exact percentiles per source over the integer
    * length column (sort-based within source partitions, the q40
    * discipline), then a per-row flag — no corpus-sized shuffle beyond
    * the percentile aggs themselves.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lens = table(s, dir, "documents")
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("n_ws"))
    val med = lens.groupBy($"source")
      .agg(expr("percentile(n_ws, 0.5)").as("med"))
    val adev = lens.join(med, "source")
      .select($"source", $"n_ws", abs($"n_ws" - $"med").as("adev"), $"med")
    val mad = adev.groupBy($"source")
      .agg(expr("percentile(adev, 0.5)").as("mad"), first($"med").as("med"))
    adev.drop("med").join(mad, "source")
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        graft.Tables.round6(first($"med")).as("med_tokens"),
        graft.Tables.round6(first($"mad")).as("mad_tokens"),
        sum(when($"adev" > $"mad" * 5.0, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy($"source")
  }

  /** One-row dataset card (q178): the summary block a dataset release
    * ships — corpus size, source count, token mass, exact-duplicate
    * count (q19's normalization), mean length, short-doc tail. Every
    * field is a single-pass aggregate; the card is the cheap headline
    * the per-operator reports (q19/q40/q81/q85...) break down.
    */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"source",
        size(split($"text", " ")).cast("long").as("n_ws"),
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        sum($"n_ws").as("n_tokens"),
        (count(lit(1)) - countDistinct($"h")).as("n_exact_dup_docs"),
        graft.Tables.round6(sum($"n_ws").cast("double") / count(lit(1)))
          .as("mean_doc_tokens"),
        sum(when($"n_ws" < 20, 1L).otherwise(0L)).as("n_short_docs"))
  }
}
