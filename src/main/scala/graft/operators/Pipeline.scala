package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.table

/** Dataset-assembly operators a training-data pipeline runs after
  * cleaning: deterministic sampling and filter accounting. Both are
  * exact-oracle-checkable (no RNG: "random" order is the shared 60-bit
  * content hash, reproducible in any engine).
  */
object Pipeline {

  /** Deterministic stratified sample: the k docs per source with the
    * smallest `hash60(doc_id)` — a uniform-at-random-in-expectation,
    * seedlessly reproducible choice (re-running over a grown corpus keeps
    * previously-sampled docs unless displaced, the property incremental
    * dataset builds want).
    *
    * Shape: the bounded `MinKAggregator` combines map-side, so only k
    * rows per source per partition reach the shuffle — `sampleBy` gives
    * no exact-k guarantee and a rank window would shuffle every row.
    */
  def stratifiedSample(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val mink = udaf(new graft.functions.MinKAggregator(k), Encoders.product[(Long, Long)])
    table(s, dir, "documents")
      .select($"source", $"doc_id", expr("hash60(cast(doc_id as string))").as("h"))
      .groupBy($"source")
      .agg(mink($"h", $"doc_id").as("picked"))
      .select($"source", posexplode($"picked"))
      .select($"source", ($"pos" + 1).cast("long").as("rank"),
        $"col._2".as("doc_id"), $"col._1".as("sample_key"))
      .orderBy($"source", $"rank")
  }

  /** Weighted mixture sampling: each source keeps a target FRACTION of its
    * documents (how pretraining mixes are specified — "web at 25%, curated
    * at 100%"), decided per document by an integer hash threshold:
    * keep iff hash60(doc_id) < floor(rate * 2^60). hash60 is uniform on
    * [0, 2^60), so the kept fraction converges to the rate, the choice is
    * seedless and stable across runs/engines (pure long compare, no RNG,
    * no Bernoulli sampler), and — unlike `df.sample` — re-running on a
    * grown corpus keeps every previously-kept document. Rates here are
    * exact binary fractions keyed by a source-hash bucket so the operator
    * exercises every rate whatever the corpus's source names.
    */
  def weightedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = size(split($"text", " ")).cast("long")
    table(s, dir, "documents")
      .select($"source", $"doc_id", toks.as("ntok"),
        expr("hash60(cast(doc_id as string))").as("h"),
        expr("hash60(source) % 4").as("b"))
      .withColumn("rate",
        element_at(array(lit(1.0), lit(0.5), lit(0.25), lit(0.125)), ($"b" + 1).cast("int")))
      .withColumn("kept", $"h" < floor($"rate" * lit(1152921504606846976.0)).cast("long"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"kept", $"ntok").otherwise(0L)).as("kept_tokens"))
      .orderBy($"source")
  }

  /** Token-budget sequence packing: greedily pack documents (per language,
    * in doc_id order) into training sequences of at most `budget` tokens —
    * the batch-assembly step between a cleaned corpus and a trainer. A
    * document that would overflow the open bin closes it; a document alone
    * exceeding the budget gets its own (oversized) bin. Emits per-bin
    * occupancy so fill efficiency is auditable.
    *
    * Skew sub-key: greedy packing is a serial scan per group, so packing
    * per language alone bounds parallelism by distinct languages — and a
    * real corpus is ~50% one language, leaving one task half the data.
    * The unit of packing is therefore (lang, doc_id DIV `rangeSize`): each
    * coarse doc_id range packs independently in parallel, then bins
    * renumber per language by adding the cumulative bin count of earlier
    * ranges (a window over one metadata row per range). Deterministic:
    * range binning is pure integer arithmetic on doc_id, so the oracle
    * reproduces it exactly. The cross-range seam can leave one
    * partially-filled bin per range (bounded waste: <= ranges bins), the
    * standard trade for parallel packing.
    *
    * Shape: ONE data shuffle (hash-partition by (lang, range)) + a
    * secondary sort, then a streaming greedy fold per range — O(1) state
    * per partition; the offset pass touches one row per range, never the
    * data.
    */
  def sequencePacking(s: SparkSession, dir: String, budget: Long = 256L,
                      rangeSize: Long = 256L): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents")
      .select($"lang", expr(s"cast(doc_id as bigint) DIV $rangeSize").as("grp"),
        $"doc_id", size(split($"text", " ")).cast("long").as("ntok"))
    packIntoBins(s, docs, budget)
  }

  /** The shared greedy-packing tail of [[sequencePacking]] /
    * [[sequencePackingBpe]]: `docs` is any (lang, grp, doc_id, ntok)
    * frame; only the token-counting front end differs between the
    * whitespace and subword surfaces.
    */
  private def packIntoBins(s: SparkSession, docs: DataFrame,
                           budget: Long): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val packed = docs.repartition($"lang", $"grp")
      .sortWithinPartitions($"lang", $"grp", $"doc_id")
      .as[(String, Long, Long, Long)]
      .mapPartitions { it =>
        var lang: String = null; var grp = Long.MinValue; var bin = 0L; var tot = 0L
        it.map { case (l, g, id, n) =>
          if (l != lang || g != grp) { lang = l; grp = g; bin = 0L; tot = 0L }
          if (tot > 0 && tot + n > budget) { bin += 1; tot = 0L }
          tot += n
          (l, g, id, n, bin)
        }
      }.toDF("lang", "grp", "doc_id", "ntok", "lbin")
    // per-lang renumbering: offset each range's local bins by the bin
    // count of all earlier ranges in the same language. One row per
    // (lang, range) flows through the window. NO broadcast hint on the
    // join back: offsets is nDocs/rangeSize rows — comfortably broadcast
    // at test scale (Spark picks broadcast-hash on its own under the
    // auto threshold, asserted in PlanSpec) but MILLIONS of rows at
    // billions of docs, where a forced broadcast hits driver/executor
    // limits; past the threshold it degrades to a shuffle join keyed the
    // same as `packed`'s existing partitioning
    val offsets = packed.groupBy($"lang", $"grp")
      .agg((max($"lbin") + 1).as("nbins"))
      .withColumn("off", coalesce(sum($"nbins").over(
        Window.partitionBy($"lang").orderBy($"grp")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"lang", $"grp", $"off")
    packed.join(offsets, Seq("lang", "grp"))
      .withColumn("bin", $"off" + $"lbin")
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
      .orderBy($"lang", $"bin")
  }

  /** Sequence packing in SUBWORD tokens (q182): [[sequencePacking]]'s
    * greedy bins with the budget denominated in real BPE pieces instead
    * of whitespace tokens — what a trainer actually consumes (a 256-
    * whitespace-token budget is a different byte mass per language; the
    * subword count is the sequence length the model sees). The piece
    * counter is [[TextAnalysis.bpeRanks]]' SHARED rank table — the same
    * broadcast q95's profile encodes with, so the budgeting here cannot
    * drift from the tokenizer-trainer surface; the per-partition
    * word→pieces memo is the q95 kernel verbatim.
    *
    * Scale shape: q95's one vocab-bounded count + driver merge loop
    * (memoized), one broadcast, a per-row count kernel, then the same
    * ONE-shuffle parallel packing as q52. Engine-specific recursion
    * (the merge loop) → rows-only under the driver; PipelineCleaningSpec
    * pins conservation against q95's piece totals, the budget bound, and
    * dense bin numbering.
    */
  def sequencePackingBpe(s: SparkSession, dir: String, budget: Long = 256L,
                         rangeSize: Long = 256L, nMerges: Int = 64,
                         vocabCap: Int = 65536): DataFrame = {
    import s.implicits._
    val ranks = TextAnalysis.bpeRanks(s, dir, nMerges, vocabCap)
    val bRanks = s.sparkContext.broadcast(ranks)
    val docs = table(s, dir, "documents")
      .select($"lang", $"doc_id", $"text").as[(String, Long, String)]
      .mapPartitions { it =>
        val rk = bRanks.value
        val memo = new java.util.HashMap[String, Long]()
        it.map { case (lang, id, text) =>
          var pieces = 0L
          text.split(' ').foreach { w =>
            if (w.nonEmpty) {
              var n = memo.getOrDefault(w, 0L)
              if (n == 0L) { // 0 impossible for a non-empty word
                n = graft.functions.Bpe.encode(w, rk).length.toLong
                if (memo.size > (1 << 20)) memo.clear() // vocab blowup guard
                memo.put(w, n)
              }
              pieces += n
            }
          }
          (lang, id, pieces)
        }
      }.toDF("lang", "doc_id", "ntok")
      .select($"lang", expr(s"cast(doc_id as bigint) DIV $rangeSize").as("grp"),
        $"doc_id", $"ntok")
    packIntoBins(s, docs, budget)
  }

  /** Token-window chunking (q58): split each document into fixed-size
    * overlapping token windows — the context-window preparation step
    * between a cleaned corpus and sequence packing (RAG indexing and
    * long-doc training both consume this shape). Windows of `window`
    * tokens start every `stride` tokens; the last window truncates at the
    * document end; every document emits at least one chunk. Emits the
    * chunk's md5 rather than its text so the oracle hash-checks content
    * without megabyte rows.
    *
    * Pure per-row flatMap kernel — no shuffle, embarrassingly parallel;
    * output size is corpus x (1/stride) rows.
    */
  def tokenChunks(s: SparkSession, dir: String,
                  window: Int = 64, stride: Int = 48): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          val toks = text.split(" ", -1)
          val n = toks.length
          val nChunks = (n - 1) / stride + 1
          (0 until nChunks).iterator.map { i =>
            val from = i * stride
            val until = math.min(from + window, n)
            val sb = new java.lang.StringBuilder(toks(from))
            var j = from + 1
            while (j < until) { sb.append(' ').append(toks(j)); j += 1 }
            val hex = TextDedup.hexLower(md.digest(sb.toString.getBytes("UTF-8")))
            (id, i.toLong, (until - from).toLong, hex)
          }
        }
      }.toDF("doc_id", "chunk_idx", "n_tokens", "chunk_md5")
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Filter funnel: every document lands in exactly one bucket — the
    * first cleaning rule it trips (too short, too repetitive, stopword
    * flood) or `kept` — with per-bucket counts and token mass, so a
    * pipeline run reports precisely what each rule cost. Single pass,
    * one narrow aggregation; the rule ratios reuse q27's
    * oracle-portable arithmetic.
    */
  def filterFunnel(s: SparkSession, dir: String,
                   minTokens: Int = 5,
                   maxStopRatio: Double = 0.5,
                   minDistinctRatio: Double = 0.3): DataFrame = {
    import s.implicits._
    val toks = split($"text", " ")
    val ntok = size(toks).cast("long")
    val ndist = size(array_distinct(toks)).cast("long")
    val nstop = size(filter(toks, t => t.isin("the", "a", "of", "to", "and"))).cast("long")
    table(s, dir, "documents")
      .select($"doc_id", $"text")
      .withColumn("ntok", ntok)
      .withColumn("reason",
        when(ntok < minTokens, "too_short")
          .when(nstop.cast("double") / ntok > maxStopRatio, "stopword_flood")
          .when(ndist.cast("double") / ntok < minDistinctRatio, "repetitive")
          .otherwise("kept"))
      .groupBy($"reason")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("n_tokens"))
      .orderBy($"reason")
  }

  /** Token-budget mixture (q67): give every source a token BUDGET and keep
    * its documents in deterministic hash order until the budget is spent —
    * how a pretraining mix is actually assembled ("200 B tokens of web,
    * 50 B of curated") once per-source fractions ([[weightedMix]]) have
    * been turned into absolute token targets. A doc is kept iff it fits
    * entirely: cumulative tokens through this doc ≤ `budget`. The order
    * is the seedless `hash60(doc_id)` scan used by [[stratifiedSample]],
    * so the selection is uniform-in-expectation and reproducible, and a
    * grown corpus keeps its previously-selected prefix.
    *
    * The naive plan is one running-sum window per source — which funnels
    * an ENTIRE source (trillions of tokens at target scale) through a
    * single window partition. This uses [[sequencePacking]]'s two-level
    * decomposition instead: hash space is cut into `nBuckets` ranges
    * (`grp = h DIV width`, monotone in `h`, so bucket order extends hash
    * order); per-(source, bucket) token/doc totals — a `nSources ×
    * nBuckets` summary, map-side combined — get prefix-summed by one tiny
    * window, then join back (no broadcast hint, same rationale as q52)
    * and a per-bucket window adds the local running sum to the bucket
    * offset. Every window partition is corpus/nBuckets-bounded; raise
    * `nBuckets` with corpus size.
    */
  /** Training-shard writer (q78): the pipeline's final stage — every
    * document is assigned a deterministic shard (`hash60(doc_id) %
    * nShards`: seedless, engine-reproducible, uniform in expectation so
    * shards are size-balanced without a plan-side balance pass), the
    * corpus is REALLY written as shard-partitioned parquet (ONE shuffle,
    * keyed on the shard id, so each shard lands as one file per reducer
    * — the layout a training loader wants), and the returned per-shard
    * manifest (doc/token counts, id range, content checksum) is computed
    * from the READ-BACK files, so the oracle compare certifies the full
    * write -> read round trip, not just the assignment arithmetic.
    *
    * At 100 TB this is the same plan: one hash shuffle on a tiny key,
    * writers stream partition-local, the manifest aggregate combines
    * map-side to nShards rows. The checksum folds each doc's
    * `hash60(text) % 1e9+7` so the sum stays far under BIGINT even at
    * 10^12 docs (ANSI-mode safe).
    *
    * `keepDir` (tests) writes to the given directory and leaves it on
    * disk; the default writes to a [[graft.io.Scratch.withWorkDir]] and
    * collects the manifest before the directory goes.
    */
  def trainingShards(s: SparkSession, dir: String, nShards: Int = 32,
                     keepDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents")
      .withColumn("shard", expr("hash60(cast(doc_id as string))") % nShards)
    def manifest(work: String): DataFrame = {
      val outDir = s"$work/shards"
      docs.repartition(nShards, $"shard")
        .write.partitionBy("shard").mode("overwrite").parquet(outDir)
      s.read.parquet(outDir)
        .groupBy($"shard".cast("long").as("shard"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(size(split($"text", " "))).cast("long").as("n_tokens"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
          sum(expr("hash60(text) % 1000000007")).as("content_sum"))
        .orderBy($"shard")
    }
    keepDir match {
      case Some(d) => manifest(d)
      case None => graft.io.Scratch.withWorkDir("q78_shards") { work =>
        graft.io.Scratch.collected(manifest(work.toString)).orderBy($"shard")
      }
    }
  }

  /** Deterministic train/val/test split manifest (q80): every document
    * hashes to a bucket in [0, 100) via the engine's content hash over
    * its id — seedless and engine-reproducible, so ANY worker (or any
    * future rerun over a grown corpus) assigns the same document to the
    * same split with no coordination, the property a 100 TB pipeline
    * needs to split without a shuffle or a stored assignment table.
    * Buckets < 90 train, < 95 val, else test.
    *
    * Emits the per-(split, source) MANIFEST rather than the raw
    * assignment stream: doc/token counts plus an order-free id checksum
    * (sum of hash60(doc_id) mod p) — the checksum certifies the exact
    * membership of every cell (a single doc in the wrong split moves two
    * cell checksums), so the oracle compare covers each assignment while
    * the output stays nSplits × nSources rows at any SF. One map-side-
    * combined aggregation; the assignment itself never shuffles.
    */
  def splitManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", $"source", $"text",
        (expr("hash60(cast(doc_id as string))") % 100).as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train").when($"bucket" < 95, "val")
          .otherwise("test"))
      .groupBy($"split", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split($"text", " "))).cast("long").as("n_tokens"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        sum(expr("hash60(cast(doc_id as string)) % 1000000007")).as("id_sum"))
      .orderBy($"split", $"source")
  }

  /** Curriculum binning (q102): every doc assigned to one of `nBins`
    * difficulty deciles — the ordering stage of curriculum training — with
    * per-bin doc/token budgets out. Difficulty is integer-scaled mean word
    * length (`sumlen * 1e6 div ntok`), tie-broken by doc_id.
    *
    * The contract is exact ntile() semantics WITHOUT the global
    * single-partition window ntile() plans (a no-PARTITION window pulls
    * 100 TB through one task). Distributed rank instead: per-key counts
    * (the key grid is (sumlen, ntok) combinations — vocab-bounded, NOT
    * corpus-bounded), a tiny ordered window over that grid for cumulative
    * offsets, broadcast back, then a dkey-PARTITIONED row_number. The
    * SQL-standard ntile split (first N mod b buckets take one extra row)
    * is then integer arithmetic on the global rank, and the oracle's real
    * ntile() hash-matches it.
    */
  def curriculumBins(s: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    import s.implicits._
    difficultyRanked(s, dir, nBins)
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"ntok").as("sum_ntok"),
        min($"dkey").as("min_dkey"), max($"dkey").as("max_dkey"))
      .orderBy($"bin")
  }

  /** Per-doc global difficulty decile, shared by q102 (curriculum bins)
    * and q131 (per-source calibration matrix): the exact-ntile rank
    * without a global single-partition window — per-dkey counts +
    * prefix-sum offsets over the vocab-bounded key grid, a
    * dkey-PARTITIONED row_number, and the SQL ntile formula recomputed
    * from the global rank.
    */
  private[graft] def difficultyRanked(s: SparkSession, dir: String,
                                      nBins: Int): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = table(s, dir, "documents")
      .select($"doc_id", $"source",
        size(split($"text", " ")).cast("long").as("ntok"),
        (length($"text") - size(split($"text", " ")) + 1).cast("long").as("sumlen"))
      .withColumn("dkey", expr("sumlen * 1000000 div ntok"))
    val wOff = Window.orderBy($"dkey").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy($"dkey").agg(count(lit(1)).as("kn"))
      .withColumn("off", coalesce(sum($"kn").over(wOff), lit(0L)))
      .select($"dkey", $"off")
    val total = docs.agg(count(lit(1)).as("n_total"))
    val wLoc = Window.partitionBy($"dkey").orderBy($"doc_id")
    val ranked = docs.join(broadcast(offsets), "dkey")
      .withColumn("rk", $"off" + row_number().over(wLoc))
      .crossJoin(broadcast(total))
    // SQL ntile from global rank rk (1-based): with q = N div b,
    // rem = N mod b, the first rem buckets hold q+1 rows. greatest(q,1)
    // keeps the never-taken else-branch division defined when N < b.
    val bin = expr(
      s"""CASE WHEN rk <= (n_total % $nBins) * (n_total div $nBins + 1)
         |  THEN (rk - 1) div (n_total div $nBins + 1) + 1
         |  ELSE n_total % $nBins +
         |    (rk - (n_total % $nBins) * (n_total div $nBins + 1) - 1)
         |      div greatest(n_total div $nBins, 1L) + 1
         |END""".stripMargin)
    ranked.withColumn("bin", bin)
  }

  /** Per-source calibration matrix (q131): where each source's mass lands
    * on the GLOBAL difficulty deciles — the table that turns "filter the
    * bottom 20% globally" into per-source expectations, and the matrix
    * form of q123's scalar PSI (PSI says A source drifted; this says
    * INTO WHICH deciles). share = n/(source total) is an exact integer
    * rational, one double division. Machinery is q102's distributed
    * exact-ntile rank; only the final rollup differs.
    */
  def sourceCalibration(s: SparkSession, dir: String, nBins: Int = 10): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    difficultyRanked(s, dir, nBins)
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"))
      // per-source total via a window over the (sources x bins)-bounded
      // aggregate — a second pass over docs would rescan the corpus
      .withColumn("src_total", sum($"n_docs").over(Window.partitionBy($"source")))
      .select($"source", $"bin", $"n_docs",
        graft.Tables.round6($"n_docs".cast("double") / $"src_total".cast("double"))
          .as("share"))
      .orderBy($"source", $"bin")
  }

  def tokenBudgetMix(s: SparkSession, dir: String, budget: Long = 800L,
                     nBuckets: Int = 64): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val width = math.max((1L << 60) / nBuckets, 1L)
    val docs = table(s, dir, "documents")
      .select($"source", $"doc_id",
        expr("hash60(cast(doc_id as string))").as("h"),
        size(split($"text", " ")).cast("long").as("ntok"))
      .withColumn("grp", expr(s"h DIV ${width}L"))
    val wOff = Window.partitionBy($"source").orderBy($"grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy($"source", $"grp")
      .agg(sum($"ntok").as("btok"), count(lit(1)).as("bdocs"))
      .withColumn("tok_off", coalesce(sum($"btok").over(wOff), lit(0L)))
      .withColumn("doc_off", coalesce(sum($"bdocs").over(wOff), lit(0L)))
      .select($"source", $"grp", $"tok_off", $"doc_off")
    val wLoc = Window.partitionBy($"source", $"grp").orderBy($"h", $"doc_id")
    docs.join(offsets, Seq("source", "grp"))
      .withColumn("cum_tok", $"tok_off" +
        sum($"ntok").over(wLoc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("mix_rank", ($"doc_off" + row_number().over(wLoc)).cast("long"))
      .withColumn("keep", ($"cum_tok" <= budget).as("keep"))
      .select($"source", $"doc_id", $"mix_rank", $"ntok", $"cum_tok", $"keep")
      .orderBy($"source", $"mix_rank")
  }

  /** Length-bucketed inference batching profile (q128): group sequences
    * into token-length buckets (width 64) and report what padding to the
    * bucket's max length would waste — the number that decides the bucket
    * grid for batched inference/training (q52 packs to a BUDGET; this
    * profiles the pad-to-max regime). pad_frac = (n·max − sum)/(n·max) is
    * an exact integer rational, one double division.
    *
    * One scan, map-side combine into a length-vocabulary-bounded grid;
    * nothing after the groupBy scales with the corpus.
    */
  def paddingWaste(s: SparkSession, dir: String, width: Long = 64L): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select(size(split($"text", " ")).cast("long").as("ntok"))
      .select(expr(s"ntok div $width").as("bucket"), $"ntok")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_seqs"), sum($"ntok").as("sum_tok"),
        max($"ntok").as("max_tok"))
      .select($"bucket", $"n_seqs", $"sum_tok", $"max_tok",
        graft.Tables.round6(
          (($"n_seqs" * $"max_tok" - $"sum_tok")).cast("double") /
            ($"n_seqs" * $"max_tok").cast("double")).as("pad_frac"))
      .orderBy($"bucket")
  }

  /** Split-leakage audit (q156): near-duplicate pairs (q21's
    * exact-verified minhash detector) that STRADDLE q80's train/val/test
    * boundary — the contamination a random split always creates when
    * the corpus has near-dups ("test doc whose twin is in train" is the
    * classic eval inflation). One row per (split_a ≤ split_b) cell with
    * the pair count and a leaked flag — the full 3×3 upper matrix, so
    * the in-split diagonal sizes the dedup problem while the
    * off-diagonal IS the leak.
    *
    * Scale shape: the pair frame is the memoized q21 detector (bands →
    * verify — never quadratic); split assignment is the q80 seedless
    * hash rule recomputed per doc (coordination-free, no manifest
    * join); rollup is ≤ 6 rows.
    */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def splitOf(name: String) = {
      val b = expr(s"hash60(cast($name as string))") % 100
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    }
    val pairs = TextDedup.minhashLshPairs(s, dir)
      .select($"doc_a", $"doc_b",
        splitOf("doc_a").as("sa"), splitOf("doc_b").as("sb"))
    pairs
      .select(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("leaked", $"split_a" =!= $"split_b")
      .orderBy($"split_a", $"split_b")
  }

  /** Deterministic negative sampling for contrastive training (q174):
    * each document draws `negK` pseudo-random partners by hashing
    * (doc_id, draw index) into the id space — the in-batch-negatives /
    * DPO-pair generator, seedless like every sampler here (q44/q80/
    * q118): any engine, any run, any backfill regenerates the same
    * pairs. Accidental self-draws are skipped (the standard rejection;
    * the row simply doesn't emit, so ~1/n of draws vanish rather than
    * biasing toward self). Ids that miss (sparse id space) drop in the
    * join — on the dense generator ids every draw lands.
    *
    * Scale shape: 3 rows per doc, one equi-join on the drawn id to
    * fetch the negative's metadata (shuffle on ids, corpus-linear); the
    * id-space size is one scalar agg. No candidate list materializes.
    */
  def negativeSamples(s: SparkSession, dir: String, negK: Int = 3): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select($"doc_id", $"source")
    val n = d.agg(max($"doc_id")).head.getLong(0) + 1 // id-space bound, one scalar
    val draws = d
      .select($"doc_id", $"source".as("pos_source"),
        explode(expr(s"sequence(1, $negK)")).as("j"))
      .withColumn("neg_id",
        expr(s"hash60(concat(cast(doc_id as string), '#', cast(j as string))) % ${n}L"))
      .where($"neg_id" =!= $"doc_id")
    draws.join(d.select($"doc_id".as("neg_id"), $"source".as("neg_source")), Seq("neg_id"))
      .select($"doc_id", $"j".cast("long").as("j"), $"neg_id", $"pos_source", $"neg_source")
      .orderBy($"doc_id", $"j")
  }
}
