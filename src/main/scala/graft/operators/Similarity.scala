package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.table

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cosine arithmetic discipline: both engines cast float32 -> double
  * element-wise, then fold products/squares in index order, so the doubles
  * are bit-identical to the DuckDB oracle (a plain ascending-index loop is
  * the same fold).
  *
  * Kernels run on primitive double arrays inside `mapPartitions` /
  * grouped kernels — the interpreted higher-order-function path
  * (`zip_with` + `aggregate`) costs ~20x on the pair loop. Nothing
  * corpus-sized is ever collected or broadcast: exact all-pairs runs over
  * block-partitioned groups, brute-force top-k chunks its query side, and
  * the LSH/IVF generators keep the candidate count near-linear.
  */
object Similarity {

  /** (vec_id, v as double[], norm) rows — the shared input shape. */
  private def vecDs(s: SparkSession, dir: String) = {
    import s.implicits._
    table(s, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var i = 0; var ss = 0.0
        while (i < v.length) { ss += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(ss))
      }
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var i = 0; var acc = 0.0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Normalize a user query set — any frame with `(vec_id, embedding)`
    * columns, the embeddings-table shape — into the internal
    * `(id, double[], norm)` rows. Queries need not exist in the corpus;
    * ids that do exist are excluded from their own neighbor lists.
    */
  private[graft] def queryDs(s: SparkSession, queries: DataFrame): Dataset[(Long, Array[Double], Double)] = {
    import s.implicits._
    queries
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      // a query frame with repeated vec_id rows (e.g. produced by a join)
      // would otherwise broadcast the id twice and corrupt the top-k
      // ranking with duplicate neighbor rows; one row per id wins (ids
      // with CONFLICTING embeddings keep an arbitrary one — supply
      // unique ids if that matters)
      .dropDuplicates(Seq("vec_id"))
      .as[(Long, Array[Double])]
      .map { case (id, v) =>
        var i = 0; var ss = 0.0
        while (i < v.length) { ss += v(i) * v(i); i += 1 }
        (id, v, math.sqrt(ss))
      }
  }

  /** The harness's benchmark query set: every corpus vector whose id is
    * divisible by 100 (~1%). This CONVENTION lives here in the callers —
    * the operators themselves take any `queries` frame.
    */
  private[graft] def harnessQueries(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "embeddings").where($"vec_id" % 100 === 0)
      .select($"vec_id", $"embedding")
  }

  /** Brute-force cosine top-k with the harness's %100 query convention. */
  def annBruteForce(s: SparkSession, dir: String, k: Int = 5,
                    queryChunk: Int = 512): DataFrame =
    annBruteForce(s, dir, harnessQueries(s, dir), k, queryChunk)

  /** Brute-force cosine top-k over an arbitrary query set: rank every
    * corpus vector (minus the query itself) by cosine, ties by vec_id.
    * `queries` is any frame with `(vec_id, embedding)` columns. The query
    * side is processed in fixed-size chunks — each chunk (and only that
    * chunk) is collected and broadcast, the corpus streams through
    * partition-local score loops, and only (query, candidate, score)
    * scalars shuffle into the per-query top-k window. Driver memory is
    * O(queryChunk) VECTORS plus 8 B per query id (the id list is
    * collected once to define the chunk boundaries — 1e8 queries is
    * 800 MB of driver ids, the practical ceiling of this baseline); the
    * query vectors never materialize at once. Brute force is the exact
    * baseline — `annIvf`/`annLsh` are the paths that also bound the
    * compare work at 100 TB.
    */
  def annBruteForce(s: SparkSession, dir: String, queries: DataFrame,
                    k: Int, queryChunk: Int): DataFrame = {
    import s.implicits._
    // cache the corpus: the chunk loop would otherwise rescan the parquet
    // for every scoring pass; cached, the file is read once and spills to
    // executor storage if the corpus outgrows memory. Memoized: a repeat
    // query reuses the live cache, a new dir releases the previous one.
    val vecs = OpCache.dataset("annBruteForce", s, dir)(vecDs(s, dir))
    // the query set is chunk-collected below, so cache it across the
    // per-chunk collects (ids pass + one vectors pass per chunk);
    // released before returning — the broadcasts own the data after that
    val qds = queryDs(s, queries).cache()
    // collect query IDS only (8 bytes each — the vectors stay distributed)
    // and chunk by rank in the sorted id list: each broadcast is genuinely
    // bounded by queryChunk whatever the id distribution (chunking by
    // id arithmetic only bounded it for dense ids)
    val queryIds = qds.map(_._1).collect().sorted
    if (queryIds.isEmpty) {
      qds.unpersist()
      // nothing will ever read the cache on this path — release entry AND
      // storage together, so a later non-empty call rebuilds a real cache
      // instead of memo-hitting an unpersisted Dataset
      OpCache.release("annBruteForce")
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rank", "neighbor_id", "cosine")
    }
    // one scoring RDD per chunk, fused into ONE plan leaf via
    // sparkContext.union: the old perChunk.reduce(unionAll) of
    // per-chunk DataFrames grew the Catalyst plan linearly with query
    // count (thousands of union branches + windows to analyze at 1%
    // queries of a large corpus); a UnionRDD is O(1) plan nodes however
    // many chunks, and the RDD DAG itself is cheap. Each chunk still
    // collects/broadcasts only its own query vectors, and each query
    // lives in exactly one chunk, so the single window below sees every
    // (query, candidate) score — same results, flat plan.
    val vecRdd = vecs.rdd // reads the Dataset cache (InMemoryRelation)
    val chunkRdds = queryIds.grouped(queryChunk).toSeq.map { ids =>
      val idSet = ids.toSet
      val chunk = qds.filter(t => idSet.contains(t._1)).collect()
      val bq = s.sparkContext.broadcast(chunk)
      vecRdd.mapPartitions { it =>
        val qs = bq.value
        it.flatMap { case (id, v, n) =>
          qs.iterator.collect { case (qid, qv, qn) if qid != id =>
            (qid, id, dot(v, qv) / (n * qn))
          }
        }
      }
    }
    qds.unpersist()
    s.createDataset(s.sparkContext.union(chunkRdds))
      .toDF("query_id", "neighbor_id", "cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id".asc)))
      .where($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"neighbor_id",
        graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** k-NN majority-vote classification (q71): each query's label is the
    * mode of its k exact nearest neighbors' labels, ties broken toward
    * the smallest label — the standard retrieval-quality probe for an
    * embedding space (and the shape of kNN-LM/RETRO-style lookups). Built
    * directly on [[annBruteForce]]'s top-k — the vote adds one Q·k-sized
    * aggregate and a per-query argmax window, both tiny next to the
    * scoring pass; swap in `annIvf`/`annLsh` candidates for the bounded
    * 100 TB path. The neighbor→label join broadcasts the Q·k knn side
    * into the corpus-sized label scan, not the reverse.
    */
  def knnClassify(s: SparkSession, dir: String, k: Int = 5,
                  queryChunk: Int = 512): DataFrame =
    knnClassifyFrom(s, dir, annBruteForce(s, dir, k, queryChunk))

  /** ANN-fed kNN classification (q94): the same vote tail fed by
    * [[annIvfKmeans]]'s probe-bounded neighbors instead of the exact
    * O(N·Q) scan — the registered 100 TB path for label lookup. With
    * the default 8-of-64 learned cells each query compares against
    * ~12.5% of the corpus (the IVF contract; codebook + inverted file
    * are memoized, so steady-state cost is probe + in-cell search
    * only). Exactness is the traded dimension, so this is rows-only
    * under the driver and spec-gated instead (`SimilarityRecallSpec`:
    * probe-all reproduces q71's exact vote bit-for-bit; the bounded
    * default's label agreement is gated with margin above the random
    * floor). Probe-bounded IVF covers every query, so the output keys
    * q71's exactly.
    */
  def knnClassifyIvf(s: SparkSession, dir: String, k: Int = 5,
                     nCells: Int = 64, nProbe: Int = 8,
                     iters: Int = 5): DataFrame =
    knnClassifyFrom(s, dir, annIvfKmeans(s, dir, harnessQueries(s, dir),
      k, nCells, nProbe, iters))

  /** The vote tail of [[knnClassify]] over ANY neighbor frame with
    * `(query_id, neighbor_id)` columns — the pluggable seam that makes
    * the classifier scale: the default feeds it [[annBruteForce]]'s exact
    * top-k (the recall-1 baseline, O(N·Q) compares), while a 100 TB
    * deployment feeds it `annIvf(s, dir, queries, k, nProbe)` or
    * `annLsh(...)` so the scan work is bounded by the index's probe
    * budget. Same vote, same tie-break, whatever produced the neighbors
    * (`SimilarityRecallSpec` gates the IVF-fed variant's agreement with
    * the exact vote).
    *
    * Contract: output has one row per query_id PRESENT in the neighbor
    * frame. An index that returns zero candidates for a query (possible
    * under `annLsh` when a sparse/outlier vector shares no band with the
    * corpus) yields no prediction row — callers needing an explicit
    * no-prediction marker left-join this result back onto their query
    * frame. Brute-force and probe-bounded IVF feeds always cover every
    * query.
    */
  def knnClassifyFrom(s: SparkSession, dir: String, knn: DataFrame): DataFrame = {
    import s.implicits._
    val labels = table(s, dir, "embeddings")
      .select($"vec_id".as("neighbor_id"), $"label".cast("long").as("label"))
    knn.join(labels, "neighbor_id")
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy($"query_id").orderBy($"votes".desc, $"label".asc)))
      .where($"vr" === 1)
      .select($"query_id", $"label".as("pred_label"), $"votes")
      .orderBy($"query_id")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold over the upper
    * triangle, computed exactly via block-partitioned pairs. Vectors hash
    * to one of B blocks by id; each of the B(B+1)/2 unordered block pairs
    * is one shuffle group holding its two blocks' vectors, the pair kernel
    * runs inside the group, and only surviving pairs leave the executor.
    * Shuffle volume is N*B rows, per-group memory is 2N/B vectors (B is
    * the executor-fit knob), and driver state is zero — both the
    * broadcast-the-corpus and the all-pairs-join shapes die at 100 TB.
    *
    * The exact-compare work is inherently quadratic here: measured on the
    * test embeddings, the nearest non-pair cosine is 0.4497 against the
    * 0.45 threshold, so no LSH banding reaches recall 1.0 with
    * sub-quadratic candidates (16 hyperplanes catch 5/14 true pairs).
    * For genuinely near-duplicate thresholds (>= ~0.8) feed `annLsh`
    * band candidates into this same exact check instead.
    */
  def cosineNearDupPairs(s: SparkSession, dir: String, threshold: Double = 0.45,
                         blocks: Int = 16): DataFrame = {
    // memoized like minhashLshPairs: q23 and the q155 eval both consume
    // this exact-quadratic frame — without the memo each paid the full
    // all-pairs pass (110 s at sf10 for q155 alone, BENCH_NOTES)
    OpCache.dataset("cosineExactPairs", s, dir, s"$threshold/$blocks")(
      cosineNearDupPairsUncached(s, dir, threshold, blocks))
  }

  private def cosineNearDupPairsUncached(s: SparkSession, dir: String,
                                         threshold: Double,
                                         blocks: Int): DataFrame = {
    import s.implicits._
    val vecs = vecDs(s, dir)
    val tagged = vecs.flatMap { case (id, v, n) =>
      val b = math.floorMod(id, blocks).toInt
      (0 until blocks).iterator.map { o =>
        (math.min(b, o), math.max(b, o), id, v, n, b)
      }
    }
    val pairs = tagged
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Long, Array[Double], Double, Int)]) =>
        val rows = it.map(t => (t._3, t._4, t._5, t._6)).toArray.sortBy(_._1)
        blockPairKernel(rows, key._1, key._2, threshold)
      }.toDF("vec_a", "vec_b", "cosine")
    pairs
      .select($"vec_a", $"vec_b", graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Exact-cosine pair scoring over one (block bi, block bj) group of
    * `(id, v, nrm, block)` rows sorted by id. Ownership rule shared by
    * the exhaustive q23 search and q42's bucket-local verify: the
    * (bi, bi) group owns within-block pairs, bi < bj groups own exactly
    * the cross-block pairs — each pair scored once per group.
    */
  private def blockPairKernel(rows: Array[(Long, Array[Double], Double, Int)],
                              bi: Int, bj: Int,
                              threshold: Double): Iterator[(Long, Long, Double)] =
    Iterator.tabulate(rows.length) { i =>
      val (ida, va, na, ba) = rows(i)
      Iterator.range(i + 1, rows.length).flatMap { j =>
        val (idb, vb, nb, bb) = rows(j)
        if (bi != bj && ba == bb) Iterator.empty
        else {
          val c = dot(va, vb) / (na * nb)
          if (c >= threshold) Iterator((ida, idb, c)) else Iterator.empty
        }
      }
    }.flatten

  /** IVF-style ANN: a coarse quantizer (here: per-label centroids — the
    * stand-in for a k-means codebook, computed as elementwise means) maps
    * each query to its nProbe nearest cells; only those cells' vectors are
    * scored exactly. The inverted-file structure is the 100 TB path when
    * LSH recall is insufficient: the corpus partitions/buckets by cell id,
    * a probe touches nProbe cells, and the exact re-rank is bounded.
    * Centroid means go through DECIMAL sums so parallel aggregation order
    * cannot perturb the doubles (the oracle reproduces them exactly).
    */
  def annIvf(s: SparkSession, dir: String, k: Int = 5, nProbe: Int = 2): DataFrame =
    annIvf(s, dir, harnessQueries(s, dir), k, nProbe)

  /** [[annIvf]] over an arbitrary `(vec_id, embedding)` query frame —
    * queries need not live in the corpus; the probe picks their nProbe
    * nearest cells by centroid cosine exactly as for corpus vectors.
    */
  def annIvf(s: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val vecs = table(s, dir, "embeddings")
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", sqrt(aggregate(transform($"v", x => x * x), lit(0.0), _ + _)))
    // build: elementwise DECIMAL-exact centroid per label (the codebook)
    val cents = vecs
      .select($"label", posexplode($"v"))
      .groupBy($"label", $"pos")
      .agg((sum(col("col").cast(DecimalType(25, 12))).cast(DecimalType(30, 12)).cast("double")
        / count(lit(1))).as("c"))
      .groupBy($"label")
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), x -> x.c)").as("cv"))
      .withColumn("cn", sqrt(aggregate(transform($"cv", x => x * x), lit(0.0), _ + _)))
    ivfSearch(s,
      vecs.select($"label".as("cell"), $"vec_id", $"v", $"nrm"),
      cents.select($"label".as("cell"), $"cv", $"cn"),
      queryDs(s, queries).toDF("query_id", "qv", "qn"), k, nProbe)
  }

  /** The IVF probe + search shared by the per-label (q35) and learned
    * k-means (q53) quantizers: queries pick their nProbe nearest cells by
    * centroid cosine (deterministic tie-break on cell), then exact cosine
    * re-ranks inside the probed cells only — scored by the primitive-array
    * kernel (same index-order fold as the HOF form and the oracle's
    * list_reduce, ~20x cheaper in the hot loop). `assigned` is the
    * inverted file (cell, vec_id, v, nrm); `cents` the codebook
    * (cell, cv, cn); `queries` the (query_id, qv, qn) probe set.
    */
  private def ivfSearch(s: SparkSession, assigned: DataFrame, cents: DataFrame,
                        queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import s.implicits._
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("csim",
        aggregate(zip_with($"qv", $"cv", _ * _), lit(0.0), _ + _) / ($"qn" * $"cn"))
      .withColumn("crk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"csim".desc, $"cell".asc)))
      .where($"crk" <= nProbe)
      .select($"query_id", $"cell", $"qv", $"qn")
    probed.join(assigned, Seq("cell"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"qv", $"qn", $"v", $"nrm")
      .as[(Long, Long, Array[Double], Double, Array[Double], Double)]
      .mapPartitions(_.map { case (q, id, qv, qn, v, n) => (q, id, dot(v, qv) / (n * qn)) })
      .toDF("query_id", "vec_id", "cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id".asc)))
      .where($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id".as("neighbor_id"),
        graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Deterministic k-means codebook over the embeddings — the LEARNED
    * quantizer behind [[annIvfKmeans]] (q35's per-label centroids are the
    * metadata stand-in; this is the real index-build path when no label
    * exists). No RNG anywhere, so the codebook is identical on any
    * partitioning/cluster:
    *
    *  - training set: the `256 * nCells` rows with the smallest
    *    `hash60(vec_id)` — the engine's seedless-sampling idiom (same
    *    hash ordering as `Pipeline.stratifiedSample`), extracted in ONE
    *    corpus pass (a TakeOrdered) and collected to the driver (bounded:
    *    <= 256·k × dim doubles, ~8 MB at the 64-cell default). 256 points
    *    per centroid is the standard coarse-quantizer training budget
    *    (FAISS caps k-means training the same way); corpora smaller than
    *    the cap train on everything, unchanged.
    *  - init: farthest-point greedy (Gonzalez) over the sample, seeded at
    *    the vector with the smallest `hash60(vec_id)` — the hash supplies
    *    the arbitrary but reproducible starting choice, each next center
    *    is the sample vector least similar to its nearest chosen center
    *    (ties: smaller vec_id);
    *  - `iters` fixed Lloyd rounds over the sample: assign by max centroid
    *    cosine (ties: smaller cell), recompute elementwise means by a
    *    sequential fold in vec_id order — the DECIMAL sums of the
    *    distributed form existed solely to make PARALLEL aggregation
    *    order-free; a single-threaded loop over a sorted array is already
    *    bit-deterministic. An emptied cell keeps its previous centroid.
    *
    * Scale shape: the index build is O(1) corpus passes — one sample
    * extraction here plus the one final `assignCells` pass the caller
    * runs — however large the corpus; the k×dim codebook and the
    * 256·k-row training set are the only driver state. (The previous
    * shape ran Gonzalez+Lloyd distributed over the FULL corpus: k-1
    * serial broadcast+scan jobs — the index build that never finishes at
    * 100 TB.) Returns (cell -> (centroid, norm)).
    */
  private[graft] def kmeansCodebook(s: SparkSession, dir: String,
                                    nCells: Int, iters: Int): Array[(Int, Array[Double], Double)] = {
    // memoized like the LSH signatures (annLshSigs): the codebook is
    // deterministic derived data — k x dim doubles — so repeated queries
    // reuse the built index instead of re-running the k-means jobs
    // (2.0 s -> probe-only at sf0.1, measured). A few KB per entry.
    OpCache.value(s"kmeansCodebook|$nCells|$iters", s, dir)(
      buildKmeansCodebook(s, dir, nCells, iters))
  }

  private def buildKmeansCodebook(s: SparkSession, dir: String,
                                  nCells: Int, iters: Int): Array[(Int, Array[Double], Double)] = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    // the ONE corpus pass of the build: TakeOrdered by (hash60, vec_id)
    // bounds the training set whatever the corpus size
    val ordered = vecs
      .withColumn("h", expr("hash60(cast(vec_id as string))"))
      .orderBy($"h".asc, $"vec_id".asc)
      .limit(256 * nCells)
      .select($"vec_id", $"v", $"nrm")
      .as[(Long, Array[Double], Double)]
      .collect()
    val seed = ordered.head // smallest (hash60, vec_id): the reproducible start
    val sample = ordered.sortBy(_._1) // fixed fold/tie order for every pass below
    val dim = seed._2.length
    // Gonzalez init, incremental: each point tracks its best cosine to any
    // chosen center and refreshes only against the newest one, so init is
    // O(nCells * sample * dim) total, not quadratic in nCells
    val centers = scala.collection.mutable.ArrayBuffer[(Array[Double], Double)]((seed._2, seed._3))
    val bestSim = Array.fill(sample.length)(-2.0)
    while (centers.length < nCells) {
      val (cv, cn) = centers.last
      var worstIdx = 0; var worst = 2.0
      var i = 0
      while (i < sample.length) {
        val c = dot(sample(i)._2, cv) / (sample(i)._3 * cn)
        if (c > bestSim(i)) bestSim(i) = c
        // strict < keeps the FIRST minimum in vec_id order = smaller vec_id
        if (bestSim(i) < worst) { worst = bestSim(i); worstIdx = i }
        i += 1
      }
      centers += ((sample(worstIdx)._2, sample(worstIdx)._3))
    }
    var cents: Array[(Int, Array[Double], Double)] =
      centers.toArray.zipWithIndex.map { case ((v, n), i) => (i, v, n) }
    var round = 0
    while (round < iters) {
      // local Lloyd round: assign (max cosine, ties smaller cell — the
      // assignCells rule), then elementwise means folded in vec_id order
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val counts = new Array[Long](nCells)
      var i = 0
      while (i < sample.length) {
        val (_, v, n) = sample(i)
        var bestCell = cents(0)._1; var best = -2.0; var j = 0
        while (j < cents.length) {
          val c = dot(v, cents(j)._2) / (n * cents(j)._3)
          if (c > best || (c == best && cents(j)._1 < bestCell)) { best = c; bestCell = cents(j)._1 }
          j += 1
        }
        val sv = sums(bestCell); var d = 0
        while (d < dim) { sv(d) += v(d); d += 1 }
        counts(bestCell) += 1
        i += 1
      }
      cents = cents.map { case (cell, oldV, oldN) =>
        if (counts(cell) == 0L) (cell, oldV, oldN) // emptied cell keeps its centroid
        else {
          val v = new Array[Double](dim)
          var ss = 0.0; var d = 0
          while (d < dim) { v(d) = sums(cell)(d) / counts(cell); ss += v(d) * v(d); d += 1 }
          (cell, v, math.sqrt(ss))
        }
      }
      round += 1
    }
    cents
  }

  /** Hard assignment of each corpus vector to its max-cosine cell
    * (ties: smaller cell id) — one broadcast + one kernel pass.
    */
  private[graft] def assignCells(s: SparkSession, vecs: DataFrame,
                          cents: Array[(Int, Array[Double], Double)]): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    vecs.select($"vec_id", $"v", $"nrm").as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, v, n) =>
          var bestCell = cs(0)._1; var best = -2.0; var i = 0
          while (i < cs.length) {
            val c = dot(v, cs(i)._2) / (n * cs(i)._3)
            if (c > best || (c == best && cs(i)._1 < bestCell)) { best = c; bestCell = cs(i)._1 }
            i += 1
          }
          (bestCell, id, v, n)
        }
      }.toDF("cell", "vec_id", "v", "nrm")
  }

  /** Multi-probe generalization of [[assignCells]]: one row per (vector,
    * probe) for the vector's top-`p` cells by cosine, ties to the smaller
    * cell id — rank 0 reproduces assignCells' primary cell exactly.
    * The q77 recall knob: near-uniform embeddings split near-dup pairs
    * across single cells; overlapping membership recovers them at
    * ~p^2 compare cost.
    */
  private def assignCellsTopP(s: SparkSession, vecs: DataFrame,
                              cents: Array[(Int, Array[Double], Double)],
                              p: Int): DataFrame = {
    import s.implicits._
    val bc = s.sparkContext.broadcast(cents)
    vecs.select($"vec_id", $"v", $"nrm").as[(Long, Array[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (id, v, n) =>
          cs.map(c => (dot(v, c._2) / (n * c._3), c._1))
            .sortBy { case (c, cell) => (-c, cell) }
            .iterator.take(p).zipWithIndex
            .map { case ((_, cell), rk) => (cell, id, v, n, rk) }
        }
      }.toDF("cell", "vec_id", "v", "nrm", "rk")
  }

  /** ANN over a LEARNED IVF index (q53): deterministic k-means cells as
    * the inverted file, same probe/search as [[annIvf]]. Cell geometry is
    * engine-specific by design -> rows-only check; `SimilarityRecallSpec`
    * gates recall against exact brute force and bounds the scanned
    * fraction (the cost side), like q25.
    *
    * Defaults measured by a (cells, probes) sweep of this operator
    * (BENCH_NOTES "q53 recall/cost context") on the near-uniform test
    * embeddings (the adversarial geometry): 64 cells / 8 probes reach
    * recall@5 0.72 while scanning 12.5% of the corpus — a 5.8x lift over
    * blind scanning, vs 1.2x for 8 cells / 2 probes. Finer cells pay off
    * directly: halving the scan while doubling recall; the one-time
    * codebook build is ONE bounded sample-extraction pass + driver-local
    * training (see [[kmeansCodebook]]), memoized per session.
    */
  def annIvfKmeans(s: SparkSession, dir: String, k: Int = 5, nCells: Int = 64,
                   nProbe: Int = 8, iters: Int = 5): DataFrame =
    annIvfKmeans(s, dir, harnessQueries(s, dir), k, nCells, nProbe, iters)

  /** [[annIvfKmeans]] over an arbitrary `(vec_id, embedding)` query frame. */
  def annIvfKmeans(s: SparkSession, dir: String, queries: DataFrame, k: Int,
                   nCells: Int, nProbe: Int, iters: Int): DataFrame = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    if (vecs.isEmpty) // no corpus → no codebook to seed; mirror annBruteForce's empty contract
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rank", "neighbor_id", "cosine")
    val cents = kmeansCodebook(s, dir, nCells, iters)
    // the inverted file (cell assignments) is as deterministic as the
    // codebook — cache it alongside so steady-state queries pay probe +
    // in-cell search only, the IVF contract
    val assigned = OpCache.dataset(s"annIvfKmeansIdx|$nCells|$iters", s, dir)(
      assignCells(s, vecs, cents)).toDF("cell", "vec_id", "v", "nrm")
    val centsDf = cents.toSeq.toDF("cell", "cv", "cn")
    ivfSearch(s, assigned, centsDf,
      queryDs(s, queries).toDF("query_id", "qv", "qn"), k, nProbe)
  }

  /** Per-subspace product-quantization codebooks (Jégou, Douze, Schmid
    * 2011, "Product quantization for nearest neighbor search"): the
    * UNIT-NORMALIZED vector splits into `nSub` contiguous subvectors and
    * each subspace learns `nCodes` centroids by the same deterministic
    * sample-bounded k-means discipline as [[kmeansCodebook]] (hash60
    * training sample, Gonzalez init seeded at the smallest hash, fixed
    * Lloyd rounds, ties to the smaller index) — L2 in each subspace,
    * the PQ-standard objective. Memoized like the coarse codebook.
    * Returns pq(m)(code) = centroid subvector.
    */
  private def pqCodebooks(s: SparkSession, dir: String,
                          nSub: Int, nCodes: Int,
                          iters: Int): Array[Array[Array[Double]]] = {
    OpCache.value(s"pqCodebooks|$nSub|$nCodes|$iters", s, dir)(
      buildPqCodebooks(s, dir, nSub, nCodes, iters))
  }

  private def buildPqCodebooks(s: SparkSession, dir: String,
                               nSub: Int, nCodes: Int,
                               iters: Int): Array[Array[Array[Double]]] = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    // one bounded corpus pass: 64 training points per code (above the
    // FAISS 39-per-centroid floor), hash60-ordered for reproducibility
    val sample = vecs
      .withColumn("h", expr("hash60(cast(vec_id as string))"))
      .orderBy($"h".asc, $"vec_id".asc)
      .limit(64 * nCodes)
      .select($"vec_id", $"v", $"nrm")
      .as[(Long, Array[Double], Double)]
      .collect()
      .sortBy(_._1) // fixed fold/tie order
    // reachable via annIvfPqCodeWidths, which has no upstream
    // vecs.isEmpty guard — fail with the contract, not NoSuchElement
    require(sample.nonEmpty, s"PQ: empty embeddings corpus under $dir")
    val dim = sample.head._2.length
    require(dim % nSub == 0, s"PQ: dim $dim not divisible by $nSub subspaces")
    val subDim = dim / nSub
    def subvec(v: Array[Double], nrm: Double, m: Int): Array[Double] = {
      val out = new Array[Double](subDim)
      val inv = if (nrm == 0.0) 0.0 else 1.0 / nrm
      var i = 0
      while (i < subDim) { out(i) = v(m * subDim + i) * inv; i += 1 }
      out
    }
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var acc = 0.0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    Array.tabulate(nSub) { m =>
      val pts = sample.map { case (_, v, n) => subvec(v, n, m) }
      // Gonzalez init: seed at the hash-smallest sample point, each next
      // center is the point farthest (L2) from its nearest chosen center,
      // ties to the earlier index
      val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](pts.head)
      val bestD = Array.fill(pts.length)(Double.MaxValue)
      while (centers.length < math.min(nCodes, pts.length)) {
        val last = centers.last
        var worstIdx = 0; var worst = -1.0
        var i = 0
        while (i < pts.length) {
          val d = l2(pts(i), last)
          if (d < bestD(i)) bestD(i) = d
          if (bestD(i) > worst) { worst = bestD(i); worstIdx = i }
          i += 1
        }
        centers += pts(worstIdx)
      }
      var cents = centers.toArray
      var round = 0
      while (round < iters) {
        val sums = Array.fill(cents.length)(new Array[Double](subDim))
        val counts = new Array[Long](cents.length)
        var i = 0
        while (i < pts.length) {
          var best = 0; var bd = Double.MaxValue; var j = 0
          while (j < cents.length) {
            val d = l2(pts(i), cents(j))
            if (d < bd) { bd = d; best = j } // strict <: ties to smaller code
            j += 1
          }
          val sv = sums(best); var k = 0
          while (k < subDim) { sv(k) += pts(i)(k); k += 1 }
          counts(best) += 1
          i += 1
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0L) old
          else {
            val nv = new Array[Double](subDim)
            var k = 0
            while (k < subDim) { nv(k) = sums(c)(k) / counts(c); k += 1 }
            nv
          }
        }
        round += 1
      }
      cents
    }
  }

  /** The compressed inverted file behind [[annIvfPq]]: (cell, vec_id,
    * nSub-byte code) — encode once per corpus, memoized; this frame is
    * what the probe scan moves at 100 TB.
    */
  private def pqIndex(s: SparkSession, dir: String,
                      assigned: DataFrame,
                      bPq: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
                      subDim: Int, subKey: String): DataFrame = {
    import s.implicits._
    OpCache.dataset("annIvfPqIdx", s, dir, subKey)(
      encodePqCodes(s, assigned, bPq, subDim))
      .toDF("cell", "vec_id", "code")
  }

  /** The PQ encode kernel over an assigned `(cell, vec_id, v, nrm)`
    * frame — one partition-local pass, no shuffle. Shared by the batch
    * index build (via [[pqIndex]]'s memo) and [[AnnIndexStore.append]]'s
    * incremental encode, so the append path is bit-identical to a
    * rebuild with the same codebooks by construction. */
  private[graft] def encodePqCodes(s: SparkSession, assigned: DataFrame,
      bPq: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]],
      subDim: Int): Dataset[(Int, Long, Array[Byte])] = {
    import s.implicits._
    assigned.select($"cell", $"vec_id", $"v", $"nrm")
      .as[(Int, Long, Array[Double], Double)]
      .mapPartitions { it =>
        val cb = bPq.value
        it.map { case (cell, id, v, nrm) =>
          val code = new Array[Byte](cb.length)
          val inv = if (nrm == 0.0) 0.0 else 1.0 / nrm
          var m = 0
          while (m < cb.length) {
            val cs = cb(m)
            var best = 0; var bd = Double.MaxValue; var c = 0
            while (c < cs.length) {
              var d = 0.0; var i = 0
              while (i < subDim) {
                val x = v(m * subDim + i) * inv - cs(c)(i)
                d += x * x; i += 1
              }
              if (d < bd) { bd = d; best = c }
              c += 1
            }
            code(m) = best.toByte
            m += 1
          }
          (cell, id, code)
        }
      }
  }

  /** Distinct code widths (bytes per vector) in the PQ inverted file —
    * the recall spec's compression pin. */
  private[graft] def annIvfPqCodeWidths(s: SparkSession, dir: String,
      nCells: Int = 64, iters: Int = 5, nSub: Int = 8, nCodes: Int = 256,
      pqIters: Int = 3): Set[Int] = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    val cents = kmeansCodebook(s, dir, nCells, iters)
    val assigned = OpCache.dataset(s"annIvfKmeansIdx|$nCells|$iters", s, dir)(
      assignCells(s, vecs, cents)).toDF("cell", "vec_id", "v", "nrm")
    val pq = pqCodebooks(s, dir, nSub, nCodes, pqIters)
    val bPq = s.sparkContext.broadcast(pq)
    pqIndex(s, dir, assigned, bPq, pq(0)(0).length,
      s"$nCells|$iters|$nSub|$nCodes|$pqIters")
      .select(length($"code").cast("int"))
      .distinct().as[Int].collect().toSet
  }

  /** IVF-PQ ANN (q181): the 100 TB MEMORY shape — [[annIvfKmeans]]'s
    * coarse cells with the in-cell scan running over PRODUCT-QUANTIZED
    * codes (8 subspaces x 256 centroids = 8 bytes/vector, 64x less than
    * the 64 raw doubles) via asymmetric distance computation, then an
    * exact re-rank of a bounded ADC shortlist from the raw vectors —
    * the standard IVFPQ+refine serving stack (q53 scans raw doubles in
    * probed cells; q68 quantizes but nothing consumed it — this fuses
    * both seams). Per (query, partition) the ADC cost is one
    * nSub x nCodes lookup table (bounded by the query panel), then 8
    * adds per candidate instead of a 64-dim dot.
    *
    * Scale shape: index build is O(1) corpus passes (coarse codebook +
    * PQ codebooks from one bounded sample each, one assign+encode pass,
    * all memoized); the probe scan moves (cell, id, 8-byte code) rows
    * only; raw vectors are touched for queries x `kAdc` shortlist rows.
    * Estimates are engine-specific -> rows-only; SimilarityRecallSpec
    * gates recall@5 vs exact brute force, pins the 8-byte code width,
    * and checks probe-all-cells + corpus-wide shortlist reproduces the
    * exact top-k (ADC orders the shortlist, the refine makes it exact).
    */
  def annIvfPq(s: SparkSession, dir: String, k: Int = 5, nCells: Int = 64,
               nProbe: Int = 8, iters: Int = 5, nSub: Int = 8,
               nCodes: Int = 256, pqIters: Int = 3, kAdc: Int = 32): DataFrame =
    annIvfPq(s, dir, harnessQueries(s, dir), k, nCells, nProbe, iters,
      nSub, nCodes, pqIters, kAdc)

  /** [[annIvfPq]] over an arbitrary `(vec_id, embedding)` query frame. */
  def annIvfPq(s: SparkSession, dir: String, queries: DataFrame, k: Int,
               nCells: Int, nProbe: Int, iters: Int, nSub: Int,
               nCodes: Int, pqIters: Int, kAdc: Int): DataFrame = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    if (vecs.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("query_id", "rank", "neighbor_id", "cosine")
    val (cents, pq, codes) = ivfPqArtifacts(s, dir, nCells, iters, nSub, nCodes, pqIters)
    ivfPqServe(s, vecs, cents, pq, codes, queries, k, nProbe, kAdc)
  }

  /** Memoized raw-vector frame `(vec_id, v, nrm)` — the exact-refine
    * input shared by the in-session and artifact-served paths. */
  private[graft] def rawVecs(s: SparkSession, dir: String): DataFrame =
    OpCache.dataset("annIvfKmeans", s, dir)(vecDs(s, dir)).toDF("vec_id", "v", "nrm")

  /** The three artifacts an IVF-PQ index IS — coarse codebook, PQ
    * sub-codebooks, coded corpus `(cell, vec_id, code)` — built via the
    * per-session memos. [[AnnIndexStore.write]] persists exactly this
    * triple; [[ivfPqServe]] consumes it from either source.
    */
  private[graft] def ivfPqArtifacts(s: SparkSession, dir: String, nCells: Int,
      iters: Int, nSub: Int, nCodes: Int, pqIters: Int)
      : (Array[(Int, Array[Double], Double)], Array[Array[Array[Double]]], DataFrame) = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    val cents = kmeansCodebook(s, dir, nCells, iters)
    val assigned = OpCache.dataset(s"annIvfKmeansIdx|$nCells|$iters", s, dir)(
      assignCells(s, vecs, cents)).toDF("cell", "vec_id", "v", "nrm")
    val pq = pqCodebooks(s, dir, nSub, nCodes, pqIters)
    val codes = pqIndex(s, dir, assigned, s.sparkContext.broadcast(pq),
      pq(0)(0).length, s"$nCells|$iters|$nSub|$nCodes|$pqIters")
    (cents, pq, codes)
  }

  /** The probe → ADC → exact-refine serving pipeline over an EXPLICIT
    * index triple — the seam that separates index lifetime from query
    * lifetime: [[annIvfPq]] feeds it the per-session memoized build,
    * [[AnnIndexStore.serve]] feeds it artifacts loaded from parquet, and
    * both produce byte-identical results because this is the only
    * serving kernel.
    *
    * The probed cell set (bounded by `nCells`) is materialized
    * driver-side and pushed into the codes scan as an `IN` filter
    * BEFORE the join: over [[AnnIndexStore]]'s cell-partitioned parquet
    * that is partition PRUNING — a 100 TB serve reads only the
    * `nProbe`-per-query union of cell directories, never the full coded
    * corpus.
    */
  private[graft] def ivfPqServe(s: SparkSession, vecs: DataFrame,
      cents: Array[(Int, Array[Double], Double)],
      pq: Array[Array[Array[Double]]], codesIn: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, kAdc: Int): DataFrame = {
    import s.implicits._
    val subDim = pq(0)(0).length
    val bPq = s.sparkContext.broadcast(pq)
    val centsDf = cents.toSeq.toDF("cell", "cv", "cn")
    val qds = queryDs(s, queries).toDF("query_id", "qv", "qn")
    val probed = qds.crossJoin(broadcast(centsDf))
      .withColumn("csim",
        aggregate(zip_with($"qv", $"cv", _ * _), lit(0.0), _ + _) / ($"qn" * $"cn"))
      .withColumn("crk", row_number().over(
        Window.partitionBy($"query_id").orderBy($"csim".desc, $"cell".asc)))
      .where($"crk" <= nProbe)
      .select($"query_id", $"cell", $"qv", $"qn")
    // partition-pruning pre-filter: the union of probed cells is a
    // bounded driver set (<= nCells), and an IN over the codes frame's
    // partition column lets a parquet-backed index skip every unprobed
    // cell directory at scan time (for the in-session cached frame it's
    // a cheap row filter). The probe subtree re-executes once for this
    // collect — nQueries x nCells rows, noise next to the scan it prunes.
    val probeCells = probed.select($"cell").distinct().as[Int].collect().sorted
    val codes = codesIn.where($"cell".isin(probeCells.map(Int.box): _*))
    // ADC pass over codes only: per-partition LUT memo keyed by query id
    // (bounded by the query panel: nSub*nCodes doubles each)
    val adcScored = probed.join(codes, Seq("cell"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id", $"code", $"qv", $"qn")
      .as[(Long, Long, Array[Byte], Array[Double], Double)]
      .mapPartitions { it =>
        val cb = bPq.value
        val nS = cb.length; val nC = cb(0).length
        val luts = new java.util.HashMap[Long, Array[Double]]()
        it.map { case (q, id, code, qv, qn) =>
          var lut = luts.get(q)
          if (lut == null) {
            lut = new Array[Double](nS * nC)
            val inv = if (qn == 0.0) 0.0 else 1.0 / qn
            var m = 0
            while (m < nS) {
              var c = 0
              while (c < nC) {
                var acc = 0.0; var i = 0
                while (i < subDim) { acc += qv(m * subDim + i) * inv * cb(m)(c)(i); i += 1 }
                lut(m * nC + c) = acc
                c += 1
              }
              m += 1
            }
            luts.put(q, lut)
          }
          var adc = 0.0; var m = 0
          while (m < nS) { adc += lut(m * nC + (code(m) & 0xff)); m += 1 }
          (q, id, adc)
        }
      }.toDF("query_id", "vec_id", "adc")
    val shortlist = adcScored
      .withColumn("ark", row_number().over(
        Window.partitionBy($"query_id").orderBy($"adc".desc, $"vec_id".asc)))
      .where($"ark" <= kAdc)
      .select($"query_id", $"vec_id")
    // exact refine: raw vectors for the bounded shortlist only
    shortlist
      .join(vecs, Seq("vec_id"))
      .join(qds, Seq("query_id"))
      .select($"query_id", $"vec_id", $"qv", $"qn", $"v", $"nrm")
      .as[(Long, Long, Array[Double], Double, Array[Double], Double)]
      .mapPartitions(_.map { case (q, id, qv, qn, v, n) => (q, id, dot(v, qv) / (n * qn)) })
      .toDF("query_id", "vec_id", "cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id".asc)))
      .where($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id".as("neighbor_id"),
        graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** SemDeDup-style semantic dedup (q77, after Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): every embedding is assigned to its nearest learned
    * k-means centroid — the SAME memoized codebook + inverted file as
    * q53, built once and shared — near-duplicate pairs are found ONLY
    * inside each cell by exact pairwise cosine >= `tau`, pairs connect
    * into components, and the min-id representative per component
    * survives. The semantic counterpart of q55's MinHash keep-list:
    * paraphrases that share no n-grams still collapse.
    *
    * Scale shape: the in-cell compare is O(sum_c n_c^2) — the SemDeDup
    * bargain (cells bound the quadratic at ~N^2/k when balanced). The
    * pair bound is measured from REAL cell sizes before any compare
    * launches and the operator fails fast over `pairBudget` (the q20
    * saturation discipline) instead of starting a doomed stage; the
    * remedy is more cells, or the q42 LSH route. The cell-local compare
    * itself streams sorted rows per group — no driver state, one
    * shuffle on the cell id. Rows-only under the driver oracle (k-means
    * is not SQL-expressible); spec-gated instead: in-cell pair
    * exactness vs the brute-force prune, measured recall vs the global
    * exact pair set, and one-keeper-per-component
    * (SimilarityRecallSpec).
    */
  def semanticDedup(s: SparkSession, dir: String, nCells: Int = 64,
                    iters: Int = 5, tau: Double = 0.45, probes: Int = 3,
                    pairBudget: Long = 100000000L): DataFrame = {
    import s.implicits._
    val vecs = rawVecs(s, dir)
    if (vecs.isEmpty)
      return Seq.empty[(Long, Int, Long, Boolean)]
        .toDF("vec_id", "cell", "cluster_id", "keep")
    val cents = kmeansCodebook(s, dir, nCells, iters)
    // multi-probe assignment: each vector joins its top-`probes` cells,
    // so a pair splits only when the two memberships are fully disjoint —
    // the recall knob (cost scales ~probes^2, guarded by the same budget).
    // rk = 0 is the primary cell (assignCells' argmax-ties-smaller rule).
    val assigned = OpCache.dataset("semanticDedupIdx", s, dir,
      s"$nCells|$iters|$probes")(assignCellsTopP(s, vecs, cents, probes))
      .toDF("cell", "vec_id", "v", "nrm", "rk")
    val pairBound = assigned.groupBy($"cell").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("p"))
      .as[Long].head()
    require(pairBound <= pairBudget,
      s"semanticDedup: in-cell pair bound $pairBound exceeds budget " +
      s"$pairBudget — raise nCells (smaller cells) or route to " +
      "cosineNearDupLsh (q42)")
    val pairs = assigned.select($"cell", $"vec_id", $"v", $"nrm")
      .as[(Int, Long, Array[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_: Int, it: Iterator[(Int, Long, Array[Double], Double)]) =>
        val rows = it.map(t => (t._2, t._3, t._4)).toArray.sortBy(_._1)
        rows.indices.iterator.flatMap { i =>
          val (ia, va, na) = rows(i)
          ((i + 1) until rows.length).iterator.flatMap { j =>
            val (ib, vb, nb) = rows(j)
            if (dot(va, vb) / (na * nb) >= tau) Iterator.single((ia, ib))
            else Iterator.empty
          }
        }
      }.toDF("vec_a", "vec_b")
    // a pair sharing several probed cells emits several times; CC's
    // canonical-orientation distinct absorbs the duplicates
    val cc = Clustering.connectedComponents(pairs)
      .select($"node".as("vec_id"), $"component")
    assigned.where($"rk" === 0).select($"vec_id", $"cell")
      .join(cc, Seq("vec_id"), "left")
      .select($"vec_id", $"cell",
        coalesce($"component", $"vec_id").as("cluster_id"))
      .withColumn("keep", $"vec_id" === $"cluster_id")
      .orderBy($"vec_id")
  }

  /** Random-hyperplane LSH ANN: 16 deterministic hyperplanes (md5-derived
    * weights in [-1, 1], precomputed once on the driver) -> 16-bit sign
    * signature -> 4 bands of 4 bits; a candidate must share >= 1 band with
    * the query; exact cosine re-rank of candidates only. Engine-specific
    * recall by design -> no SQL oracle (rows-only check). The banded
    * equi-join is the plan that survives 100 TB: signatures are 2 bytes a
    * row and candidates per query stay near-constant.
    */
  /** 16 deterministic md5-derived hyperplanes (weights in [-1, 1]) — shared
    * by `annLsh` and `cosineNearDupLsh`, and reproduced verbatim by the
    * q42 DuckDB oracle (same hash→weight arithmetic, same index-order dot
    * fold, so the signatures agree bit-for-bit across engines).
    */
  private def lshPlanes(): Array[Array[Double]] = lshPlanesN(16)

  /** First-n generalization of the plane family: plane p is the same
    * md5-derived vector whatever n, so the 16-plane prefix used by the
    * oracle-checked q42 path is unchanged when `annLsh` widens to 64.
    */
  private def lshPlanesN(n: Int): Array[Array[Double]] = Array.tabulate(n, 64) { (p, i) =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p#$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.take(15), 16) % 2001 - 1000) / 1000.0
  }

  /** (vec_id, v, nrm, sig): each vector's 16-bit sign signature. */
  private def lshSigs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bPlanes = s.sparkContext.broadcast(lshPlanes())
    vecDs(s, dir).mapPartitions { it =>
      val ps = bPlanes.value
      it.map { case (id, v, n) =>
        var sig = 0; var p = 0
        while (p < ps.length) { if (dot(v, ps(p)) >= 0) sig |= 1 << p; p += 1 }
        (id, v, n, sig)
      }
    }.toDF("vec_id", "v", "nrm", "sig")
  }

  /** Probe keys for one band in multi-probe order (Lv et al., VLDB'07):
    * the exact key first, then perturbation sets over the band's
    * least-confident bits (ranked weakest-first by the caller) in
    * increasing expected-cost order — {w0}, {w1}, {w0,w1}, {w2}, … — so
    * each extra probe buys the highest remaining hit probability. Returns
    * the first `n` keys.
    */
  private def perturbKeys(key: Long, weakestFirst: Array[Int], n: Int): Array[Long] = {
    val m = math.min(weakestFirst.length, 4) // 2^4 subsets covers any sane n
    val subsets = (0 until (1 << m)).sortBy { bits =>
      var cost = 0; var j = 0
      while (j < m) { if ((bits & (1 << j)) != 0) cost += j + 1; j += 1 }
      cost
    }
    subsets.take(n).map { bits =>
      var k = key; var j = 0
      while (j < m) { if ((bits & (1 << j)) != 0) k ^= 1L << weakestFirst(j); j += 1 }
      k
    }.toArray
  }

  /** (vec_id, v, nrm, sig): 64-bit signatures for the multi-probe path,
    * cached via [[OpCache]] — one live corpus cache per operator however
    * many queries run in the session.
    */
  private def annLshSigs(s: SparkSession, dir: String, nPlanes: Int): DataFrame =
    OpCache.dataset("annLsh", s, dir, nPlanes) {
      import s.implicits._
      val bPlanes = s.sparkContext.broadcast(lshPlanesN(nPlanes))
      vecDs(s, dir).mapPartitions { it =>
        val ps = bPlanes.value
        it.map { case (id, v, n) =>
          var sig = 0L; var p = 0
          while (p < ps.length) { if (dot(v, ps(p)) >= 0) sig |= 1L << p; p += 1 }
          (id, v, n, sig)
        }
      }.toDF("vec_id", "v", "nrm", "sig")
    }

  /** Sign an arbitrary query frame with the same deterministic plane
    * family the corpus signatures use — queries probe the index without
    * having to live in it.
    */
  private def signQueries(s: SparkSession, queries: DataFrame, nPlanes: Int): DataFrame = {
    import s.implicits._
    val bPlanes = s.sparkContext.broadcast(lshPlanesN(nPlanes))
    queryDs(s, queries).mapPartitions { it =>
      val ps = bPlanes.value
      it.map { case (id, v, n) =>
        var sig = 0L; var p = 0
        while (p < ps.length) { if (dot(v, ps(p)) >= 0) sig |= 1L << p; p += 1 }
        (id, v, n, sig)
      }
    }.toDF("vec_id", "v", "nrm", "sig")
  }

  private def candidatesFrom(s: SparkSession, sigs: DataFrame, querySigs: DataFrame,
                             nPlanes: Int, bandBits: Int, probes: Int): DataFrame = {
    import s.implicits._
    require(nPlanes <= 64 && nPlanes % bandBits == 0, "need nPlanes = bands * bandBits <= 64")
    val nBands = nPlanes / bandBits
    val mask = (1L << bandBits) - 1
    val bPlanes = s.sparkContext.broadcast(lshPlanesN(nPlanes))
    val bands = sigs
      .select($"vec_id", explode(sequence(lit(0), lit(nBands - 1))).as("band"), $"sig")
      .withColumn("bkey", expr(s"(sig >> (band * $bandBits)) & $mask"))
      .select($"vec_id", $"band", $"bkey")
    // query side (~1% of the corpus): recompute the per-plane margins to
    // rank bit confidence — cheaper than storing 64 doubles per CORPUS row
    val qprobes = querySigs
      .select($"vec_id", $"v", $"sig")
      .as[(Long, Array[Double], Long)]
      .mapPartitions { it =>
        val ps = bPlanes.value
        it.flatMap { case (id, v, sig) =>
          val conf = Array.tabulate(nPlanes)(p => math.abs(dot(v, ps(p))))
          (0 until nBands).iterator.flatMap { b =>
            val key = (sig >>> (b * bandBits)) & mask
            val order = Array.range(0, bandBits).sortBy(j => conf(b * bandBits + j))
            perturbKeys(key, order, probes).iterator.map(pk => (id, b, pk))
          }
        }
      }.toDF("query_id", "band", "bkey")
    // plain equi-joins, no broadcast hint: AQE broadcasts when the probe
    // set fits and falls back to shuffle when it outgrows an executor
    bands.join(qprobes, Seq("band", "bkey"))
      .where($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .distinct()
  }

  /** The candidate pairs `annLsh` re-ranks — exposed so the recall spec can
    * assert the candidate FRACTION (the cost side of the recall/cost curve)
    * as well as the recall. Defaults measured by a (planes, band bits,
    * probes) sweep (BENCH_NOTES "Multi-probe LSH ANN (q25)") on the
    * near-uniform test embeddings (the adversarial geometry): recall@5
    * 0.76/0.70 at 26%/24% of the corpus as candidates (sf0.01/sf0.1) —
    * versus 0.44 at 24% for the old single-probe 16-plane config.
    */
  def annLshCandidates(s: SparkSession, dir: String, nPlanes: Int = 64,
                       bandBits: Int = 8, probes: Int = 8): DataFrame = {
    import s.implicits._
    val sigs = annLshSigs(s, dir, nPlanes)
    candidatesFrom(s, sigs, sigs.where($"vec_id" % 100 === 0), nPlanes, bandBits, probes)
  }

  /** [[annLshCandidates]] for an arbitrary `(vec_id, embedding)` query
    * frame — query signatures computed on the fly from the same plane
    * family, so external queries probe the cached corpus index directly.
    */
  def annLshCandidates(s: SparkSession, dir: String, queries: DataFrame,
                       nPlanes: Int, bandBits: Int, probes: Int): DataFrame =
    candidatesFrom(s, annLshSigs(s, dir, nPlanes),
      signQueries(s, queries, nPlanes), nPlanes, bandBits, probes)

  /** ANN via multi-probe random-hyperplane LSH: 64 md5-derived planes →
    * 64-bit signature → 8 bands of 8 bits; a corpus vector is a candidate
    * when it lands in any of the query's probed band buckets, and probing
    * covers the exact bucket PLUS `probes-1` perturbations of each band's
    * least-confident bits (the |dot| margin says which signature bits were
    * a coin flip for THIS query — flipping those reaches the neighbors
    * that landed one bucket over, the published fix for thin-recall LSH on
    * hard geometries — multi-probe LSH, Lv et al., VLDB'07). Exact cosine
    * re-rank of candidates only.
    *
    * Scale shape is unchanged from plain banded LSH: the corpus side still
    * stores/ships 8 bytes of signature per row and shuffles one row per
    * (vector, band); only the query side (~1%) fans out ×`probes`. Recall
    * is engine-specific by design → rows-only check (q25); the
    * SimilarityRecallSpec gate pins it against exact brute force.
    */
  def annLsh(s: SparkSession, dir: String, k: Int = 5, nPlanes: Int = 64,
             bandBits: Int = 8, probes: Int = 8): DataFrame = {
    import s.implicits._
    val sigs = annLshSigs(s, dir, nPlanes)
    annLshFrom(s, sigs, sigs.where($"vec_id" % 100 === 0), k, nPlanes, bandBits, probes)
  }

  /** [[annLsh]] over an arbitrary `(vec_id, embedding)` query frame. */
  def annLsh(s: SparkSession, dir: String, queries: DataFrame, k: Int,
             nPlanes: Int, bandBits: Int, probes: Int): DataFrame =
    annLshFrom(s, annLshSigs(s, dir, nPlanes), signQueries(s, queries, nPlanes),
      k, nPlanes, bandBits, probes)

  private def annLshFrom(s: SparkSession, sigs: DataFrame, querySigs: DataFrame,
                         k: Int, nPlanes: Int, bandBits: Int, probes: Int): DataFrame = {
    import s.implicits._
    // the query-sig plan is consumed twice (probe explosion + the vector
    // join); uncached that re-evaluates the caller's whole query frame
    // plus signing per action. cache() is plan-keyed, so the harness's
    // repeated identical slices share ONE entry rather than leaking
    val qs = querySigs.cache()
    candidatesFrom(s, sigs, qs, nPlanes, bandBits, probes)
      .join(sigs.select($"vec_id", $"v", $"nrm"), "vec_id")
      .join(qs
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn")), "query_id")
      .select($"query_id", $"vec_id", $"qv", $"qn", $"v", $"nrm")
      .as[(Long, Long, Array[Double], Double, Array[Double], Double)]
      .mapPartitions(_.map { case (q, id, qv, qn, v, n) => (q, id, dot(v, qv) / (n * qn)) })
      .toDF("query_id", "vec_id", "cosine")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id".asc)))
      .where($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id".as("neighbor_id"),
        graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Candidate-fed exact near-dup — the default scale path for genuinely
    * near-duplicate thresholds (the in-code prescription of
    * `cosineNearDupPairs`, made executable): candidate pairs are vectors
    * sharing >= 1 of the 4 LSH bands, and only candidates reach the exact
    * cosine kernel. Compare work scales with candidate count (near-linear
    * when near-dups are rare) instead of the all-pairs quadratic;
    * candidates are verified bucket-locally (block-decomposed, see the
    * shape note in the body), so shuffle volume stays corpus-linear even
    * when the banding is unselective.
    *
    * Unlike `annLsh`'s top-k (whose recall is engine-specific), this IS
    * oracle-checkable: the hyperplanes are deterministic md5 arithmetic,
    * so the oracle reproduces the exact candidate set and the exact
    * cosines. Candidates below the banding bar are missed on both sides
    * identically — recall vs the exhaustive `cosineNearDupPairs` is the
    * documented trade (high-cosine pairs agree on many sign bits, so
    * recall climbs toward 1 as the threshold does).
    */
  def cosineNearDupLsh(s: SparkSession, dir: String,
                       threshold: Double = 0.45, blocks: Int = 16): DataFrame = {
    import s.implicits._
    // Shape choice, MEASURED at sf10 (80 k near-uniform vectors, the
    // adversarial geometry where ~25% of all pairs share a 4-bit band
    // key): the candidates-then-vector-join form shuffled both vectors
    // per candidate pair — 92 GB of spill, 991 s, 78% of the whole
    // suite's wall. This form verifies INSIDE each (band, bkey) bucket
    // with q23's block decomposition: every vector ships blocks copies
    // per band (bounded, corpus-linear — ~2.8 GB at sf10 vs the pair-
    // proportional join), candidate pairs never cross an exchange, and a
    // hot bucket's C(n,2) work spreads over blocks²/2 tasks, so bucket
    // skew degrades parallelism gracefully instead of spilling. `blocks`
    // is the same executor-fit knob as cosineNearDupPairs'.
    val sigs = OpCache.dataset("cosineNearDupLsh", s, dir)(lshSigs(s, dir))
    val tagged = sigs.select($"vec_id", $"v", $"nrm", $"sig")
      .as[(Long, Array[Double], Double, Int)]
      .flatMap { case (id, v, n, sig) =>
        val b = math.floorMod(id, blocks).toInt
        Iterator.range(0, 4).flatMap { band =>
          val bkey = (sig >> (band * 4)) & 15
          Iterator.range(0, blocks).map { o =>
            (band * 16 + bkey, math.min(b, o), math.max(b, o), id, v, n, b)
          }
        }
      }
    val pairs = tagged
      .groupByKey(t => (t._1, t._2, t._3))
      .flatMapGroups { (key: (Int, Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Double], Double, Int)]) =>
        val rows = it.map(t => (t._4, t._5, t._6, t._7)).toArray.sortBy(_._1)
        blockPairKernel(rows, key._2, key._3, threshold)
      }.toDF("vec_a", "vec_b", "cosine")
    // a pair agreeing on k bands emits k identical rows (same doubles —
    // same kernel) — distinct is over surviving pairs only, never the
    // candidate volume. The VERIFIED pair set memoizes like the
    // text-side lshPairs frame: q42 and q57's component closure both
    // consume it, and without the memo the band explode + bucket-local
    // verify (the expensive stage) re-executes per caller — at 100 TB
    // that doubles the heaviest embedding-side stage.
    OpCache.dataset("cosLshPairs", s, dir, s"$threshold|$blocks")(pairs.distinct())
      .select($"vec_a", $"vec_b", graft.Tables.round6($"cosine").as("cosine"))
      .orderBy($"vec_a", $"vec_b")
  }

  /** Symmetric int8 quantization (q68): per-vector scale `127/max|v|`,
    * `q_i = floor(v_i·127/max + 0.5)` — the compression step that makes a
    * 100 TB embedding store a 25 TB one before ANN serving (FAISS SQ8 /
    * the usual int8 KV-cache trick). Verified by integer-exact summaries —
    * component sum, energy (Σq²), and an ORDER-SENSITIVE position-weighted
    * checksum Σ(i+1)·q_i — so the oracle proves every quantized component,
    * not just aggregate mass. Both engines run the identical double
    * expression (float→double is exact; IEEE division/floor reproduce
    * bit-for-bit; the `greatest(·, 1e-30)` guard only engages on the
    * all-zero vector, where the output is 0 anyway).
    *
    * Pure per-row kernel of codegen'd collection builtins — no shuffle,
    * no UDF; trivially 100 TB-safe.
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.table(s, dir, "embeddings")
      .select($"vec_id", $"label".cast("long").as("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("ma",
        expr("aggregate(v, cast(0.0 as double), (a, x) -> greatest(a, abs(x)))"))
      .withColumn("q",
        expr("transform(v, x -> cast(floor(x * 127.0 / greatest(ma, 1e-30) + 0.5) as bigint))"))
      .select($"vec_id", $"label",
        size($"q").cast("long").as("n_dims"),
        expr("floor(ma * 1e6 + 0.5) / 1e6").as("max_abs"),
        expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x)").as("q_sum"),
        expr("aggregate(q, cast(0 as bigint), (a, x) -> a + x * x)").as("q_energy"),
        expr("aggregate(transform(q, (x, i) -> x * (cast(i as bigint) + 1)), cast(0 as bigint), (a, x) -> a + x)").as("q_check"))
      .orderBy($"vec_id")
  }

  /** Per-label embedding sanity stats (q82) — the dataset-card check run
    * before an embedding corpus feeds training or ANN indexing: are the
    * vectors unit-norm (mean_energy ≈ 1), centered (mean_comp ≈ 0), and
    * uniformly dimensioned? A broken encoder batch (zeroed, unnormalized,
    * or truncated vectors) shows up here before it poisons similarity
    * thresholds downstream.
    *
    * Determinism: float sums re-associate under partial aggregation, so
    * double sums would hash-differ run to run; components are instead
    * quantized to integers (floor(c·1e6 + 0.5) — float→double exact, the
    * engine-shared rounding form), and BIGINT sums are order-free.
    * Overflow headroom: unit-norm vectors give Σq² ≈ 1e12 per vector, so
    * the per-label long sum holds ~9 M vectors; beyond that the same
    * query runs with DECIMAL(38) sums or coarser quantization — noted,
    * not needed at this corpus's label cardinality.
    *
    * One kernel pass per vector (no per-component explode) feeding a
    * map-side-combined label aggregate: label-cardinality output rows at
    * any corpus size, no skew (labels are balanced by construction; a
    * skewed label still only concentrates a LONG-triple aggregate, not
    * row data).
    */
  def embedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Tables.table(s, dir, "embeddings")
      .select($"label", $"embedding").as[(Int, Array[Float])]
      .mapPartitions { it =>
        it.map { case (label, emb) =>
          var i = 0; var sq = 0L; var sq2 = 0L
          while (i < emb.length) {
            val q = math.floor(emb(i).toDouble * 1e6 + 0.5).toLong
            sq += q; sq2 += q * q; i += 1
          }
          (label, emb.length.toLong, sq, sq2)
        }
      }.toDF("label", "nd", "sq", "sq2")
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        max($"nd").as("n_dims"),
        sum($"sq").as("sum_q"),
        sum($"sq2").as("sum_q2"))
      .select($"label", $"n_vecs", $"n_dims", $"sum_q", $"sum_q2",
        graft.Tables.round6($"sum_q" /
          ($"n_vecs" * $"n_dims" * lit(1e6))).as("mean_comp"),
        graft.Tables.round6($"sum_q2" /
          ($"n_vecs" * lit(1e12))).as("mean_energy"))
      .orderBy($"label")
  }

  /** Principal components of the embedding cloud (q107): top-2 eigenpairs
    * of the covariance, plus per-label mean projections — the
    * class-separation / collapsed-embedding diagnostic a pipeline runs
    * before trusting its vectors (a near-1 top explained-variance
    * fraction means the encoder collapsed).
    *
    * Scale shape: ONE corpus pass accumulates the exact sufficient
    * statistics (n, Σx, Σxxᵀ) per partition — a d²-sized buffer, d=dim,
    * combined on the driver from #partitions bounded rows (the
    * RowMatrix-Gramian design: data never shuffles, statistics do).
    * Eigenpairs come from power iteration + one deflation on the d×d
    * driver-local covariance — O(d² · iters), independent of corpus
    * size. A second pass projects rows onto the two fixed axes and
    * label-aggregates (map-side combine, labels-bounded output).
    *
    * Rows-only by design (like q25/q53): float-sum order makes the low
    * bits engine-specific, and the eigen recursion has no SQL oracle.
    * `SimilarityRecallSpec` gates it: known-axis fixture recovery,
    * Rayleigh residual ‖Cv−λv‖/λ on the exact driver-recomputed
    * covariance, orthogonality of the two axes, and sign/determinism.
    */
  /** Cell-coverage diversity sample (q118): k vectors per k-means cell of
    * the SHARED q53 codebook — the coverage-first sampling a training
    * pipeline runs when it wants the embedding space represented, not
    * just the data distribution (uniform sampling over-draws dense
    * regions; per-cell quotas guarantee every region survives the cut).
    * Within a cell the draw is the deterministic seedless min-hash60
    * choice (the q44 discipline), via the bounded MinK aggregator — k
    * rows per cell per partition reach the shuffle, nothing corpus-sized
    * moves. Rows-only by design (cells are engine-specific);
    * SimilarityRecallSpec gates coverage (every non-empty cell
    * represented), quota, membership and determinism.
    */
  def diversitySample(s: SparkSession, dir: String, k: Int = 4,
                      nCells: Int = 64, iters: Int = 5): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.Encoders
    val vecs = rawVecs(s, dir)
    if (vecs.isEmpty)
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("cell", "n_in_cell", "rank", "vec_id")
    val cents = kmeansCodebook(s, dir, nCells, iters)
    val assigned = OpCache.dataset(s"annIvfKmeansIdx|$nCells|$iters", s, dir)(
      assignCells(s, vecs, cents)).toDF("cell", "vec_id", "v", "nrm")
    val mink = udaf(new graft.functions.MinKAggregator(k),
      Encoders.product[(Long, Long)])
    assigned
      .select($"cell", $"vec_id", expr("hash60(cast(vec_id as string))").as("h"))
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_in_cell"), mink($"h", $"vec_id").as("sample"))
      .select($"cell", $"n_in_cell",
        posexplode(expr("transform(sample, x -> x._2)")).as(Seq("r0", "vec_id")))
      .select($"cell".cast("long").as("cell"), $"n_in_cell",
        ($"r0" + 1L).as("rank"), $"vec_id")
      .orderBy($"cell", $"rank")
  }

  /** Driver-local PCA sufficient statistics + top-2 eigenpairs (the
    * spec-gated seam behind [[embeddingPca]]).
    */
  private[graft] case class PcaModel(n: Long, mu: Array[Double],
                                     cov: Array[Array[Double]], trace: Double,
                                     lam1: Double, v1: Array[Double],
                                     lam2: Double, v2: Array[Double])

  private[graft] def pcaModel(emb: Dataset[(Int, Array[Float])]): PcaModel = {
    import emb.sparkSession.implicits._
    // pass 1: per-partition (n, sum, gram) — gram kept upper-triangular
    val partials = emb.mapPartitions { it =>
      var n = 0L; var sum: Array[Double] = null; var gram: Array[Double] = null
      it.foreach { case (_, x) =>
        val d = x.length
        if (sum == null) { sum = new Array[Double](d); gram = new Array[Double](d * (d + 1) / 2) }
        var i = 0; var t = 0
        while (i < d) {
          val xi = x(i).toDouble
          sum(i) += xi
          var j = i
          while (j < d) { gram(t) += xi * x(j).toDouble; j += 1; t += 1 }
          i += 1
        }
        n += 1L
      }
      if (n == 0L) Iterator.empty
      else Iterator.single((n, sum.toSeq, gram.toSeq))
    }.collect() // bounded: one row per non-empty partition
    require(partials.nonEmpty, "embeddings table is empty")
    val d = partials.head._2.length
    val n = partials.map(_._1).sum
    val sum = new Array[Double](d)
    val gram = new Array[Double](d * (d + 1) / 2)
    partials.foreach { case (_, ps, pg) =>
      var i = 0
      while (i < d) { sum(i) += ps(i); i += 1 }
      i = 0
      while (i < gram.length) { gram(i) += pg(i); i += 1 }
    }
    // covariance C = G/n - μμᵀ (dense symmetric from the triangle)
    val cov = Array.ofDim[Double](d, d)
    var i = 0; var t = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = gram(t) / n - (sum(i) / n) * (sum(j) / n)
        cov(i)(j) = c; cov(j)(i) = c; j += 1; t += 1
      }
      i += 1
    }
    val trace = (0 until d).map(k => cov(k)(k)).sum
    def powerIter(m: Array[Array[Double]]): (Double, Array[Double]) = {
      var v = Array.fill(d)(1.0 / math.sqrt(d))
      var lam = 0.0
      var it = 0
      while (it < 200) {
        val w = new Array[Double](d)
        var a = 0
        while (a < d) {
          var s0 = 0.0; var b = 0
          while (b < d) { s0 += m(a)(b) * v(b); b += 1 }
          w(a) = s0; a += 1
        }
        val nw = math.sqrt(w.map(x => x * x).sum)
        val vNew = w.map(_ / nw)
        lam = nw
        val delta = v.zip(vNew).map { case (x, y) => math.abs(x - y) }.max
        v = vNew
        if (delta < 1e-13) it = 200 else it += 1
      }
      // sign convention: the largest-|loading| coordinate is positive
      val k = v.indices.maxBy(a => (math.abs(v(a)), -a))
      if (v(k) < 0) (lam, v.map(-_)) else (lam, v)
    }
    val (lam1, v1) = powerIter(cov)
    val defl = Array.tabulate(d, d)((a, b) => cov(a)(b) - lam1 * v1(a) * v1(b))
    val (lam2, v2) = powerIter(defl)
    PcaModel(n, sum.map(_ / n), cov, trace, lam1, v1, lam2, v2)
  }

  def embeddingPca(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.table(s, dir, "embeddings")
      .select($"label", $"embedding").as[(Int, Array[Float])]
    val m = pcaModel(emb)
    val (lam1, lam2, trace) = (m.lam1, m.lam2, m.trace)
    val b1 = s.sparkContext.broadcast((m.v1, m.v2, m.mu))
    // pass 2: project each row on the two fixed axes, label rollup
    emb.mapPartitions { it =>
      val (a1, a2, m0) = b1.value
      it.map { case (label, x) =>
        var p1 = 0.0; var p2 = 0.0; var k = 0
        while (k < x.length) {
          val c = x(k).toDouble - m0(k)
          p1 += c * a1(k); p2 += c * a2(k); k += 1
        }
        (label, p1, p2)
      }
    }.toDF("label", "p1", "p2")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        avg($"p1").as("m1"), avg($"p2").as("m2"))
      .select($"label", $"n_vecs",
        graft.Tables.round6($"m1").as("proj1_mean"),
        graft.Tables.round6($"m2").as("proj2_mean"),
        graft.Tables.round6(lit(lam1)).as("eig1"),
        graft.Tables.round6(lit(lam2)).as("eig2"),
        graft.Tables.round6(lit(lam1 / trace)).as("var1_frac"),
        graft.Tables.round6(lit(lam2 / trace)).as("var2_frac"))
      .orderBy($"label")
  }

  /** Per-label embedding outliers (q124): the k vectors farthest (L2) from
    * their label's centroid — the mislabeled-example / encoder-anomaly
    * probe every embedding-quality audit starts with.
    *
    * Determinism: per-component sums are BIGINT-quantized (×1e6, the q82
    * discipline) so they are order-free; each centroid component is the
    * same fixed chain (S/1e6)/n in both engines; the squared distance is
    * an ascending-index fold of (x−c)² — the q24 cosine discipline — then
    * round6 with vec_id tiebreak.
    *
    * Scale shape (the q107 pattern): pass 1 emits one (label, sums[d], n)
    * partial per label per partition — #partitions × #labels bounded rows
    * collected, never the corpus; centroids broadcast; pass 2 is a per-row
    * kernel into a per-label top-k window over rows already cut to
    * score-carrying candidates. Labels are a bounded vocabulary by
    * construction.
    */
  def embeddingOutliers(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val emb = table(s, dir, "embeddings")
      .select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .as[(Long, Int, Array[Double])]
    val partials = emb.mapPartitions { it =>
      val acc = scala.collection.mutable.Map[Int, (Array[Long], Long)]()
      it.foreach { case (_, label, v) =>
        val (sums, _) = acc.getOrElseUpdate(label, (new Array[Long](v.length), 0L))
        var j = 0
        while (j < v.length) {
          sums(j) += math.floor(v(j) * 1e6 + 0.5).toLong; j += 1
        }
        val (ss, n) = acc(label); acc(label) = (ss, n + 1)
      }
      acc.iterator.map { case (l, (ss, n)) => (l, ss.toSeq, n) }
    }.collect()
    val centroids: Map[Int, Array[Double]] = partials.groupBy(_._1).map {
      case (l, ps) =>
        val d = ps.head._2.length
        val sums = new Array[Long](d); var n = 0L
        ps.foreach { case (_, ss, pn) =>
          var j = 0; while (j < d) { sums(j) += ss(j); j += 1 }; n += pn
        }
        l -> sums.map(sq => (sq.toDouble / 1000000.0) / n.toDouble)
    }
    val bC = s.sparkContext.broadcast(centroids)
    emb.map { case (id, label, v) =>
      val c = bC.value(label)
      var d2 = 0.0; var j = 0
      while (j < v.length) { val d = v(j) - c(j); d2 += d * d; j += 1 }
      (label, id, d2)
    }.toDF("label", "vec_id", "d2")
      .withColumn("rank", row_number().over(
        Window.partitionBy($"label").orderBy($"d2".desc, $"vec_id".asc)))
      .where($"rank" <= k)
      .select($"label".cast("long").as("label"),
        $"rank".cast("long").as("rank"), $"vec_id",
        graft.Tables.round6($"d2").as("dist2"))
      .orderBy($"label", $"rank")
  }

  /** Hybrid sparse+dense retrieval with reciprocal-rank fusion (q120):
    * the standard two-tower retrieval ensemble — a BM25 keyword leg
    * (q108's scorer) and a dense cosine leg (q24's exact top-k against
    * one query embedding) fused by RRF(d) = Σ 1/(60 + rank_leg(d)) —
    * the score-free fusion that needs no cross-leg calibration.
    *
    * Determinism contract: each leg's ranks come from already-certified
    * chains (q108's quantized BM25 with doc_id tiebreak; q24's raw-cosine
    * order, identical IEEE folds in both engines), the fused score is
    * exactly two doubles added in fixed leg order (sparse + dense), then
    * round6-quantized with doc_id as the final tiebreak.
    *
    * Scale shape: each leg is one corpus scan ending in a top-kCand
    * (TakeOrderedAndProject / the chunked brute kernel); the fusion
    * itself joins two ≤kCand-row frames — driver-bounded, broadcast by
    * AQE. The dense leg here is the EXACT brute baseline so the oracle
    * can replay it; at deployment the IVF paths (q53/q94/q118's shared
    * codebook) substitute per the `annBruteForce` doc, and the fusion
    * join is unchanged. Legs run over `documents`/`embeddings`, whose
    * ids align 1:1 in this corpus (doc_id = vec_id).
    */
  def hybridRrf(s: SparkSession, dir: String,
                terms: Seq[String] = Seq("scan", "filter", "vector"),
                queryVec: Long = 0L, kCand: Int = 50, kOut: Int = 20,
                rrfK: Int = 60): DataFrame =
    hybridRrfFrom(s,
      annBruteForce(s, dir,
        table(s, dir, "embeddings").where(col("vec_id") === queryVec)
          .select(col("vec_id"), col("embedding")),
        kCand, 512),
      graft.operators.TextAnalysis.bm25TopDocs(s, dir, terms, kCand),
      kOut, rrfK)

  /** The RRF fusion tail over ALREADY-COMPUTED candidate legs —
    * `denseTop` in [[annBruteForce]]'s output shape, `sparseTop` in
    * `bm25TopDocs`'s. Factored out (round 13) so q129's eval harness can
    * hand both legs it already scored to the hybrid method instead of
    * paying a second brute-force scoring pass + a second corpus BM25
    * scan per eval run (guide §1.2: don't compute things twice).
    */
  private[graft] def hybridRrfFrom(s: SparkSession, denseTop: DataFrame,
                                   sparseTop: DataFrame, kOut: Int,
                                   rrfK: Int): DataFrame = {
    import s.implicits._
    val dense = denseTop
      .select($"neighbor_id".as("doc_id"), $"rank".as("dense_rank"))
    // rank the sparse leg on its own (already round6-quantized) output:
    // the window is over a ≤kCand-row frame — bounded by construction,
    // the q04 top-k pattern, never a corpus-wide sort
    val sparse = sparseTop
      .withColumn("sparse_rank", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id".asc)).cast("long"))
      .select($"doc_id", $"sparse_rank")
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select($"doc_id", $"sparse_rank", $"dense_rank",
        graft.Tables.round6(
          coalesce(lit(1.0) / ($"sparse_rank" + lit(rrfK)).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / ($"dense_rank" + lit(rrfK)).cast("double"), lit(0.0)))
          .as("rrf"))
      .orderBy($"rrf".desc, $"doc_id".asc)
      .limit(kOut)
  }

  /** Retrieval evaluation harness (q129): MRR and nDCG@k for the three
    * q120 rankings (sparse BM25, dense cosine, hybrid RRF) against a
    * DETERMINISTIC relevance set — documents containing every query term
    * as a whitespace token. The eval loop every retrieval deployment runs
    * nightly, as a query.
    *
    * Determinism: relevance and ranks are integers; each DCG position
    * term rel_i/log2(i+1) becomes rel_i · floor(1e9·qln(2)/qln(i+1)) — a
    * BIGINT from integer-ln arguments, so the per-method sums are
    * order-free; MRR and nDCG end in one guarded double division each,
    * round6.
    *
    * Scale shape: each leg is the already-audited q108/q24/q120 plan; the
    * metric arithmetic runs on 3·k rows joined against the broadcast
    * relevance flags. The corpus-wide relevant count (for the ideal DCG)
    * is a 1-row aggregate. An eval harness re-scores legs it measures —
    * the legs' own caches (annBruteForce memo) absorb the repeat.
    */
  def retrievalEval(s: SparkSession, dir: String,
                    terms: Seq[String] = Seq("scan", "filter", "vector"),
                    queryVec: Long = 0L, kCand: Int = 50, k: Int = 20): DataFrame = {
    import s.implicits._
    def qln(c: Column) =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    val qln2 = lit(693147L) // floor(ln(2)*1e6 + 0.5)
    val rel = table(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("ts"))
      .where(terms.map(t => array_contains($"ts", t)).reduce(_ && _))
      .select($"doc_id", lit(1L).as("rel"))
    val nRel = rel.agg(count(lit(1)).as("n_rel"))
    // each candidate leg is scored ONCE at kCand and shared (round 13,
    // guide §1.2): the harness previously ran the brute-force scoring
    // pass twice (dense@k + the hybrid's dense@kCand) and the corpus
    // BM25 scan twice — but top-k of an ordered ranking is a PREFIX of
    // top-kCand (identical tie-breaks), so dense@k = dense@kCand where
    // rank <= k and sparse@k = the first k rows of sparse@kCand, ranks
    // and all. localCheckpoint (eager, ≤kCand rows) materializes each
    // leg so its two consumers in the final union don't recompute it;
    // lineage-truncated blocks die with the invocation's RDD refs —
    // nothing persists across runs.
    require(kCand >= k, s"retrievalEval: kCand=$kCand must cover k=$k")
    val sparseTop = graft.operators.TextAnalysis.bm25TopDocs(s, dir, terms, kCand)
      .localCheckpoint(true)
    val denseTop = annBruteForce(s, dir,
        table(s, dir, "embeddings").where($"vec_id" === queryVec)
          .select($"vec_id", $"embedding"), kCand, 512)
      .localCheckpoint(true)
    val sparse = sparseTop.orderBy($"bm25".desc, $"doc_id".asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy($"bm25".desc, $"doc_id".asc)).cast("long"))
      .select(lit("sparse").as("method"), $"doc_id", $"rank")
    val dense = denseTop.where($"rank" <= k)
      .select(lit("dense").as("method"), $"neighbor_id".as("doc_id"), $"rank")
    val hybrid = hybridRrfFrom(s, denseTop, sparseTop, k, 60)
      .withColumn("rank", row_number().over(
        Window.orderBy($"rrf".desc, $"doc_id".asc)).cast("long"))
      .select(lit("hybrid").as("method"), $"doc_id", $"rank")
    val ranked = sparse.unionAll(dense).unionAll(hybrid)
      .join(broadcast(rel), Seq("doc_id"), "left")
      .na.fill(0L, Seq("rel"))
      .withColumn("dcg_q", $"rel" * floor(
        qln2.cast("double") / qln($"rank" + 1).cast("double") *
          lit(1000000000.0)).cast("long"))
    val perMethod = ranked.groupBy($"method")
      .agg(sum($"rel").as("n_rel_at_k"), sum($"dcg_q").as("dcg_q"),
        min(when($"rel" === 1L, $"rank")).as("first_rel"))
    val idcg = s.range(1, k + 1).select($"id".as("i"))
      .crossJoin(broadcast(nRel))
      .where($"i" <= least(lit(k.toLong), $"n_rel"))
      .agg(sum(floor(qln2.cast("double") / qln($"i" + 1).cast("double") *
        lit(1000000000.0)).cast("long")).as("idcg_q"))
    perMethod.crossJoin(broadcast(idcg))
      .select($"method", $"n_rel_at_k",
        graft.Tables.round6(when($"first_rel".isNotNull,
          lit(1.0) / $"first_rel".cast("double")).otherwise(lit(0.0))).as("mrr"),
        graft.Tables.round6(when($"idcg_q" > 0,
          $"dcg_q".cast("double") / $"idcg_q".cast("double"))
          .otherwise(lit(0.0))).as("ndcg"))
      .orderBy($"method")
  }

  /** Embedding-dedup evaluation harness (q155): the LSH pair detector
    * (q42) scored against the exact blocked baseline (q23) — recall and
    * precision as integer ppm, ONE row. This makes the dedup stack's
    * recall DRIVER-VISIBLE under the oracle (the q25/q53 recalls live
    * only in specs); precision is 1.0 by construction (q42 verifies
    * candidates with the exact cosine), so a sub-1e6 precision here is
    * a regression alarm, not a tuning number.
    *
    * Scale shape: re-runs the two operators it scores (q129's "the
    * harness IS the cost" trade — and both frames are OpCache-memoized,
    * so inside one session the marginal cost is the join); the compare
    * joins pair frames on (vec_a, vec_b) and folds to one row.
    */
  def dedupEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = cosineNearDupPairs(s, dir).select($"vec_a", $"vec_b")
      .withColumn("e", lit(1L))
    val lsh = cosineNearDupLsh(s, dir).select($"vec_a", $"vec_b")
      .withColumn("l", lit(1L))
    exact.join(lsh, Seq("vec_a", "vec_b"), "full_outer")
      .agg(sum(coalesce($"e", lit(0L))).as("n_exact"),
        sum(coalesce($"l", lit(0L))).as("n_lsh"),
        sum(when($"e".isNotNull && $"l".isNotNull, 1L).otherwise(0L)).as("n_common"))
      .select($"n_exact", $"n_lsh", $"n_common",
        ($"n_exact" - $"n_common").as("n_missed"),
        ($"n_lsh" - $"n_common").as("n_false"),
        when($"n_lsh" > 0, expr("(n_common * 1000000) div n_lsh"))
          .otherwise(lit(0L)).as("precision_ppm"),
        when($"n_exact" > 0, expr("(n_common * 1000000) div n_exact"))
          .otherwise(lit(0L)).as("recall_ppm"))
  }

  /** Matryoshka-truncation retrieval eval (q163): how much top-k quality
    * survives truncating embeddings to their first `dims` components —
    * the cost/quality decision every embedding pipeline makes (shorter
    * vectors = cheaper index, MRL-trained models front-load signal).
    * For each harness query (vec_id % 100 = 0): top-k by full-dim
    * cosine vs top-k by prefix-dim cosine, emitting the overlap count
    * per query. The full-dim side reuses q24's memoized brute-force
    * baseline; the truncated side broadcasts the BOUNDED query set and
    * streams the corpus once — scores shuffle, vectors don't.
    *
    * Determinism: both rankings tie-break (cosine desc, vec_id) — the
    * q24-proven discipline; overlap counts are integers.
    */
  def matryoshkaEval(s: SparkSession, dir: String, k: Int = 5,
                     dims: Int = 16): DataFrame = {
    import s.implicits._
    val full = annBruteForce(s, dir)
      .select($"query_id", $"neighbor_id".as("nf"))
    val vecs = table(s, dir, "embeddings")
      .select($"vec_id", expr(s"slice(embedding, 1, $dims)").as("v"))
      .withColumn("nrm", expr(
        "sqrt(aggregate(v, cast(0.0 as double), (a, x) -> a + cast(x as double) * cast(x as double)))"))
    val queries = vecs.where($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
    // zero-norm guard (maxsimRetrieval's den != 0 convention): a vector
    // whose first `dims` components are all zero would otherwise produce
    // NaN/Infinity, and NaN sorts GREATEST under desc — silently polluting
    // the truncated top-k. -Infinity instead ranks such rows last.
    val dot = expr(
      """aggregate(zip_with(v, qv, (a, b) -> cast(a as double) * cast(b as double)),
        | cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin)
    val scored = vecs.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        when($"nrm" =!= 0.0 && $"qn" =!= 0.0, dot / ($"nrm" * $"qn"))
          .otherwise(lit(Double.NegativeInfinity)).as("c"))
    val trunc = scored
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"query_id")
          .orderBy($"c".desc, $"vec_id")))
      .where($"rk" <= k)
      .select($"query_id", $"vec_id".as("nt"))
    val hits = full.join(trunc, Seq("query_id")).where($"nf" === $"nt")
      .groupBy($"query_id").agg(count(lit(1)).as("n_overlap"))
    full.select($"query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_overlap"))
      .orderBy($"query_id")
  }

  /** Late-interaction (multi-vector) MaxSim retrieval (q171): each
    * vector is treated as 4 contiguous 16-dim sub-vectors (the ColBERT
    * shape with deterministic chunking standing in for per-token
    * vectors) and score(q, d) = Σ over query chunks of the MAX cosine
    * against any doc chunk — the late-interaction scoring single-vector
    * cosine (q24) cannot express, because a doc chunk only has to match
    * ONE facet of the query. Query panel is vec_id % 1000 (a 10x
    * smaller panel than q24's %100 — MaxSim is 4x the FLOPs per pair).
    *
    * Scale shape: unlike q24's by-spec baseline (which shuffles every
    * (query, candidate) score into the ranking window), the kernel keeps
    * a per-query bounded top-k HEAP per partition under the exact global
    * order (score DESC, vec_id ASC), so only queries x k x partitions
    * rows shuffle — top-k of a union of per-partition top-k is exact by
    * selection-order argument. Chunk sums run in fixed ascending order;
    * the oracle reproduces every subcosine, max, and 4-term sum.
    */
  def maxsimRetrieval(s: SparkSession, dir: String, k: Int = 5,
                      queryMod: Long = 1000): DataFrame = {
    import s.implicits._
    val nChunks = 4
    val qPrep = table(s, dir, "embeddings").where($"vec_id" % queryMod === 0)
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))"))
      .as[(Long, Array[Double])].collect()
      .map { case (id, v) =>
        val cw = v.length / nChunks
        val norms = Array.tabulate(nChunks) { c =>
          var ss = 0.0; var i = c * cw
          while (i < (c + 1) * cw) { ss += v(i) * v(i); i += 1 }
          math.sqrt(ss)
        }
        (id, v, norms)
      }.sortBy(_._1)
    val bq = s.sparkContext.broadcast(qPrep)
    // candidate ordering for the heaps: EXACTLY the output order
    // (score DESC, vec_id ASC); the heap evicts its current worst
    val worse = (a: (Double, Long), b: (Double, Long)) =>
      a._1 < b._1 || (a._1 == b._1 && a._2 > b._2)
    val partTopK = table(s, dir, "embeddings")
      .select($"vec_id", expr("transform(embedding, x -> cast(x as double))"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val qs = bq.value
        val heaps = new java.util.HashMap[Long, java.util.PriorityQueue[(Double, Long)]]()
        val cmp = new java.util.Comparator[(Double, Long)] {
          def compare(a: (Double, Long), b: (Double, Long)): Int =
            if (worse(a, b)) -1 else if (worse(b, a)) 1 else 0
        }
        it.foreach { case (did, dv) =>
          val cw = dv.length / nChunks
          val dn = new Array[Double](nChunks)
          var c = 0
          while (c < nChunks) {
            var ss = 0.0; var i = c * cw
            while (i < (c + 1) * cw) { ss += dv(i) * dv(i); i += 1 }
            dn(c) = math.sqrt(ss); c += 1
          }
          qs.foreach { case (qid, qv, qn) =>
            if (qid != did) {
              var score = 0.0
              var qc = 0
              while (qc < nChunks) {
                var m = Double.NegativeInfinity
                var dc = 0
                while (dc < nChunks) {
                  val den = qn(qc) * dn(dc)
                  var sub = 0.0
                  if (den != 0.0) {
                    var dot = 0.0; var i = 0
                    while (i < cw) { dot += qv(qc * cw + i) * dv(dc * cw + i); i += 1 }
                    sub = dot / den
                  }
                  if (sub > m) m = sub
                  dc += 1
                }
                score += m
                qc += 1
              }
              var h = heaps.get(qid)
              if (h == null) { h = new java.util.PriorityQueue[(Double, Long)](k + 1, cmp); heaps.put(qid, h) }
              if (h.size < k) h.add((score, did))
              else if (worse(h.peek(), (score, did))) { h.poll(); h.add((score, did)); () }
            }
          }
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        heaps.forEach { (qid, h) =>
          h.forEach(t => out += ((qid, t._2, t._1)))
        }
        out.iterator
      }.toDF("query_id", "vec_id", "score")
    val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id".asc)
    partTopK.withColumn("rank", row_number().over(w))
      .where($"rank" <= k)
      .select($"query_id", $"rank".cast("long").as("rank"), $"vec_id",
        graft.Tables.round6($"score").as("maxsim"))
      .orderBy($"query_id", $"rank")
  }
}
