package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step every near-dup
  * pipeline needs AFTER pair detection: near-duplication is transitive in
  * practice (A~B, B~C usually means keep one of {A,B,C}), so dedup acts on
  * components, not pairs.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
  * two shuffles (a per-node min aggregation + an equi-join back), the edge
  * set only ever shrinks toward stars, and convergence is O(log n) rounds.
  * No driver-side graph state: the driver sees only per-round edge counts.
  * Label propagation (each node takes its neighborhood min) needs
  * O(diameter) rounds — a 1000-link chain of near-identical docs (crawl
  * mirrors) would take 1000 shuffles; star contraction takes ~10.
  */
object Clustering {

  /** edges: two numeric columns (undirected, duplicates/self-loops fine).
    * Returns (node, component) for EVERY node that appears in an edge —
    * including nodes appearing only in self-loops, which label as their
    * own singleton component — where component = the smallest node id in
    * its connected component.
    *
    * Each round checkpoints its frames to truncate the growing lineage,
    * and releases the PREVIOUS round's storage once the new round is
    * materialized — at most two rounds of edges are ever held however
    * many rounds run. `checkpointDir = None` (default) uses
    * `localCheckpoint` — fastest, but blocks die with their executor, the
    * right trade single-node and on healthy clusters. Passing a
    * `checkpointDir` switches every round to RELIABLE `checkpoint()`
    * into that (HDFS/object-store) path: a lost executor recomputes from
    * the checkpoint files instead of failing the 50-round job — the
    * hardening for lossy clusters; released rounds delete their files so
    * the dir also holds at most two rounds. The convergence test is
    * exact set equality — count match plus one-sided `except` — never a
    * hash signature that could false-converge.
    */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50,
                          checkpointDir: Option[String] = None): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val reliable = checkpointDir.isDefined
    // setCheckpointDir is SparkContext-GLOBAL: remember the caller's dir
    // and restore it on exit (all our checkpoint writes happen eagerly
    // inside the loop's count/except actions, so the restore cannot race
    // the returned lazy plan). A caller with NO prior dir keeps ours —
    // the public API cannot unset it — which is harmless: they had no
    // checkpoint configuration to clobber.
    val prevCkptDir = s.sparkContext.getCheckpointDir
    checkpointDir.foreach(d => s.sparkContext.setCheckpointDir(d))
    try {
    // checkpoint boundary: materialize as a checkpointed RDD of (u, v)
    // pairs and keep the RDD handle so the round that stops needing it
    // can release it explicitly (Dataset.localCheckpoint offers no
    // public handle to its blocks). Reliable mode persists before
    // checkpointing — the standard pairing, or the checkpoint job
    // recomputes the whole round's lineage a second time.
    def ckpt(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val rdd = df.as[(Long, Long)].rdd
      if (reliable) {
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        rdd.checkpoint()
      } else rdd.localCheckpoint(): Unit
      (s.createDataset(rdd).toDF("u", "v"), rdd)
    }
    // release = blocks always; in reliable mode also the checkpoint
    // files, or a long convergence leaves maxRounds copies of the edge
    // set in the checkpoint store
    def release(rdd: org.apache.spark.rdd.RDD[(Long, Long)]): Unit = {
      rdd.unpersist(blocking = false)
      if (reliable) rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true): Unit
      }
    }
    // checkpoint the INPUT edge list once: both the canonical orientation
    // and the final self-loop sweep read it, and without the checkpoint
    // each would re-evaluate the caller's whole edge-producing plan (for
    // q48/q55 that is a full near-dup pair detection)
    val raw = ckpt(edges.toDF("a", "b")
      .select(col("a").cast("long").as("a"), col("b").cast("long").as("b")))
      ._1.toDF("a", "b")
    // canonical orientation u > v; drop self-loops and duplicates
    var (cur, curRdd) = ckpt(raw
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .where($"u" =!= $"v").distinct())
    var curCount = cur.count()
    var round = 0
    var converged = curCount == 0L
    while (!converged && round < maxRounds) {
      val (small, smallRdd) = ckpt(ccRound(cur))
      val smallCount = small.count()
      converged = smallCount == curCount && small.except(cur).isEmpty
      // the count + except actions materialized `small`; the previous
      // round's storage (cur) is dead — release it now
      release(curRdd)
      cur = small
      curRdd = smallRdd
      curCount = smallCount
      round += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")
    // at the star fixpoint every edge is (node, root); roots map to themselves
    val labeled = cur.select($"u".as("node"), $"v".as("component"))
      .union(cur.select($"v".as("node"), $"v".as("component")).distinct())
    // nodes appearing ONLY in self-loops never reach round 0 (the u =!= v
    // filter drops them) but are still "nodes in an edge": label each as
    // its own singleton component
    val selfOnly = raw.where($"a" === $"b").select($"a".as("node")).distinct()
      .join(labeled.select($"node"), Seq("node"), "left_anti")
      .select($"node", $"node".as("component"))
    labeled.union(selfOnly)
    } finally {
      if (reliable) prevCkptDir.foreach(d => s.sparkContext.setCheckpointDir(d))
    }
  }

  /** ONE alternating large-star + small-star contraction round over the
    * canonical (u > v) edge frame, as a single fused plan (round-13
    * restructure; guide §2.4 — fewer shuffles per iteration). Both star
    * steps ride window minima over their partition-by-node frame instead
    * of a groupBy(min) + equi-join back (the q142 windowed-degree trick):
    * 3 exchanges per round (large-star window, small-star window, final
    * distinct) where the join form paid ~6 across two separately
    * checkpointed jobs. Per-step distincts are dropped: neither star's
    * min is affected by duplicate rows, per-step output rows never exceed
    * input rows, and the final distinct restores set semantics for the
    * convergence test. No per-node neighbor buffering anywhere, so a hub
    * node with 10^7 neighbors costs a skewed sort key, never executor
    * memory.
    *
    * large-star: every neighbor v > u links to m = min(N(u) ∪ {u}).
    * m ≤ u < v for every kept row, so the emitted (v, m) edge is already
    * canonical (big, small) and never a self-loop — the join form's
    * greatest/least + u≠v re-canonicalization was provably dead code.
    *
    * small-star on the canonical orientation: all smaller neighbors (and
    * u itself) link to the smallest neighbor m. first(v) over the
    * v-ordered window IS min(v) (the default frame starts at the
    * partition head), and row_number = 1 marks the one row per node that
    * also emits the (u, m) edge; both window functions share one spec, so
    * this step plans a single exchange + sort. Emitted rows stay
    * canonical: m = min(v) ≤ v < u.
    */
  private[graft] def ccRound(cur: DataFrame): DataFrame = {
    val s = cur.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val nbrs = cur.select($"u", $"v")
      .union(cur.select($"v".as("u"), $"u".as("v")))
    val large = nbrs
      .withColumn("m", least(min($"v").over(Window.partitionBy($"u")), $"u"))
      .where($"v" > $"u")
      .select($"v".as("u"), $"m".as("v"))
    val ws = Window.partitionBy($"u").orderBy($"v")
    large
      .withColumn("m", first($"v").over(ws))
      .withColumn("rn", row_number().over(ws))
      .select(explode(array(
        when($"rn" === 1, struct($"u".as("a"), $"m".as("b"))),
        when($"v" =!= $"m", struct($"v".as("a"), $"m".as("b"))))).as("e"))
      .where($"e".isNotNull)
      .select($"e.a".as("u"), $"e.b".as("v"))
      .distinct()
  }

  /** Round-12's join-form contraction round, kept as the equivalence
    * spec's reference: identical output set to [[ccRound]] on any
    * canonical edge frame, ~6 exchanges against its 3.
    */
  private[graft] def ccRoundLegacy(cur: DataFrame): DataFrame = {
    val s = cur.sparkSession
    import s.implicits._
    val nbrs = cur.select($"u", $"v")
      .union(cur.select($"v".as("u"), $"u".as("v")))
    val minsL = nbrs.groupBy($"u").agg(min($"v").as("mv"))
      .select($"u", least($"mv", $"u").as("m"))
    val large = nbrs.join(minsL, "u").where($"v" > $"u")
      .select(greatest($"v", $"m").as("u"), least($"v", $"m").as("v"))
      .where($"u" =!= $"v").distinct()
    val minsS = large.groupBy($"u").agg(min($"v").as("m"))
    large.join(minsS, "u")
      .where($"v" =!= $"m").select($"v".as("a"), $"m".as("b"))
      .union(minsS.select($"u".as("a"), $"m".as("b")))
      .select(greatest($"a", $"b").as("u"), least($"a", $"b").as("v"))
      .where($"u" =!= $"v").distinct()
  }

  /** Connected components over the minhash-LSH verified pair set,
    * memoized through [[OpCache]] exactly like the pair frame beneath it:
    * FOUR registered queries (q48 clusters, q55 keep list, q66 canonical
    * docs, q162 capped sample) consume the identical component labeling.
    * A production dedup clusters once and fans the labels out to every
    * downstream decision — without the memo each consumer re-ran the
    * whole star-contraction loop (N rounds x 2 shuffles + convergence
    * actions) on the same pairs for the same answer. Only the final
    * (node, component) frame is cached — pair-bounded, far smaller than
    * the corpus; the loop's per-round checkpoints die with the build.
    * (guide §2.4: two operations keyed the same way share one exchange —
    * here four operators share the entire closure computation.)
    */
  private[operators] def lshComponents(s: SparkSession, dir: String): DataFrame =
    OpCache.dataset("lshComponents", s, dir) {
      import s.implicits._
      val pairs = TextDedup.minhashLshPairs(s, dir).select($"doc_a", $"doc_b")
      connectedComponents(pairs)
    }.toDF()

  /** q48: near-dup clusters over the minhash-LSH verified pairs (q21's
    * exact-Jaccard >= 0.8 pair set) — each clustered document with its
    * cluster id (smallest doc_id in the component) and the cluster size.
    * The "keep one per cluster" form is `doc_id = cluster_id`; emitting the
    * full membership keeps the oracle check over every assignment.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cc = lshComponents(s, dir)
      .select($"node".as("doc_id"), $"component".as("cluster_id"))
    val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select($"doc_id", $"cluster_id", $"cluster_size")
      .orderBy($"doc_id")
  }

  /** q57: near-dup clusters on the EMBEDDING side — q42's LSH-fed exact
    * cosine pairs (threshold 0.45, fully oracle-reproducible) closed into
    * components, mirroring q48's text-side clusters. Semantic dedup acts
    * on these the same way: keep one representative per component.
    */
  def embedDedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Similarity.cosineNearDupLsh(s, dir).select($"vec_a", $"vec_b")
    val cc = connectedComponents(pairs)
      .select($"node".as("vec_id"), $"component".as("cluster_id"))
    val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select($"vec_id", $"cluster_id", $"cluster_size")
      .orderBy($"vec_id")
  }

  /** q55: the dedup DECISION a pipeline actually executes after
    * clustering — every document labeled with its cluster id (its own id
    * when unclustered) and `keep` = "is the cluster representative"
    * (smallest doc_id in the component, the deterministic choice). The
    * kept corpus is `where(keep)`; emitting every row keeps the oracle
    * over each decision, not just the survivors.
    *
    * Shape: the near-dup pair set (corpus-sparse) drives the component
    * rounds; the full corpus only flows through one LEFT join against the
    * component labels — no per-doc state beyond that join.
    */
  def dedupKeepList(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cc = lshComponents(s, dir)
      .select($"node".as("doc_id"), $"component")
    graft.Tables.table(s, dir, "documents").select($"doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"component", $"doc_id").as("cluster_id"))
      .withColumn("keep", ($"doc_id" === $"cluster_id").as("keep"))
      .orderBy($"doc_id")
  }

  /** q66: canonical-document selection — the keep rule a production dedup
    * actually wants. [[dedupKeepList]] keeps the smallest doc_id per
    * cluster (arbitrary but deterministic); this keeps the HIGHEST-QUALITY
    * copy: q48's components joined to q27's quality score, representative
    * = argmax(score) with doc_id as the tie-break. Scores are the already-
    * rounded 1e-6 values, so the ordering (and therefore the keep set) is
    * bit-identical to the oracle's.
    *
    * Shape: the component closure plus one window over cluster_id —
    * cluster sizes are small by construction (near-dup groups), and
    * singletons dominate, so the window partition never concentrates; no
    * new shuffle class beyond q55's.
    */
  def canonicalDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val cc = lshComponents(s, dir)
      .select($"node".as("doc_id"), $"component")
    val labeled = TextAnalysis.qualityScore(s, dir).select($"doc_id", $"score")
      .join(cc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"component", $"doc_id").as("cluster_id"), $"score")
    val w = Window.partitionBy($"cluster_id").orderBy($"score".desc, $"doc_id".asc)
    labeled
      .withColumn("keep", (row_number().over(w) === 1).as("keep"))
      .select($"doc_id", $"cluster_id", $"score", $"keep")
      .orderBy($"doc_id")
  }

  /** Integer-quantized PageRank over the part↔supplier bipartite graph
    * (q142): supplier importance by shared-part structure — the graph
    * centrality primitive (GraphX's flagship) expressed as Pregel-style
    * join+aggregate rounds, no GraphX dependency. Nodes are parts (2p)
    * and suppliers (2s+1); edges are the DISTINCT (l_partkey, l_suppkey)
    * pairs in both directions, so edge count is linear in lineitem and
    * the graph needs no quadratic co-supplier self-join.
    *
    * Ranks live in ppm units (r0 = 1,000,000) and every step is integer:
    * contribution = r div deg (per edge, deterministic), update
    * r' = 150000 + (85 · Σ contrib) div 100 — the damping-0.15 form with
    * both engines running the identical truncating divisions, so 5
    * rounds stay hash-exact with the oracle's unrolled CTE chain.
    * Dangling mass: none — every node in the pair list has degree ≥ 1.
    *
    * Scale shape: the edge frame (with per-src degree attached) is
    * repartitioned on src and cached ONCE (OpCache, dir-stamped); each
    * round's join then reuses that partitioning, so only the node-sized
    * rank frame shuffles per round — 5 rounds = 5 small shuffles plus
    * one cached big build, the same discipline a 100 TB Pregel runs.
    */
  def bipartitePagerank(s: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val edges = OpCache.dataset("prEdges", s, dir)(pagerankEdgesWindowed(s, dir))
    pagerankFromEdges(s, edges.toDF(), iters)
  }

  /** The q142 edge-with-degree build in ONE shuffle: the per-src degree
    * rides a count window over the src-partitioned frame, whose output
    * partitioning is exactly the hashpartitioning(src) every Pregel
    * round's join demands — replacing the round-11 build's
    * groupBy(deg) + 2E-row join + repartition chain (3 extra 2E-row
    * movements). Measured at sf10: build 41.5 -> 20.6 s, build spill
    * 27.4 -> 14.8 GB mem / 4.3 -> 2.5 GB disk, identical edge count and
    * round cost (BENCH_NOTES "Round-12 spill-tail probes").
    */
  private def pagerankEdgesWindowed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.Tables.table(s, dir, "lineitem")
      .select($"l_partkey", $"l_suppkey").distinct()
    val e = pairs.select(($"l_partkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .unionByName(pairs.select(($"l_suppkey" * 2 + 1).as("src"), ($"l_partkey" * 2).as("dst")))
    e.withColumn("deg", count(lit(1)).over(Window.partitionBy($"src")))
  }

  /** The Pregel rounds + supplier tail over the cached (src, dst, deg)
    * edge frame. Per-round `localCheckpoint` of the rank frame measured
    * slower at 5 rounds (BENCH_NOTES "q142 per-round localCheckpoint:
    * negative result"), and computing contrib on the node-sized frame
    * before the edge join bought nothing (BENCH_NOTES "Round-13 focused
    * ladders", negative results).
    */
  private def pagerankFromEdges(s: SparkSession, edges: DataFrame,
                                iters: Int): DataFrame = {
    import s.implicits._
    var ranks = edges.select($"src".as("node"), $"deg").distinct()
      .select($"node", lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      // SHUFFLE_HASH: an SMJ here re-sorts the 2E-row cached edge frame
      // EVERY round (the cache preserves partitioning, not sort order) —
      // hashing the node-sized rank side instead keeps each round one
      // probe pass + the groupBy shuffle (q03's adopted trade, same
      // reasoning; measured at sf10 in BENCH_NOTES).
      ranks = edges.join(ranks.hint("SHUFFLE_HASH"), edges("src") === ranks("node"))
        .select($"dst", expr("r div deg").as("contrib"))
        .groupBy($"dst").agg(sum($"contrib").as("c"))
        .select($"dst".as("node"), (lit(150000L) + expr("(85 * c) div 100")).as("r"))
    }
    val sdeg = edges.select($"src", $"deg").distinct()
      .where($"src" % 2 === 1)
    ranks.where($"node" % 2 === 1)
      .join(sdeg, ranks("node") === sdeg("src"))
      .select(expr("(node - 1) div 2").as("s_suppkey"), $"deg".as("degree"),
        $"r".as("rank_ppm"))
      .orderBy($"s_suppkey")
  }

  /** Entity resolution over fuzzy name matches (q144): q103's blocked
    * Levenshtein pairs (edit distance ≤ 2 within a last-word block)
    * closed into connected components, each name mapped to a canonical
    * representative — the master-data dedup that turns "goldenrod
    * lavender spring" / "goldenrod lavendar spring" into ONE entity.
    * Canonical = lexicographic min name in the component (plain-ASCII
    * names, so byte order is collation-safe cross-engine); cluster_size
    * counts member names, n_parts sums the part rows behind them.
    *
    * Scale shape: nodes enter CC as hash60(name) longs (the engine-wide
    * 60-bit content id — collision odds negligible at any corpus size,
    * same argument as q19/q64); the component→canonical mapping is one
    * groupBy over the name frame, which is DISTINCT-name-bounded, not
    * part-bounded. Singletons never touch the CC loop: names absent
    * from the pair list keep themselves as canonical via the left join.
    * CC itself is the q48 star-contraction loop — O(log n) rounds.
    */
  def entityResolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = graft.Tables.table(s, dir, "part")
      .groupBy($"p_name").agg(count(lit(1)).as("n_parts"))
      .withColumn("id", expr("hash60(p_name)"))
    val pairs = TextDedup.fuzzyNamePairs(s, dir)
      .select(expr("hash60(name_a)").as("u"), expr("hash60(name_b)").as("v"))
    val cc = connectedComponents(pairs)
    val withComp = names.join(cc, names("id") === cc("node"), "left")
      .select($"p_name", $"n_parts", coalesce($"component", $"id").as("comp"))
    val canon = withComp.groupBy($"comp").agg(
      min($"p_name").as("canonical_name"),
      count(lit(1)).as("cluster_size"),
      sum($"n_parts").as("cluster_parts"))
    withComp.join(canon, "comp")
      .select($"p_name", $"canonical_name", $"cluster_size", $"cluster_parts")
      .orderBy($"p_name")
  }

  /** Support-filtered co-purchase triangles (q148): parts that pairwise
    * co-occur in ≥ `minSupport` distinct orders, closed into triangles —
    * the frequent-itemset step up from q126's pairwise basket lift
    * (a triangle is a 3-itemset candidate whose every 2-subset is
    * frequent, exactly Apriori's candidate rule). One row per triangle
    * with the weakest edge's support as its strength.
    *
    * Scale shape: the pair generator self-joins the distinct
    * (order, part) frame WITHIN an order — fan-out hard-bounded by the
    * per-order line count (≤ 7 here, ≤ C(7,2)=21 pairs), so pair
    * instances stay linear in lineitem. A collect_set+inline-explode
    * variant was probed and REJECTED by measurement: equal at sf1 but
    * 1.5-3× slower and erratic at sf10 (object aggregation of 15M small
    * arrays falls back to sort-based agg and churns GC; columnar
    * narrow-long shuffles are cheaper than they look — BENCH_NOTES,
    * q148 probe). The
    * support filter is THE lever — random co-occurrence thins as the
    * catalog grows, so the surviving edge set SHRINKS superlinearly with
    * SF (3.4k edges at sf0.01, and the triangle join runs only on that
    * pruned frame). Edges are oriented low-id→high-id once, so each
    * triangle materializes exactly once — no post-hoc dedup of 6
    * permutations. The one corpus-sized op is the pair groupBy
    * (map-side combined).
    */
  /** Support-filtered co-purchase edge frame shared by q148 (triangles)
    * and q172 (label propagation): distinct (order, part) self-joined
    * within order, pairs kept at >= minSupport co-occurrences. Memoized
    * through OpCache (dir-stamped) — the order self-join is the dominant
    * build cost and both graph operators read the identical frame.
    */
  private[operators] def copurchaseEdges(s: SparkSession, dir: String,
                                         minSupport: Int): DataFrame =
    OpCache.dataset("copurchaseEdges", s, dir, minSupport) {
        import s.implicits._
        val op = graft.Tables.table(s, dir, "lineitem")
          .select($"l_orderkey", $"l_partkey").distinct()
        op.as("a").join(op.as("b"),
            $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
          .groupBy($"a.l_partkey".as("pa"), $"b.l_partkey".as("pb"))
          .agg(count(lit(1)).as("c"))
          .where($"c" >= minSupport)
      }

  def copurchaseTriangles(s: SparkSession, dir: String,
                          minSupport: Int = 2): DataFrame = {
    import s.implicits._
    val edges = copurchaseEdges(s, dir, minSupport)
    val e1 = edges.select($"pa".as("a"), $"pb".as("b"), $"c".as("c1"))
    val e2 = edges.select($"pa".as("b2"), $"pb".as("c"), $"c".as("c2"))
    val e3 = edges.select($"pa".as("a3"), $"pb".as("c3"), $"c".as("c3s"))
    e1.join(e2, $"b" === $"b2")
      .join(e3, $"a" === $"a3" && $"c" === $"c3")
      .select($"a".as("part_a"), $"b".as("part_b"), $"c".as("part_c"),
        least($"c1", $"c2", $"c3s").as("support"))
      .orderBy($"part_a", $"part_b", $"part_c")
  }

  /** Cluster-capped sampling decision (q162): within every near-dup
    * cluster (q48's components), keep at most `cap` documents — the
    * middle ground real pretraining pipelines ship between "keep all
    * duplicates" (over-weights templated content) and "keep one" (q55 —
    * loses legitimate variation). The keep choice is the q80/q151
    * seedless discipline: rank by hash60(doc_id) inside the cluster, so
    * the sample is reproducible across runs, engines, and backfills and
    * uncorrelated with doc_id assignment order.
    *
    * Scale shape: the pair frame and CC are the memoized q48 machinery;
    * the rank window partitions by cluster (bounded groups); output is
    * one row per CLUSTERED doc (singletons are always kept — emitting
    * them would just pad the frame with constant rows).
    */
  def clusterCappedSample(s: SparkSession, dir: String,
                          cap: Int = 2): DataFrame = {
    import s.implicits._
    val cc = lshComponents(s, dir)
      .select($"node".as("doc_id"), $"component".as("cluster_id"))
    val sizes = cc.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .withColumn("keep_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy(expr("hash60(cast(doc_id as string))"), $"doc_id")))
      .select($"doc_id", $"cluster_id", $"cluster_size",
        $"keep_rank".cast("long").as("keep_rank"),
        ($"keep_rank" <= cap).as("kept"))
      .orderBy($"doc_id")
  }

  /** Synchronous label propagation (q172): community detection on the
    * co-purchase graph — the third graph primitive after CC (q48 family,
    * min-label convergence) and PageRank (q142, rank diffusion). LPA
    * finds DENSE regions: each round every node adopts its neighbors'
    * most frequent label, ties to the SMALLEST label, for exactly
    * `rounds` synchronous rounds (fixed count keeps it deterministic and
    * oracle-unrollable; async LPA is order-dependent by construction).
    * Nodes keep their own label only when a round leaves them isolated —
    * every node here has degree >= 1, so labels always come from the
    * neighbor vote.
    *
    * Scale shape: the edge frame is the memoized q148 co-purchase build;
    * each round is one edge-sized join + a (node, label)-bounded
    * count/argmax — the Pregel discipline of q142, 3 small shuffles for
    * 3 rounds. The vote tie-break (count DESC, label ASC) is a
    * deterministic window, partitioned by node.
    */
  def labelPropagation(s: SparkSession, dir: String, rounds: Int = 3,
                       minSupport: Int = 2): DataFrame = {
    import s.implicits._
    val e = copurchaseEdges(s, dir, minSupport)
    val sym = e.select($"pa".as("u"), $"pb".as("v"))
      .unionByName(e.select($"pb".as("u"), $"pa".as("v")))
    var labels = sym.select($"u").distinct().select($"u", $"u".as("lbl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"u").orderBy($"c".desc, $"nl".asc)
    for (_ <- 1 to rounds) {
      labels = sym.join(labels.withColumnRenamed("u", "v2"), sym("v") === $"v2")
        .select(sym("u"), $"lbl".as("nl"))
        .groupBy($"u", $"nl").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .where($"rk" === 1)
        .select($"u", $"nl".as("lbl"))
    }
    labels.select($"u".as("part_id"), $"lbl".as("label"))
      .orderBy($"part_id")
  }
}
