package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent ANN index artifacts — the piece that turns q181's IVF-PQ
  * stack from a per-session demo into the 100 TB deployment shape: a
  * production pipeline builds the index ONCE (an offline job), writes it
  * as a parquet artifact, and every retrieval job afterwards loads and
  * serves from it without repeating the k-means / PQ-training / encode
  * passes. (The reference has no vector surface at all — this extends
  * the mandated LLM-pipeline tier; layout follows the FAISS
  * IVFADC convention from Jégou et al. 2011, "Product quantization for
  * nearest neighbor search".)
  *
  * Artifact layout under `indexPath`:
  *  - `meta/`   — one row: build params, dims, and the corpus dir's
  *    content stamp (the [[OpCache.dirStamp]] convention), so serving a
  *    stale index against a rewritten corpus is an ERROR, not a silent
  *    wrong answer.
  *  - `coarse/` — (cell INT, cv ARRAY<DOUBLE>, cn DOUBLE): the coarse
  *    k-means codebook; nCells rows, loaded driver-side per job.
  *  - `pq/`     — (sub INT, code INT, centroid ARRAY<DOUBLE>): the PQ
  *    sub-codebooks; nSub x nCodes rows, loaded driver-side per job.
  *  - `codes/`  — (vec_id BIGINT, code BINARY) PARTITIONED BY cell: the
  *    coded corpus — the only corpus-sized artifact, 8 bytes/vector at
  *    the defaults. Partitioning by cell is the scale win: the serving
  *    kernel pushes its probed-cell set into the scan as an IN filter,
  *    so a query job READS only nProbe cells' directories, never the
  *    full index ([[Similarity.ivfPqServe]]'s pruning note).
  *
  * Serving reuses [[Similarity.ivfPqServe]] — the same kernel the
  * in-session path runs — so artifact round-tripping cannot change
  * results (AnnIndexStoreSpec pins row-for-row equality, and q185/q186
  * register the served path as standing queries).
  */
object AnnIndexStore {

  /** A loaded index: driver-resident codebooks + the lazy coded-corpus
    * frame (reads prune to probed cells at serve time). `iters`/`pqIters`
    * carry the build provenance so [[append]] can rewrite meta without
    * re-reading it. */
  final case class Loaded(cents: Array[(Int, Array[Double], Double)],
                          pq: Array[Array[Array[Double]]],
                          codes: DataFrame,
                          nCells: Int, nSub: Int, nCodes: Int,
                          corpusStamp: String,
                          iters: Int = 0, pqIters: Int = 0)

  /** Builds the IVF-PQ index for `dir`'s embeddings (through the same
    * memoized builders q181 uses — a same-session build+write pays the
    * build once) and persists it under `indexPath`.
    */
  def write(s: SparkSession, dir: String, indexPath: String,
            nCells: Int = 64, iters: Int = 5, nSub: Int = 8,
            nCodes: Int = 256, pqIters: Int = 3): Unit = {
    import s.implicits._
    val (cents, pq, codes) =
      Similarity.ivfPqArtifacts(s, dir, nCells, iters, nSub, nCodes, pqIters)
    Seq((nCells, iters, nSub, nCodes, pqIters, pq(0)(0).length,
        OpCache.dirStamp(dir)))
      .toDF("n_cells", "iters", "n_sub", "n_codes", "pq_iters", "sub_dim",
        "corpus_stamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
    cents.toSeq.toDF("cell", "cv", "cn")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/coarse")
    pq.zipWithIndex.flatMap { case (cb, m) =>
        cb.zipWithIndex.map { case (c, j) => (m, j, c) }
      }.toSeq.toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/pq")
    // one directory per cell, ONE file per cell: without the repartition
    // every encode-pass task opens a writer per cell it touches, so the
    // codes table lands as (tasks x cells) tiny files — listing/open
    // overhead on every later load and the guide §6 small-files trap at
    // scale. Hash-distributing on cell first costs one shuffle of the
    // 8-byte codes and bounds the artifact at nCells files.
    codes.select($"vec_id", $"code", $"cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite")
      .parquet(s"$indexPath/codes")
  }

  /** Loads codebooks driver-side and opens the coded corpus lazily. */
  def load(s: SparkSession, indexPath: String): Loaded = {
    import s.implicits._
    val meta = s.read.parquet(s"$indexPath/meta").collect()(0)
    val nCells = meta.getAs[Int]("n_cells")
    val nSub = meta.getAs[Int]("n_sub")
    val nCodes = meta.getAs[Int]("n_codes")
    val subDim = meta.getAs[Int]("sub_dim")
    val cents = s.read.parquet(s"$indexPath/coarse")
      .select($"cell", $"cv", $"cn")
      .as[(Int, Array[Double], Double)].collect().sortBy(_._1)
    require(cents.length == nCells,
      s"ANN index at $indexPath: coarse codebook has ${cents.length} cells, meta says $nCells")
    val pqFlat = s.read.parquet(s"$indexPath/pq")
      .select($"sub", $"code", $"centroid")
      .as[(Int, Int, Array[Double])].collect()
    require(pqFlat.length == nSub * nCodes,
      s"ANN index at $indexPath: ${pqFlat.length} PQ rows, meta says ${nSub * nCodes}")
    val pq = Array.ofDim[Array[Double]](nSub, nCodes)
    pqFlat.foreach { case (m, j, c) =>
      require(c.length == subDim, s"PQ centroid ($m,$j) has dim ${c.length}, meta says $subDim")
      pq(m)(j) = c
    }
    val codes = s.read.parquet(s"$indexPath/codes")
      .select($"cell".cast("int").as("cell"), $"vec_id", $"code")
    Loaded(cents, pq, codes, nCells, nSub, nCodes,
      meta.getAs[String]("corpus_stamp"),
      meta.getAs[Int]("iters"), meta.getAs[Int]("pq_iters"))
  }

  /** Serves top-k ANN from a loaded artifact — probe, ADC over the
    * pruned cell directories, exact refine against `dir`'s raw vectors.
    * Refuses to serve an index whose recorded corpus stamp disagrees
    * with the corpus on disk (same staleness rule as the session memos;
    * "unstamped" — a filesystem the stamp walk can't resolve — degrades
    * to caller-guaranteed immutability, matching [[OpCache.dirStamp]]).
    */
  def serve(s: SparkSession, dir: String, idx: Loaded, queries: DataFrame,
            k: Int = 5, nProbe: Int = 8, kAdc: Int = 32): DataFrame = {
    val now = OpCache.dirStamp(dir)
    require(idx.corpusStamp == "unstamped" || now == "unstamped" ||
        idx.corpusStamp == now,
      s"ANN index was built against corpus stamp ${idx.corpusStamp} but $dir now stamps $now — rebuild the index")
    Similarity.ivfPqServe(s, Similarity.rawVecs(s, dir), idx.cents, idx.pq,
      idx.codes, queries, k, nProbe, kAdc)
  }

  /** Incremental index APPEND — the freshness path: when the corpus dir
    * GROWS (new embedding files land), encode only the delta with the
    * artifact's FROZEN codebooks and append the codes to the
    * cell-partitioned table, instead of rebuilding the whole index
    * (codebooks are trained on a bounded sample, so a frozen codebook
    * over a grown corpus is the standard IVF freshness trade — re-train
    * on drift, not on every arrival). The encode rides the same kernel
    * as the batch build ([[Similarity.encodePqCodes]]), so an appended
    * row's (cell, code) is bit-identical to what a rebuild with these
    * codebooks would assign — AnnIndexStoreSpec pins it. Meta is
    * rewritten with the corpus dir's CURRENT stamp, re-arming the
    * stale-serve guard around the grown corpus.
    *
    * `newVecs`: any `(vec_id, embedding)` frame (the delta). Ids must be
    * new; serving assumes every coded id resolves in `dir`'s embeddings
    * table for the exact refine.
    */
  def append(s: SparkSession, dir: String, indexPath: String,
             newVecs: org.apache.spark.sql.DataFrame,
             preloaded: Option[Loaded] = None): Unit = {
    import s.implicits._
    // a caller that already holds the loaded index (the q188 audit) skips
    // the re-load: 3 driver collects of files this JVM just wrote
    val idx = preloaded.getOrElse(load(s, indexPath))
    val vecs = Similarity.queryDs(s, newVecs).toDF("vec_id", "v", "nrm")
    val assigned = Similarity.assignCells(s, vecs, idx.cents)
    Similarity.encodePqCodes(s, assigned,
        s.sparkContext.broadcast(idx.pq), idx.pq(0)(0).length)
      .toDF("cell", "vec_id", "code")
      .select($"vec_id", $"code", $"cell")
      .repartition(col("cell")) // same nCells-file discipline as the build
      .write.partitionBy("cell").mode("append")
      .parquet(s"$indexPath/codes")
    // refresh ONLY the corpus stamp; build provenance fields carry over
    // from the loaded index (sub_dim = the codebooks' own sub-dimension)
    Seq((idx.nCells, idx.iters, idx.nSub, idx.nCodes, idx.pqIters,
        idx.pq(0)(0).length, OpCache.dirStamp(dir)))
      .toDF("n_cells", "iters", "n_sub", "n_codes", "pq_iters", "sub_dim",
        "corpus_stamp")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/meta")
  }

  /** q185: the registered index ROUND TRIP — first call per (session,
    * corpus, params) builds and WRITES the artifact; every call loads it
    * back from parquet and serves the harness query panel through the
    * shared kernel. This is the deployment lifecycle as one query:
    * steady-state cost is load(2 small files) + pruned probe scan, with
    * no build anywhere on the serve path (AnnIndexStoreSpec proves it by
    * dropping every session memo between write and serve). Engine-
    * specific estimates → rows-only under the driver; the spec pins
    * row-for-row equality with q181's in-session result.
    */
  def annIndexServe(s: SparkSession, dir: String, k: Int = 5,
                    nCells: Int = 64, nProbe: Int = 8, iters: Int = 5,
                    nSub: Int = 8, nCodes: Int = 256, pqIters: Int = 3,
                    kAdc: Int = 32): DataFrame = {
    val path = artifactPath(s, dir, nCells, iters, nSub, nCodes, pqIters)
    serve(s, dir, load(s, path), Similarity.harnessQueries(s, dir),
      k, nProbe, kAdc)
  }

  /** q186: kNN majority-vote classification fed from the PERSISTED
    * index — q94's `knnClassifyFrom` seam consuming artifact-served
    * neighbors instead of a session-built index: the label-lookup
    * deployment shape (build the index offline, classify from it in
    * every job). Rows-only; the spec pins vote equality with the
    * in-session IVF-PQ feed.
    */
  def knnClassifyFromIndex(s: SparkSession, dir: String, k: Int = 5,
                           nProbe: Int = 8): DataFrame =
    Similarity.knnClassifyFrom(s, dir,
      annIndexServe(s, dir, k = k, nProbe = nProbe))

  /** q188: the index FRESHNESS lifecycle as one self-staging query —
    * stage a scratch replica of the session's artifact (hardlinks off
    * the once-per-corpus-stamp build+write, the production "append to
    * an EXISTING index" cadence), append a delta of exact twin vectors
    * under shifted ids with the FROZEN codebooks, reload, and report
    * the audit a production pipeline would alert on: every appended row
    * must land in the same cell with the same 8-byte code as its
    * original ([[append]]'s bit-identity claim as a driver-visible
    * number — `n_appended` = `n_code_matches` or the freshness path
    * drifted from the build). The append + reload + one-pass audit run
    * in full on EVERY call (no result memo — see the round-12 honesty
    * note); only the pre-append artifact staging is replicated instead
    * of re-written. Engine-specific → rows-only; AnnIndexStoreSpec
    * additionally pins the full grown-corpus serve with the
    * stale-guard re-arm.
    */
  def annIndexAppendAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.io.Scratch.withWorkDir("q188_annidx") { work =>
      val idxPath = work.resolve("idx").toString
      // Stage the audit's scratch artifact by REPLICATING the session's
      // memoized artifact (hardlinks; build+write priced once per corpus
      // stamp by artifactPath, shared with q185/q186) instead of
      // re-running the whole Spark write chain per call. This is also
      // the production cadence: an append audit runs against an
      // EXISTING index artifact — nobody rebuilds the base index before
      // every append. Replication is required (not a symlink): append
      // writes new part files INTO codes/ cell dirs and overwrites
      // meta/, which must not touch the shared artifact.
      replicate(java.nio.file.Paths.get(
        artifactPath(s, dir, 64, 5, 8, 256, 3)),
        java.nio.file.Paths.get(idxPath))
      val shift = 1000000000L
      val delta = graft.Tables.table(s, dir, "embeddings")
        .where($"vec_id" % 10 === 9)
        .select(($"vec_id" + shift).as("vec_id"), $"embedding")
      // one load serves both the append (frozen codebooks) and the audit
      // shape below; append writes codes + refreshed meta off it
      val idx = load(s, idxPath)
      append(s, dir, idxPath, delta, Some(idx))
      // re-open only the grown codes table (codebooks/meta are unchanged
      // by the append except the stamp, which the audit does not read) and
      // audit it in ONE pass: tag each row base/appended, group by the
      // un-shifted id, compare (cell, code) within the group — replacing
      // the former base-scan + appended-scan + join + third base-scan
      // (three reads of the same table and a shuffle join for a
      // per-row-pair equality check). Same three numbers, bit for bit:
      // ids are unique per side, so min() just extracts the side's value.
      val codes = s.read.parquet(s"$idxPath/codes")
        .select($"cell".cast("int").as("cell"), $"vec_id", $"code")
      val tagged = codes.select(
        ($"vec_id" >= shift).as("is_app"),
        when($"vec_id" >= shift, $"vec_id" - shift).otherwise($"vec_id").as("key"),
        $"cell", $"code")
      val perKey = tagged.groupBy($"key").agg(
        sum(when(!$"is_app", 1L).otherwise(0L)).as("nb"),
        sum(when($"is_app", 1L).otherwise(0L)).as("na"),
        min(when(!$"is_app", $"cell")).as("c0"),
        min(when($"is_app", $"cell")).as("c1"),
        min(when(!$"is_app", $"code")).as("k0"),
        min(when($"is_app", $"code")).as("k1"))
      val out = perKey.agg(
        sum($"nb").as("n_base"),
        sum(when($"na" > 0 && $"nb" > 0, 1L).otherwise(0L)).as("n_appended"),
        sum(when($"na" > 0 && $"nb" > 0 &&
          $"c0" === $"c1" && $"k0" === $"k1", 1L).otherwise(0L))
          .as("n_code_matches"))
        .select($"n_base", $"n_appended", $"n_code_matches")
      graft.io.Scratch.collected(out) // 1 row; break lineage off the temp dir
    }
  }

  /** The registered queries' auto-built artifact: an [[OpCache.directory]]
    * memo, so a rewritten corpus rebuilds it instead of tripping the serve
    * guard. (A written artifact outlives any session — a fresh session
    * pointed at the same path serves without rebuilding; that is the
    * point of [[write]].)
    */
  private[graft] def artifactPath(s: SparkSession, dir: String, nCells: Int,
      iters: Int, nSub: Int, nCodes: Int, pqIters: Int): String =
    OpCache.directory("annidx", s, dir, s"$nCells|$iters|$nSub|$nCodes|$pqIters") { p =>
      write(s, dir, p.toString, nCells, iters, nSub, nCodes, pqIters)
    }.toString

  /** Replicates an artifact tree: real directories, HARDLINKED files
    * (same bytes, zero copy; falls back to a byte copy across devices or
    * on filesystems without links). Hardlinks are append-safe here:
    * parquet append only ADDS part files and mode("overwrite") unlinks —
    * neither mutates a linked file's bytes, so the source artifact stays
    * untouched whatever the replica does.
    */
  private def replicate(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val st = java.nio.file.Files.walk(src)
    try {
      val it = st.iterator()
      while (it.hasNext) {
        val p = it.next()
        val d = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) {
          java.nio.file.Files.createDirectories(d); ()
        } else {
          try { java.nio.file.Files.createLink(d, p); () }
          catch {
            case _: UnsupportedOperationException | _: java.io.IOException =>
              java.nio.file.Files.copy(p, d): Unit
          }
        }
      }
    } finally st.close()
  }

}
