package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Clustering

/** Connected components (q48's engine): the star-contraction rounds must
  * produce exactly the transitive closure's min-id labeling, whatever the
  * graph shape — chains (worst case for label propagation), stars,
  * multiple components, duplicate/reversed/self-loop edges.
  */
class ClusteringSpec extends AnyFunSuite with SparkFixture {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val spark2 = spark
    import spark2.implicits._
    Clustering.connectedComponents(edges.toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Reference closure: brute-force union-find on the driver. */
  private def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("chain, star, islands, and noise edges all label to the component min") {
    val edges = Seq[(Long, Long)](
      // a 6-link chain — label propagation would need 6 rounds
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      // a star centered high
      (100L, 50L), (100L, 60L), (100L, 70L),
      // a 2-cycle plus duplicate, reversed, and self-loop edges
      (5L, 7L), (7L, 5L), (5L, 7L), (7L, 7L),
      // an isolated pair
      (200L, 201L))
    val got = cc(edges)
    assert(got === brute(edges))
    assert((10L to 16L).forall(got(_) == 10L))
    assert(Seq(50L, 60L, 70L, 100L).forall(got(_) == 50L))
    assert(got(200L) == 200L && got(201L) == 200L)
  }

  test("fused window contraction round equals the legacy join round") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      // canonical (u > v) distinct frames, the loop's invariant
      val cur = Seq.fill(80)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
        .distinct.toDF("u", "v")
      val got = Clustering.ccRound(cur)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Clustering.ccRoundLegacy(cur)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want)
    }
    // the fused round's whole point: at most 3 exchanges (two window
    // shuffles + the final distinct) against the legacy ~6
    val plan = Clustering.ccRound(Seq((3L, 1L), (2L, 1L)).toDF("u", "v"))
      .queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nExchanges <= 3, s"fused ccRound plans $nExchanges exchanges:\n$plan")
  }

  test("randomized graphs match driver union-find") {
    val rnd = new scala.util.Random(42)
    (1 to 3).foreach { _ =>
      val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(edges) === brute(edges))
    }
  }

  test("empty edge set yields an empty labeling") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("self-loop-only nodes label as their own singleton component") {
    // 9 appears ONLY in a self-loop; 5/7 have both a self-loop and a real
    // edge; the scaladoc contract is a label for EVERY node in an edge
    val edges = Seq[(Long, Long)]((9L, 9L), (5L, 7L), (7L, 7L))
    assert(cc(edges) === Map(9L -> 9L, 5L -> 5L, 7L -> 5L))
    // degenerate: nothing but self-loops
    assert(cc(Seq((3L, 3L), (8L, 8L))) === Map(3L -> 3L, 8L -> 8L))
  }

  test("reliable-checkpoint mode converges to the identical labeling and bounds its files") {
    val spark2 = spark
    import spark2.implicits._
    val dir = tempDir("cc_reliable")
    val edges = Seq[(Long, Long)](
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (100L, 50L), (100L, 60L), (100L, 70L), (5L, 7L), (7L, 7L), (200L, 201L))
    val got = Clustering.connectedComponents(edges.toDF("a", "b"),
        checkpointDir = Some(dir.toString))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === cc(edges), "reliable and local checkpoint paths must label identically")
    // released rounds delete their checkpoint files: what remains is the
    // input edge list + at most the last two rounds, not one dir per round
    def rddDirs(f: java.io.File): Int =
      Option(f.listFiles()).getOrElse(Array.empty)
        .count(d => d.isDirectory && d.getName.startsWith("rdd-")) +
        Option(f.listFiles()).getOrElse(Array.empty)
          .filter(_.isDirectory).map(rddDirs).sum
    assert(rddDirs(dir.toFile) <= 3,
      s"checkpoint dir holds ${rddDirs(dir.toFile)} rdd dirs — released rounds not deleted")
  }

  test("q55 keep list: one representative per cluster, unclustered docs all kept") {
    val keep = Clustering.dedupKeepList(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val nDocs = Tables.table(spark, sfDir, "documents").count()
    assert(keep.length.toLong === nDocs) // every document gets a decision
    val clusterOf = Clustering.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    keep.foreach { case (id, cid, k) =>
      clusterOf.get(id) match {
        case Some(c) => assert(cid === c && k === (id == c))
        case None    => assert(cid === id && k) // unclustered: own cluster, kept
      }
    }
    // exactly one survivor per cluster id
    keep.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.count(_._3) === 1, s"cluster $cid kept ${ms.count(_._3)}")
    }
  }

  test("q57 embedding clusters are consistent with q42's pair set") {
    val spark2 = spark
    import spark2.implicits._
    val dir = "/root/testdata/sf0.01" // banding forms real pairs here
    val pairs = graft.operators.Similarity.cosineNearDupLsh(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val clusters = Clustering.embedDedupClusters(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val label = clusters.map(c => c._1 -> c._2).toMap
    assert(pairs.forall { case (a, b) => label(a) == label(b) })
    clusters.groupBy(_._2).foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid)
      assert(ms.forall(_._3 == ms.length))
    }
    assert(label.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("q48 clusters are consistent with q21's pair set") {
    val spark2 = spark
    import spark2.implicits._
    val pairs = graft.operators.TextDedup.minhashLshPairs(spark, sfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    val clusters = Clustering.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every paired doc is labeled, endpoints of a pair share a label,
    // the label is the smallest member, and sizes count members
    assert(pairs.forall { case (a, b) => label(a) == label(b) })
    val members = clusters.groupBy(_._2)
    members.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min == cid)
      assert(ms.forall(_._3 == ms.length))
    }
    assert(label.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }
}
