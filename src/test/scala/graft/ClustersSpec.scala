package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clusters, Fixpoint}

/** Connected-components fixpoint: exact min-labels on chains (the
  * worst diameter case), component separation, determinism under
  * repartitioning, empty input, and the survivor argmax tiebreak.
  */
class ClustersSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Clusters.connectedComponents(
        pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain graph: min label walks the full diameter") {
    // 10-20-30-40-50 is a path: label 10 needs 4 propagation rounds
    val got = cc(Seq((20L, 10L), (20L, 30L), (40L, 30L), (40L, 50L)))
    assert(got === Map(10L -> 10L, 20L -> 10L, 30L -> 10L,
      40L -> 10L, 50L -> 10L))
  }

  test("separate components keep separate labels") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (7L, 9L), (11L, 11L)))
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L)
    assert(got(7L) === 7L && got(9L) === 7L)
    assert(got(11L) === 11L) // self-edge = singleton that met the pair list
  }

  test("deterministic under repartitioning") {
    val pairs = (0L until 60L).map(i => (i, (i * 7) % 60)) // ring-ish
    val a = cc(pairs)
    val b = Clusters.connectedComponents(
        pairs.toDF("a", "b").repartition(13), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("empty pair list yields an empty, well-typed result") {
    val out = Clusters.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(out.columns.toSeq === Seq("id", "cluster_id"))
    assert(out.count() === 0)
  }

  private def lpa(pairs: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    Clusters.labelPropagation(pairs.toDF("a", "b"), "a", "b", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation separates bridged triangles that CC over-merges") {
    // two triangles joined by one bridge edge 3-10: CC fuses them into
    // one cluster; 3 synchronous LPA rounds reach the fixpoint with the
    // triangles in distinct communities — the over-merge diagnostic the
    // query documents
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val communities = lpa(pairs, 3)
    assert(communities(1L) === communities(2L))
    assert(communities(2L) === communities(3L))
    assert(communities(10L) === communities(11L))
    assert(communities(11L) === communities(12L))
    assert(communities(1L) !== communities(10L))
    val ccGot = cc(pairs)
    assert(ccGot.values.toSet.size === 1) // CC: one merged cluster
  }

  test("labelPropagation is deterministic under repartitioning") {
    val pairs = (0L until 40L).map(i => (i, (i * 3 + 1) % 40))
    val a = lpa(pairs, 3)
    val b = Clusters.labelPropagation(
        pairs.toDF("a", "b").repartition(7), "a", "b", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("labelPropagation: empty pair list yields empty, well-typed result") {
    val out = Clusters.labelPropagation(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 2)
    assert(out.columns.toSeq === Seq("id", "community"))
    assert(out.count() === 0)
  }

  private def triangles(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long, Long)] =
    Clusters.triangleClustering(pairs.toDF("a", "b"), "a", "b")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap

  test("triangleClustering: K4 plus pendant — exact counts and coefficients") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node) with pendant 5 on 1
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val got = triangles(pairs)
    assert(got(1L) === ((4L, 3L, 5000L)))  // 2*3/(4*3) = 0.5
    assert(got(2L) === ((3L, 3L, 10000L))) // perfectly clustered
    assert(got(3L) === ((3L, 3L, 10000L)))
    assert(got(4L) === ((3L, 3L, 10000L)))
    assert(got(5L) === ((1L, 0L, 0L)))     // degree-1: no wedge possible
    assert(got.values.map(_._2).sum === 12L) // 3 corners x 4 triangles
  }

  test("triangleClustering: chains are triangle-free") {
    val got = triangles(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got.values.forall(_._2 === 0L))
    assert(got(2L)._1 === 2L && got(2L)._3 === 0L)
  }

  test("maxIter too small fails loudly, never silently partial") {
    // distributed path forced: within the driver budget the driver
    // union-find needs no rounds, so maxIter cannot trip there
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    Fixpoint.withDriverBudget(0) {
      intercept[IllegalStateException] {
        Clusters.connectedComponents(chain.toDF("a", "b"), "a", "b",
          maxIter = 2)
      }
    }
  }

  test("a distributed result outlives later calls of the operator") {
    // each call truncates into slots of its own, so later calls never
    // delete the parquet an earlier result reads
    Fixpoint.withDriverBudget(0) {
      val first = Clusters.connectedComponents(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b")
      val answer = first.collect().toSet
      for (g <- Seq(Seq((5L, 6L)), Seq((8L, 9L), (9L, 10L))))
        Clusters.connectedComponents(g.toDF("a", "b"), "a", "b").collect()
      assert(first.count() === 3L)
      assert(first.collect().toSet === answer)
    }
  }

  test("size-adaptive dispatch: driver union-find ≡ distributed " +
    "fixpoint on the same graphs") {
    // the r17 below-threshold driver path must be indistinguishable
    // from the fixpoint — same (id, cluster_id) set, including chain
    // diameters, singleton self-edges, and min-id tie behavior
    val graphs = Seq(
      Seq((20L, 10L), (20L, 30L), (40L, 30L), (40L, 50L)), // chain
      Seq((1L, 2L), (2L, 3L), (7L, 9L), (11L, 11L)),       // components
      (0L until 60L).map(i => (i, (i * 7) % 60)).toSeq     // ring-ish
    ) ++ (1 to 5).map { seed =>
      val rnd = new scala.util.Random(seed)
      Seq.fill(40 + rnd.nextInt(40))(
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      mirrorMatchesDistributed(s"graph $i")(cc(g))
    }
  }

  test("size-adaptive dispatch: driver LPA and PageRank mirrors ≡ " +
    "their distributed loops") {
    val graphs = Seq(
      Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)), // bridged triangles
      (0L until 40L).map(i => (i, (i * 3 + 1) % 40)).toSeq
    ) ++ (1 to 3).map { seed =>
      val rnd = new scala.util.Random(100 + seed)
      Seq.fill(50)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
    }
    graphs.zipWithIndex.foreach { case (g, i) =>
      mirrorMatchesDistributed(s"lpa graph $i")(lpa(g, 3))
      mirrorMatchesDistributed(s"pagerank graph $i")(
        Clusters.pageRank(g.toDF("a", "b"), "a", "b", iters = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      mirrorMatchesDistributed(s"hits graph $i")(
        Clusters.hits(g.toDF("a", "b"), "a", "b", iters = 2)
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
      mirrorMatchesDistributed(s"kcore graph $i")(
        Clusters.kCore(g.toDF("a", "b"), "a", "b", k = 2, rounds = 3)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
  }

  test("driver mirrors read the flat truncated edges: CC, LPA, kCore " +
    "and PageRank each launch the truncation write and one collect") {
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L)).toDF("a", "b")
    val jobs = Seq[(String, () => Unit)](
      "cc" -> (() => Clusters.connectedComponents(g, "a", "b").collect()),
      "lpa" -> (() => Clusters.labelPropagation(g, "a", "b").collect()),
      "kCore" -> (() => Clusters.kCore(g, "a", "b", k = 2).collect()),
      "pageRank" -> (() => Clusters.pageRank(g, "a", "b").collect()))
      .map { case (name, run) => name -> launched(run()).jobs }
    assert(jobs.toMap === jobs.map(_._1 -> 2).toMap)
  }

  test("random graphs ≡ driver-side union-find reference (10 seeds)") {
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min id per component: path-compress everything, then the root
      // chain above keeps the minimum as the root
      parent.keys.map(k => k -> find(k)).toMap
    }
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(40)
      val pairs = Seq.fill(n)(
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(pairs) === unionFind(pairs), s"seed=$seed")
    }
  }

  test("survivors: quality desc then id asc, sizes correct") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L)).toDF("doc_a", "doc_b")
    val quality = Seq((1L, 50), (2L, 90), (3L, 90), (10L, 10), (20L, 10))
      .toDF("doc_id", "quality")
    val got = Clusters.survivors(pairs, quality)
      .orderBy(col("cluster_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    // cluster {1,2,3}: quality 90 tie between 2 and 3 → min id 2
    // cluster {10,20}: quality 10 tie → min id 10
    assert(got.toSeq === Seq((1L, 2L, 90, 3L), (10L, 10L, 10, 2L)))
  }

  private def pr(pairs: Seq[(Long, Long)], iters: Int = 5): Map[Long, Long] =
    Clusters.pageRank(pairs.toDF("a", "b"), "a", "b", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The same integer recurrence, driver-side: independent replay the
    * way the union-find reference checks CC.
    */
  private def prReference(pairs: Seq[(Long, Long)],
                          iters: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = edges.map(_._1).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / deg(s) }.sum).toMap
      rank = nodes.map(n =>
        n -> (150000L + 85L * in.getOrElse(n, 0L) / 100L)).toMap
    }
    rank
  }

  test("pageRank: isolated symmetric pair sits at the uniform fixpoint") {
    // deg 1 both sides: contribution = rank, so rank stays exactly 10^6
    val got = pr(Seq((3L, 9L)))
    assert(got === Map(3L -> 1000000L, 9L -> 1000000L))
  }

  test("pageRank: star hub outranks its leaves, leaves tie") {
    val got = pr(Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L)))
    val leaves = Seq(10L, 20L, 30L, 40L).map(got)
    assert(leaves.distinct.size === 1)
    assert(got(1L) > leaves.head)
  }

  test("pageRank: random graphs ≡ driver-side integer replay (10 seeds)") {
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(100 + seed)
      val pairs = Seq.fill(40)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      assert(pr(pairs) === prReference(pairs, 5), s"seed=$seed")
    }
  }

  test("pageRank: empty pair list yields an empty, well-typed result") {
    val out = Clusters.pageRank(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(out.columns.toSeq === Seq("id", "rank_ppm"))
    assert(out.count() === 0)
  }

  private def support(pairs: Seq[(Long, Long)]): Map[(Long, Long), Long] =
    Clusters.edgeSupport(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap

  test("edgeSupport: bridged triangles — bridge has support 0") {
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L))
    val got = support(pairs)
    assert(got((1L, 2L)) === 1L && got((2L, 3L)) === 1L
      && got((1L, 3L)) === 1L)
    assert(got((3L, 10L)) === 0L) // the thin bridge
    assert(got.size === 7)
  }

  test("edgeSupport: K4 — every edge closes two triangles") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val got = support(k4)
    assert(got.values.toSet === Set(2L) && got.size === 6)
  }

  private def core(pairs: Seq[(Long, Long)], k: Int,
                   rounds: Int = 3): Map[Long, Long] =
    Clusters.kCore(pairs.toDF("a", "b"), "a", "b", k, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kCore: pendant chain peels off, triangle core survives") {
    // triangle 1-2-3 with a pendant path 3-10-11: 2-core = the triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L), (10L, 11L))
    val got = core(pairs, 2)
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore: cascade — peeling one node drops its neighbor next round") {
    // path 1-2-3-4: round 1 peels 1 and 4, round 2 peels 2 and 3
    val got = core(Seq((1L, 2L), (2L, 3L), (3L, 4L)), 2)
    assert(got === Map.empty[Long, Long])
  }

  test("kCore: k=1 keeps every non-isolated node with its degree") {
    val got = core(Seq((1L, 2L), (2L, 3L)), 1)
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  private def predict(pairs: Seq[(Long, Long)], cap: Int = 64) =
    Clusters.linkPrediction(pairs.toDF("a", "b"), "a", "b", cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  test("linkPrediction: path endpoints share the center; square diagonals score double") {
    // path 1-2-3: (1,3) via center 2 → cn=1, ra=10⁶/2, jacc=1/(1+1-1)
    assert(predict(Seq((1L, 2L), (2L, 3L))) ===
      Map((1L, 3L) -> ((1L, 500000L, 10000L))))
    // square 1-2-3-4-1: both diagonals get cn=2, ra=2·(10⁶/2),
    // jaccard = 2/(2+2-2) = full — and no adjacent pair appears
    val sq = predict(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)))
    assert(sq === Map((1L, 3L) -> ((2L, 1000000L, 10000L)),
      (2L, 4L) -> ((2L, 1000000L, 10000L))))
  }

  test("modularityOf: bridged triangles — triangle split beats one blob") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4: m = 7
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).toDF("a", "b")
    // one community: Q = m/m − (2m/2m)² = 0 exactly
    val one = (1L to 6L).map(i => (i, 0L)).toDF("id", "lbl")
    val rowOne = Clusters.modularityOf(g, one, "one").collect().head
    assert(rowOne.getLong(4) === 0L)
    // triangle split: e_in = 6, d_c = 7 each →
    // (6·4·7 − 2·49)·10⁴ div (4·49) = 700000 div 196 = 3571
    val split = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 1L), (5L, 1L),
      (6L, 1L)).toDF("id", "lbl")
    val rowSplit = Clusters.modularityOf(g, split, "split").collect().head
    assert(rowSplit.getLong(4) === 3571L,
      s"expected 3571 bp, got $rowSplit")
    // a deliberately bad partition (odd/even) goes NEGATIVE
    val bad = Seq((1L, 0L), (2L, 1L), (3L, 0L), (4L, 1L), (5L, 0L),
      (6L, 1L)).toDF("id", "lbl")
    val rowBad = Clusters.modularityOf(g, bad, "bad").collect().head
    assert(rowBad.getLong(4) < 0L, s"expected negative, got $rowBad")
  }

  test("linkPrediction: an over-cap hub center predicts nothing") {
    // star center 10 with 3 leaves; cap 2 < deg(10)=3 → no wedges
    val star = Seq((10L, 20L), (10L, 30L), (10L, 40L))
    assert(predict(star, cap = 2) === Map.empty)
    // cap 3 admits the center: the 3 leaf pairs appear
    assert(predict(star, cap = 3).keySet ===
      Set((20L, 30L), (20L, 40L), (30L, 40L)))
  }

  test("dbscanRoles on a hand graph: roles, border min-tie, noise") {
    // minPts=4 ⇒ core ⟺ pair-degree ≥ 3. Two K4 cliques (clusters 1
    // and 10), a border node 8 touching a core in EACH (tie → min
    // cluster id), a degree-1 pair (5,6) with no core neighbor →
    // noise, and an isolated point 7 → noise.
    val k4a = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val pairs = (k4a ++ k4b ++ Seq((8L, 1L), (8L, 10L), (5L, 6L)))
      .toDF("a", "b")
    val points = (Seq(5L, 6L, 7L, 8L) ++ (1L to 4L) ++ (10L to 13L))
      .toDF("id")
    val got = Graft.dbscan(points, "id", pairs, "a", "b", minPts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    (1L to 4L).foreach(i => assert(got(i) === (("core", 1L)), s"node $i"))
    (10L to 13L).foreach(i => assert(got(i) === (("core", 10L)), s"node $i"))
    assert(got(8L) === (("border", 1L)), "border must take the MIN cluster")
    Seq(5L, 6L, 7L).foreach(i =>
      assert(got(i) === (("noise", -1L)), s"node $i"))
    assert(got.size === 12)
  }

  test("dbscanRoles: a singleton core (no core neighbor) self-clusters") {
    // node 1 has three degree-1 neighbors: 1 is core (deg 3 ≥ 3), the
    // leaves are borders of 1's cluster; no core-core edge exists, so
    // the core must fall back to its own id as cluster.
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val points = (1L to 4L).toDF("id")
    val got = Graft.dbscan(points, "id", pairs, "a", "b", minPts = 4)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(got(1L) === (("core", 1L)))
    (2L to 4L).foreach(i => assert(got(i) === (("border", 1L)), s"node $i"))
  }
}
