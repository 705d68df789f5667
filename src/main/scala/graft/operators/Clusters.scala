package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: the step between "near-dup PAIRS"
  * (what LSH/SimHash emit) and a deduplicated corpus. A pair list is
  * not actionable — if A~B and B~C, dropping one doc per PAIR either
  * over-deletes or keeps both A and C — so pairs must first be closed
  * into connected components, then one survivor picked per component.
  *
  * [[connectedComponents]] is the textbook distributed hash-min label
  * propagation: every node starts labeled with its own id, and each
  * round takes the min of its own label and its neighbors' labels;
  * at fixpoint every node in a component carries the component's
  * minimum id. Each round is ONE equi-join (edges ⋈ labels on src)
  * plus ONE keyed aggregation — no driver-side graph, no collect —
  * and rounds = graph diameter. Near-dup clusters are dense and tiny
  * (a cluster of m rewrites of one document has diameter ≤ 2 under
  * any banding that works at all), so the loop converges in a handful
  * of rounds; `maxIter` guards the pathological chain graph with a
  * loud failure rather than a silently-partial clustering. (The
  * O(log² n)-round large-star/small-star variant exists for
  * adversarial topologies; at dedup workloads its extra per-round cost
  * buys nothing — documented trade-off, not an oversight.)
  *
  * Iteration state is truncated through [[Fixpoint]] every round (the
  * bounded-lineage contract is stated there). Unlike the KMeans
  * centroid table the label table is corpus-sized, so the driver-collect
  * form is not an option. Each call writes under its own slot from
  * [[graft.CacheRegistry.scratch]]
  * (`<stage dir>/scratch/<jvm-id>/<op>_<n>`), so a result stays valid
  * through any number of later calls until [[graft.Graft.releaseCaches]]
  * deletes the slots with the caches; on a cluster
  * `SPARK_GRAFT_STAGE_DIR` puts them on shared storage.
  *
  * Convergence detection is O(1) per round: labels only ever DECREASE
  * under min-propagation, so the label-sum is strictly monotone and
  * "sum unchanged ⟺ fixpoint" — one cheap aggregate per round instead
  * of an old⋈new anti-join.
  */
object Clusters {

  /** Truncate a fixpoint's edge table to `scratch/edges` through
    * [[Fixpoint]], with its row count observed on the write: the count
    * prices the driver-mirror dispatch without a second scan. Persisting
    * the source plan alone caches data but leaves the pair-source
    * subtree (typically the whole LSH pipeline; a wide replicated union
    * at rehearsal scale) in every round's logical plan, where per-job
    * analysis re-walks it — the round-12 graph scale probe measured
    * 316 s of pure driver plan work for the CC fixpoint on a 240-PAIR
    * graph at ×100 replication before this truncation, vs ~3 s after
    * (PERF.md §Round 12). One pair-bounded write; every round's edge
    * side is a flat parquet scan afterwards.
    */
  private def countedEdges(df: DataFrame, scratch: String)
      : (DataFrame, Long) = {
    val (scan, m) = Fixpoint.truncateObserving(df, s"$scratch/edges",
      count(lit(1)).as("n"))
    (scan, m("n").asInstanceOf[Long])
  }

  /** [[countedEdges]], then, for edges too large for a driver mirror
    * ([[Fixpoint.fitsDriver]]; a mirror gets the flat scan), CO-LOCATE
    * the cache on the per-round join key (the q_sssp_hops round-14
    * contract, PlanShapeSpec-pinned):
    * `repartition(key)` before persist makes the InMemoryRelation
    * expose HashPartitioning(key) — under
    * `canChangeCachedPlanOutputPartitioning=false` (set in every engine
    * session) each fixpoint round's edges ⋈ state join then shuffles
    * ONLY the node-bounded state table, never the edge table. At 100 TB
    * the edge side is the corpus-scale operand; this is the difference
    * between O(rounds·|E|) and O(|E| + rounds·|V|) network. The
    * repartition is deliberately explicit rather than inherited from an
    * upstream join/agg: a broadcast-eligible small side (common at test
    * scale) would otherwise leave the cached plan UnknownPartitioning
    * and silently restore the per-round edge shuffle.
    *
    * The partition COUNT is explicit too ([[fixpointPartitions]]): a
    * keyed repartition without a count is an AQE optimizable hint, and
    * AQE coalesces the fill to the advisory-size partition count — at
    * 10⁷ synthetic edges that froze the cache at a handful of
    * partitions and every later round's sort/join ran at that
    * parallelism (the graph scale probe measured 78 s vs 21 s for the
    * CC fixpoint before the count was pinned; PERF.md §Fixpoint edge
    * caches co-located).
    */
  private def materializeEdges(df: DataFrame, scratch: String,
                               key: String): (DataFrame, Long) = {
    val (scan, n) = countedEdges(df, scratch)
    // a driver mirror collects the flat scan once; only the round loop
    // reads the co-located cache
    if (Fixpoint.fitsDriver(n, EDGE_BYTES)) (scan, n)
    else (graft.CacheRegistry.persist(colocated(scan, key)), n)
  }

  /** The pinned partition count for a fixpoint's co-located cache: the
    * session's shuffle partitions — the same count every state-table
    * shuffle targets, so the per-round join is exchange-free on the
    * cached side AND runs at full configured parallelism.
    */
  private def fixpointPartitions(df: DataFrame): Int =
    df.sparkSession.sessionState.conf.numShufflePartitions

  private def colocated(df: DataFrame, key: String): DataFrame =
    df.repartition(fixpointPartitions(df), col(key))

  /** Connected components of an undirected pair list.
    *
    * @param pairs one row per undirected edge
    * @param src   source id column (long)
    * @param dst   destination id column (long)
    * @return (id, cluster_id): one row per node that appears in any
    *         pair; cluster_id = min node id of its component.
    *         Isolated nodes (in no pair) are the caller's singletons.
    */
  def connectedComponents(pairs: DataFrame, src: String = "doc_a",
                          dst: String = "doc_b",
                          maxIter: Int = 25): DataFrame = {
    // symmetric edge list: min-labels must flow BOTH ways. PERSISTED —
    // every propagation round joins against it, and the pair source is
    // typically the whole LSH pipeline (recomputing THAT per round
    // multiplied the clustering cost by the iteration count)
    val (edges, n) = sharedSymEdges(pairs, src, dst)
    connectedComponentsOnEdges(edges, maxIter, Some(n))
  }

  /** ONE materialized co-located symmetric edge cache reusable across
    * several fixpoints over the SAME pair list (r16): the CC and LPA
    * loops both join edges by `src` every round, so a composite query
    * (q_modularity scores BOTH partitions of one graph) pays the
    * symmetrize + lineage truncation + co-location + cache fill once
    * instead of per loop.
    */
  private[graft] def sharedSymEdges(pairs: DataFrame, src: String,
                                    dst: String): (DataFrame, Long) =
    materializeEdges(
      pairs.select(col(src).cast("long").as("src"),
          col(dst).cast("long").as("dst"))
        .union(pairs.select(col(dst).cast("long").as("src"),
          col(src).cast("long").as("dst"))),
      graft.CacheRegistry.scratch("symedges"),
      key = "src")

  /** Driver bytes per edge of a collected edge list (the `Array[Row]`
    * from `collect` plus its `(Long, Long)` copy), the per-row cost
    * the graph loops (CC, LPA, PageRank, HITS, kCore) price their exact
    * DRIVER mirror with: a graph that fits [[Fixpoint.fitsDriver]] gains
    * nothing from O(rounds) distributed iterations whose per-round fixed
    * cost (write job + observe + re-scan) dominates at that size, and
    * its result comes back as a LocalRelation every consumer can
    * broadcast — the broadcast-join decision applied to graph iteration
    * (r17, guide §1.2 + §3.1's size-adaptive strategy pick). Every
    * driver mirror reproduces the distributed arithmetic EXACTLY
    * (integer ops, same tie rules) and is pinned ≡ the forced-distributed
    * path by ClustersSpec. Measured on JDK 17 with compressed oops:
    * 100.8 B for the rows plus 44.0 B for the tuples per edge, over a
    * 10⁶-edge collect (PERF.md §One Fixpoint module).
    */
  private val EDGE_BYTES = 145L

  /** The collected `(a, b)` long pairs of a fitting edge table. */
  private def collectEdges(edges: DataFrame, a: String,
                           b: String): Array[(Long, Long)] =
    edges.select(col(a), col(b)).collect()
      .map(r => (r.getLong(0), r.getLong(1)))

  /** Driver union-find over a collected symmetric edge list (the
    * below-threshold CC form): union-by-min-root with path compression,
    * so every final root IS its component's minimum id — exactly the
    * fixpoint's cluster_id contract, input-order invariant.
    */
  private def localComponents(edges: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (c != r) { val nx = parent.getOrElse(c, c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    edges.foreach { case (a, b) => nodes(a) = (); nodes(b) = () }
    nodes.keys.toSeq.map(id => (id, find(id)))
  }

  /** [[connectedComponents]] over an ALREADY-materialized symmetric
    * edge table ([[sharedSymEdges]]). `edgeCount` (observed on the
    * edge-truncation write — no extra job) enables the driver union-find
    * when the edges fit [[Fixpoint.fitsDriver]]; None always runs the
    * distributed fixpoint.
    */
  private[graft] def connectedComponentsOnEdges(
      edges: DataFrame, maxIter: Int = 25,
      edgeCount: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    if (edgeCount.exists(Fixpoint.fitsDriver(_, EDGE_BYTES))) {
      // nodes ≤ 2·edges, returned as a LocalRelation that downstream
      // consumers broadcast instead of shuffling
      import spark.implicits._
      return localComponents(collectEdges(edges, "src", "dst"))
        .toDF("id", "cluster_id")
    }
    val slots = new Fixpoint.Rolling(
      graft.CacheRegistry.scratch("cc"), "labels")

    // The convergence statistic (label sum + row count) rides the WRITE
    // job as observed metrics (CollectMetrics), so each round is ONE
    // job instead of two (write, then a re-scan aggregate) — the r16
    // fixed-cost cut: labels only ever DECREASE under min-propagation,
    // so "sum unchanged ⟺ fixpoint" needs only the sum, and the sum of
    // the rows streaming INTO the parquet writer is the same sum the
    // old post-write scan computed. Count rides along to replace the
    // old isEmpty probe job on the empty-graph path.
    def labelRound(df: DataFrame, iter: Int)
        : (DataFrame, java.math.BigDecimal, Long) = {
      val (out, m) = slots.observing(df, iter,
        sum(col("lbl").cast("decimal(38,0)")).as("s"), count(lit(1)).as("n"))
      val s = m("s") match {
        case null => java.math.BigDecimal.ZERO
        case d: java.math.BigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      }
      (out, s, m("n").asInstanceOf[Long])
    }

    // iteration 0 IS the first propagation round: every node appears as
    // a dst (the edge list is symmetric), so one groupBy(dst) yields the
    // node set AND its 1-hop min in the same shuffle the separate
    // distinct() would have cost — diameter-1 clusters (the common
    // near-dup star) arrive converged and pay only the confirming round
    var (labels, prevSum, n0) = labelRound(
      edges.groupBy(col("dst"))
        .agg(min(col("src")).as("m"))
        .select(col("dst").as("id"), least(col("m"), col("dst")).as("lbl")),
      0)

    var iter = 0
    var converged = prevSum.signum() == 0 && n0 == 0L
    while (!converged && iter < maxIter) {
      iter += 1
      // min label reaching each node via one hop, folded with its own
      val neighborMin = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst"))
        .agg(min(col("lbl")).as("nmin"))
      val (nextLabels, s, _) = labelRound(
        labels.join(neighborMin, col("id") === col("dst"), "left")
          .select(col("id"), least(col("lbl"), col("nmin")).as("lbl")),
        iter)
      labels = nextLabels
      converged = s.compareTo(prevSum) == 0
      prevSum = s
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds - " +
          "the pair graph has a longer path than any dedup clustering " +
          "should; raise maxIter only after checking the pair source")
    labels.toDF("id", "cluster_id")
  }

  /** Per-cluster membership with sizes: (doc_id, cluster_id,
    * cluster_sz), cluster_id = min member id. Input is any near-dup
    * pair list (doc_a, doc_b).
    */
  def memberTable(pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    val sz = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_sz"))
    cc.join(sz, "cluster_id")
      .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_sz"))
  }

  /** One survivor per cluster by (quality DESC, doc_id ASC): the doc a
    * curation pipeline KEEPS; everything else in the cluster is the
    * drop list. `quality` must carry (doc_id, quality). The argmax is
    * a single struct-min aggregate (quality inverted), not a window —
    * map-side combinable, no per-cluster funnel.
    */
  def survivors(pairs: DataFrame, quality: DataFrame): DataFrame =
    survivorsFromMembers(memberTable(pairs), quality)

  /** [[survivors]] over a PREcomputed member table (doc_id, cluster_id)
    * — the shared-plan path ([[DedupPlan]]): when several consumers read
    * one clustering, the CC fixpoint is paid once and each consumer is
    * one aggregate over the persisted members.
    */
  def survivorsFromMembers(members: DataFrame,
                           quality: DataFrame): DataFrame =
    members
      .join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(struct((lit(1000) - col("quality")).as("nq"),
          col("doc_id").as("id"), col("quality").as("q"))).as("best"))
      .select(col("cluster_id"), col("best.id").as("keep_id"),
        col("best.q").as("keep_quality"), col("n_members"))

  /** Integer PageRank over an undirected pair list: `iters` power
    * iterations at damping 85/100, ranks in ppm of the uniform start
    * (1 000 000 per node). All arithmetic is BIGINT floor division on
    * positives, so the result is engine-exact (the DuckDB twin unrolls
    * the same iterations as chained CTEs).
    *
    * Same execution contract as [[connectedComponents]]: the symmetric
    * edge list (joined once with its out-degrees) is persisted and each
    * iteration is ONE edges ⋈ ranks join plus ONE dst-keyed sum —
    * shuffles keyed by node id, never corpus-wide — with the rank table
    * truncated through [[Fixpoint]] every second round (the
    * self-referential join would otherwise stack every prior round into
    * one plan; the 122-exchange plan the unchecked loop produced is the
    * measured failure mode). Iteration count is a CONSTANT, so cost is
    * O(iters · |edges|) by construction.
    */
  def pageRank(pairs: DataFrame, src: String = "doc_a",
               dst: String = "doc_b", iters: Int = 5): DataFrame = {
    val spark = pairs.sparkSession
    val scratch = graft.CacheRegistry.scratch("pr")

    val (eScan, nEdges) = countedEdges(
      pairs.select(col(src).cast("long").as("src"),
          col(dst).cast("long").as("dst"))
        .union(pairs.select(col(dst).cast("long").as("src"),
          col(src).cast("long").as("dst"))),
      scratch)
    // size-adaptive driver mirror (r17, see [[EDGE_BYTES]]):
    // identical integer arithmetic — contribution rank div out-degree
    // (positive BIGINT floor div), update 150000 + 85·Σ div 100 — on
    // exactly `iters` rounds; pinned ≡ the distributed loop by
    // ClustersSpec
    if (Fixpoint.fitsDriver(nEdges, EDGE_BYTES)) {
      import spark.implicits._
      val e = collectEdges(eScan, "src", "dst")
      val outDeg = scala.collection.mutable.LongMap.empty[Long]
      e.foreach { case (s0, _) => outDeg(s0) = outDeg.getOrElse(s0, 0L) + 1L }
      var rank = scala.collection.mutable.LongMap.empty[Long]
      outDeg.keys.foreach(id => rank(id) = 1000000L)
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.LongMap.empty[Long]
        e.foreach { case (s0, d) =>
          contrib(d) = contrib.getOrElse(d, 0L) + rank(s0) / outDeg(s0) }
        val next = scala.collection.mutable.LongMap.empty[Long]
        rank.keys.foreach(id =>
          next(id) = 150000L + 85L * contrib.getOrElse(id, 0L) / 100L)
        rank = next
      }
      return rank.toSeq.toDF("id", "rank_ppm")
    }
    // (src, dst, d): out-degree attached ONCE — every iteration's
    // contribution term divides by it, so pre-joining keeps the loop
    // body to a single join + aggregate. This is the loop's ONLY
    // corpus-scale operand, so IT is the co-located cache (repartition
    // by src; see [[materializeEdges]] — the raw edge table is no
    // longer cached separately, it feeds ed/nodes exactly once each)
    val ed = graft.CacheRegistry.persist(
      colocated(eScan.join(eScan.groupBy(col("src"))
          .agg(count(lit(1)).as("d")), "src"), "src"))
    // nodes co-locate on id: each round's rank update left-joins the
    // dst-keyed contribution sums, and the initial rank table inherits
    // this partitioning, so round 1's join is exchange-free too
    val nodes = graft.CacheRegistry.persist(
      colocated(eScan.select(col("src").as("id")).distinct(), "id"))

    val slots = new Fixpoint.Rolling(scratch, "ranks")

    // lineage is truncated every SECOND iteration: the Catalyst blowup
    // this guards against (see the 122-exchange note in PERF.md) grows
    // per CHAINED iteration, so a 2-deep chain stays a bounded, audited
    // plan while halving the per-round parquet-round-trip fixed cost —
    // the dominant term at small scale, pure overhead at 100 TB
    var ranks = nodes.select(col("id"), lit(1000000L).as("rank_ppm"))
    for (i <- 1 to iters) {
      val contrib = ranks.join(ed, ranks("id") === ed("src"))
        .select(col("dst"), expr("rank_ppm div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, nodes("id") === contrib("dst"), "left")
        .select(col("id"),
          (lit(150000L) + expr("85 * coalesce(s, 0L) div 100"))
            .as("rank_ppm"))
      // the FINAL round is not round-tripped (r16): the gate consumes
      // the rank table exactly once, so the last write+read bought
      // nothing. Returned-plan depth over the cached ed/nodes tables
      // and the last written ranks: ≤ 1 un-truncated round for odd
      // `iters`, ≤ 2 for even (i = iters-1 is odd and i = iters is
      // final, so both skip the round-trip) — bounded either way,
      // which is all the Catalyst-blowup guard needs (ADVICE r16)
      ranks = if (i % 2 == 0 && i < iters) slots(next, i) else next
    }
    ranks
  }

  /** Integer HITS (Kleinberg, JACM'99) over a BIPARTITE edge list
    * (src = hub side, dst = authority side): each iteration is
    * auth(p) = Σ hub(c) over in-edges then hub(c) = Σ auth(p) over
    * out-edges, L∞-normalized to ppm of the round maximum. The L∞
    * norm (not the classical L2) keeps every step in exact integer
    * arithmetic — one DECIMAL(38,0) product per normalization, BIGINT
    * floor division on positives — so the DuckDB twin unrolling the
    * same rounds agrees bit-for-bit.
    *
    * Execution contract mirrors [[pageRank]], except the deduped edge
    * list is cached TWICE — co-located by c and by p, because the
    * half-steps alternate join keys; each half-step is ONE edges ⋈
    * scores join (edge side exchange-free against its cache) plus a
    * node-keyed sum and a broadcast one-row max attach; the hub table
    * is truncated through [[Fixpoint]] per round. Σ-headroom:
    * score ≤ 10⁶, so a raw sum stays in int64 up to degree ~9·10¹²
    * before the DECIMAL cast even matters; the ppm product runs in
    * DECIMAL(38,0) regardless.
    *
    * Returns (side ∈ {hub, auth}, id, score_ppm) after `iters` rounds.
    */
  def hits(pairs: DataFrame, src: String, dst: String,
           iters: Int = 2): DataFrame = {
    val spark = pairs.sparkSession
    val scratch = graft.CacheRegistry.scratch("hits")

    // The HITS half-steps alternate join keys — auth joins on the hub
    // side (c), hub joins on the authority side (p) — so ONE co-located
    // cache can't serve both. Two caches over the same parquet bytes
    // (2× memory, spill-tolerant, each filled by one edge shuffle) buy
    // exchange-free edge sides for BOTH half-steps; the alternative is
    // re-shuffling the corpus-scale edge table 2·iters times.
    val (eScan, nEdges) = countedEdges(
      pairs.select(col(src).cast("long").as("c"),
          col(dst).cast("long").as("p"))
        .distinct(),
      scratch)
    // size-adaptive driver mirror (r17, see [[EDGE_BYTES]]):
    // identical integer arithmetic — round-1 auth = 10⁶·indegree, Σ of
    // longs, L∞ normalization raw·10⁶ div max in exact big-int floor
    // division on positives — on exactly `iters` rounds; pinned ≡ the
    // distributed loop by ClustersSpec
    if (Fixpoint.fitsDriver(nEdges, EDGE_BYTES)) {
      import spark.implicits._
      val e = collectEdges(eScan, "c", "p")
      def normalize(raw: scala.collection.mutable.LongMap[Long])
          : scala.collection.mutable.LongMap[Long] = {
        val mx = raw.values.max
        val out = scala.collection.mutable.LongMap.empty[Long]
        raw.foreach { case (id, v) =>
          out(id) = ((BigInt(v) * 1000000L) / mx).toLong }
        out
      }
      var hubs: scala.collection.mutable.LongMap[Long] = null
      var auths: scala.collection.mutable.LongMap[Long] = null
      for (i <- 1 to iters) {
        val rawAuth = scala.collection.mutable.LongMap.empty[Long]
        if (i == 1)
          e.foreach { case (_, p0) =>
            rawAuth(p0) = rawAuth.getOrElse(p0, 0L) + 1000000L }
        else
          e.foreach { case (c0, p0) =>
            rawAuth(p0) = rawAuth.getOrElse(p0, 0L) + hubs(c0) }
        auths = normalize(rawAuth)
        val rawHub = scala.collection.mutable.LongMap.empty[Long]
        e.foreach { case (c0, p0) =>
          rawHub(c0) = rawHub.getOrElse(c0, 0L) + auths(p0) }
        hubs = normalize(rawHub)
      }
      return (hubs.toSeq.map { case (id, s0) => ("hub", id, s0) } ++
          auths.toSeq.map { case (id, s0) => ("auth", id, s0) })
        .toDF("side", "id", "score_ppm")
    }
    val edgesByC = graft.CacheRegistry.persist(colocated(eScan, "c"))
    val edgesByP = graft.CacheRegistry.persist(colocated(eScan, "p"))

    val slots = new Fixpoint.Rolling(scratch, "hits")

    def normalized(raw: DataFrame, key: String): DataFrame = {
      val mx = raw.agg(max(col("raw")).as("mx"))
      raw.crossJoin(broadcast(mx))
        .select(col(key).as("id"),
          expr("CAST(CAST(raw AS DECIMAL(38,0)) * 1000000 div mx" +
            " AS BIGINT)").as("score"))
    }

    var hubs: DataFrame = null
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      // Round 1's hub table is the UNIFORM start (10⁶ for every distinct
      // c), so edges ⋈ hubs → Σ score degenerates to 10⁶ · indegree —
      // ONE aggregate over the cached edges instead of a distinct-init
      // pass plus a join (r17). Bit-identical: Σ of a constant over a
      // group = constant × count, and every edge's c is in the init set
      // by construction.
      val rawAuth =
        if (i == 1)
          edgesByC.groupBy(col("p"))
            .agg((count(lit(1)) * 1000000L).as("raw"))
        else
          edgesByC.join(hubs, edgesByC("c") === hubs("id"))
            .groupBy(col("p")).agg(sum(col("score")).as("raw"))
      auths = normalized(rawAuth, "p")
      // the final auth table is consumed TWICE (last hub update + the
      // output union) — persist it so the whole auth chain is paid once
      if (i == iters) auths = graft.CacheRegistry.persist(auths)
      val nextHubs = normalized(
        edgesByP.join(auths, edgesByP("p") === auths("id"))
          .groupBy(col("c")).agg(sum(col("score")).as("raw")), "c")
      hubs = if (i < iters) slots(nextHubs, i) else nextHubs
    }
    hubs.select(lit("hub").as("side"), col("id"),
        col("score").as("score_ppm"))
      .unionByName(auths.select(lit("auth").as("side"), col("id"),
        col("score").as("score_ppm")))
  }

  /** Deterministic synchronous label propagation (community detection)
    * over an undirected pair list: every node starts labeled with its
    * own id; each round it adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label — both rules integer,
    * so the result is engine-exact and the DuckDB twin unrolls the same
    * rounds as chained CTEs. Communities differ from connected
    * components exactly where CC over-merges: a thin bridge between two
    * dense near-dup groups keeps its sides in separate communities
    * (majority vote) while CC fuses them — the diagnostic a curation
    * run reads when cluster sizes look suspiciously large.
    *
    * Execution contract mirrors [[pageRank]]: the symmetric edge list is
    * persisted once; each round is ONE edges ⋈ labels join plus a
    * two-level aggregate — groupBy(node, label) count (map-side
    * combinable; input bounded by |edges|, per-node label candidates by
    * degree) then a struct-max argmax per node (no window, no
    * per-community funnel). `iters` is a CONSTANT (asynchronous LPA
    * converges faster but is order-dependent — non-reproducible across
    * partitionings, which disqualifies it here), so cost is
    * O(iters · |edges|); the label table is truncated through
    * [[Fixpoint]] every second round and after the last.
    */
  def labelPropagation(pairs: DataFrame, src: String, dst: String,
                       iters: Int = 2): DataFrame = {
    val (edges, n) = sharedSymEdges(pairs, src, dst)
    labelPropagationOnEdges(edges, iters, Some(n))
  }

  /** Driver mirror of the synchronous LPA rounds (the below-threshold
    * form): per round every node adopts the most frequent label among
    * its in-neighbors' PREVIOUS-round labels, ties to the smallest
    * label — exactly the distributed loop's (count DESC, label ASC)
    * struct-max, on exactly `iters` rounds.
    */
  private def localLpa(edges: Array[(Long, Long)],
                       iters: Int): Seq[(Long, Long)] = {
    val byDst = edges.groupBy(_._2)
    var labels = scala.collection.mutable.LongMap.empty[Long]
    edges.foreach { case (_, d) => labels(d) = d }
    for (_ <- 1 to iters) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      byDst.foreach { case (d, in) =>
        val cnt = scala.collection.mutable.LongMap.empty[Long]
        in.foreach { case (s0, _) =>
          val l = labels(s0); cnt(l) = cnt.getOrElse(l, 0L) + 1L }
        var bl = Long.MaxValue; var bc = -1L
        cnt.foreach { case (l, c) =>
          if (c > bc || (c == bc && l < bl)) { bc = c; bl = l } }
        next(d) = bl
      }
      labels = next
    }
    labels.toSeq
  }

  /** [[labelPropagation]] over an ALREADY-materialized symmetric edge
    * table ([[sharedSymEdges]]) — the shared-cache path composite
    * queries use. `edgeCount` (observed on the truncation write)
    * enables the driver mirror when the edges fit
    * [[Fixpoint.fitsDriver]].
    */
  private[graft] def labelPropagationOnEdges(
      edges: DataFrame, iters: Int = 2,
      edgeCount: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    if (edgeCount.exists(Fixpoint.fitsDriver(_, EDGE_BYTES))) {
      import spark.implicits._
      return localLpa(collectEdges(edges, "src", "dst"), iters)
        .toDF("id", "community")
    }
    val slots = new Fixpoint.Rolling(graft.CacheRegistry.scratch("lpa"), "lpa")

    // round 0 state: every edge endpoint labeled with itself (the edge
    // list is symmetric, so dst alone covers the node set)
    var labels = edges.select(col("dst").as("id"), col("dst").as("lbl"))
      .distinct()
    for (i <- 1 to iters) {
      val next = edges.join(labels, col("src") === col("id"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        // argmax by (count DESC, label ASC) as one struct-max: max c
        // first, then max(-lbl) = min label — deterministic under ties
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), negate(col("lbl")).as("nl"))).as("best"))
        .select(col("dst").as("id"), negate(col("best.nl")).as("lbl"))
      labels = if (i % 2 == 0 || i == iters) slots(next, i) else next
    }
    labels.toDF("id", "community")
  }

  /** Per-node triangle count and local clustering coefficient (basis
    * points) over an undirected pair list — the clique-likeness signal
    * that distinguishes "m rewrites of one template" (dense, high
    * clustering) from a triangle-free chain of pairwise drafts.
    *
    * Scale contract: DEGREE-ORDERED orientation. Each canonical edge
    * points from its (degree, id)-smaller endpoint; wedges are generated
    * only at a triangle's smallest vertex, so wedge volume is
    * Σ out-deg² with out-degrees bounded by O(√|E|) (the arboricity
    * bound) — the hub that breaks a naive Σ deg² wedge join never
    * pivots. Each triangle is enumerated exactly once, then its three
    * corners are exploded back for per-node counts; every join is an
    * equi-join on node ids.
    *
    * @return (id, degree, n_triangles, clustering_bp) — one row per
    *         node appearing in any pair; clustering_bp =
    *         ⌊2·tri·10⁴ / (d·(d−1))⌋, 0 for degree-1 nodes.
    */
  def triangleClustering(pairs: DataFrame, src: String,
                         dst: String): DataFrame = {
    val scratch = graft.CacheRegistry.scratch("tri")
    // the graph tables are MULTIPLY REFERENCED (canon: degree +
    // orientation + triangle closing; deg: both arrow sides + output;
    // arrows: both wedge sides), so each is truncated through
    // [[Fixpoint]]; a cache-only formulation re-expanded the whole
    // upstream pair pipeline into the plan per reference (66-exchange
    // audit). All three are dup-graph-bounded, never corpus-sized.
    // canonical id-ordered edges
    val canon = Fixpoint.truncate(
      pairs.select(least(col(src), col(dst)).cast("long").as("u"),
          greatest(col(src), col(dst)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      s"$scratch/canon")
    val deg = Fixpoint.truncate(
      canon.select(col("u").as("x"))
        .union(canon.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d")),
      s"$scratch/deg")
    val du = deg.select(col("x").as("u"), col("d").as("du"))
    val dv = deg.select(col("x").as("v"), col("d").as("dv"))
    val arrows = Fixpoint.truncate(
      canon.join(du, "u").join(dv, "v")
        .select(when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("a"))
        .select(col("a.s").as("s"), col("a.t").as("t")),
      s"$scratch/arrows")
    val tris = arrows.as("e1")
      .join(arrows.as("e2"), col("e1.s") === col("e2.s")
        && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("s"), col("e1.t").as("u"),
        col("e2.t").as("v"))
      .join(canon, Seq("u", "v")) // closing edge in canonical id order
      .select(col("s"), col("u"), col("v"))
    val perNode = tris
      .select(explode(array(col("s"), col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("x"), "left_outer")
      .select(col("x").as("id"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          expr("coalesce(n_triangles, CAST(0 AS BIGINT)) * 20000" +
            " div (d * (d - 1))"))
          .otherwise(lit(0L)).as("clustering_bp"))
  }

  /** Per-edge triangle SUPPORT (number of triangles each edge closes)
    * over an undirected pair list — the truss/bridge signal a cluster
    * audit reads per EDGE where [[triangleClustering]] reads it per
    * NODE: a near-dup edge with support 0 is a thin bridge (no third
    * document agrees the two sides belong together), the exact edge a
    * curation run cuts before collapsing clusters that q_dup_clusters
    * would otherwise over-merge through it.
    *
    * Same scale contract as [[triangleClustering]] (shared
    * degree-ordered orientation: wedge volume Σ out-deg², out-degrees
    * arboricity-bounded): triangles are enumerated exactly once, then
    * each contributes its THREE id-canonical edges to a counts table
    * that the canonical edge list left-joins. All integer, engine-exact.
    *
    * @return (u, v, support, is_bridge) — one row per canonical edge
    *         (u < v); is_bridge = support == 0.
    */
  def edgeSupport(pairs: DataFrame, src: String, dst: String): DataFrame = {
    // multiply-referenced graph tables, truncated as in
    // [[triangleClustering]]
    val scratch = graft.CacheRegistry.scratch("supp")
    val canon = Fixpoint.truncate(
      pairs.select(least(col(src), col(dst)).cast("long").as("u"),
          greatest(col(src), col(dst)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      s"$scratch/canon")
    val deg = Fixpoint.truncate(
      canon.select(col("u").as("x"))
        .union(canon.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("d")),
      s"$scratch/deg")
    val du = deg.select(col("x").as("u"), col("d").as("du"))
    val dv = deg.select(col("x").as("v"), col("d").as("dv"))
    val arrows = Fixpoint.truncate(
      canon.join(du, "u").join(dv, "v")
        .select(when(col("du") < col("dv")
            || (col("du") === col("dv") && col("u") < col("v")),
            struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("a"))
        .select(col("a.s").as("s"), col("a.t").as("t")),
      s"$scratch/arrows")
    val tris = arrows.as("e1")
      .join(arrows.as("e2"), col("e1.s") === col("e2.s")
        && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("s"), col("e1.t").as("u"),
        col("e2.t").as("v"))
      .join(canon, Seq("u", "v"))
      .select(col("s"), col("u"), col("v"))
    // each triangle (s,u,v) contributes its three edges in id-canonical
    // (least, greatest) form; u<v already holds for the closing edge
    val triEdges = tris.select(explode(array(
        struct(least(col("s"), col("u")).as("u"),
          greatest(col("s"), col("u")).as("v")),
        struct(least(col("s"), col("v")).as("u"),
          greatest(col("s"), col("v")).as("v")),
        struct(col("u").as("u"), col("v").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("support"))
    canon.join(triEdges, Seq("u", "v"), "left_outer")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"),
        (coalesce(col("support"), lit(0L)) === 0L).as("is_bridge"))
  }

  /** Fixed-round peel toward the k-core of an undirected pair list:
    * each round recomputes degrees within the surviving subgraph and
    * drops nodes with degree < k. After `rounds` rounds the survivors
    * of a CONVERGED peel are exactly the k-core (max subgraph with min
    * degree ≥ k) — the "dense center" of a near-dup cluster that
    * survives even after thin bridges and chain ends are stripped,
    * i.e. the documents whose duplication is corroborated by ≥ k
    * independent neighbors.
    *
    * The round count is a CONSTANT (not run-to-fixpoint) so the DuckDB
    * twin can unroll the identical rounds as chained CTEs and stay
    * engine-exact; near-dup graphs peel in 1–2 rounds (dense tiny
    * clusters shed their pendant vertices immediately), so the default
    * rounds=3 is convergence plus a confirming round in practice.
    * Execution per round is ONE symmetric-edge ⋈ alive semi-join pair
    * plus ONE dst-keyed count — shuffles keyed by node id, never
    * corpus-sized — with the alive set truncated by a parquet
    * write per round ([[Fixpoint]]; multiply referenced: both edge
    * endpoints).
    *
    * @return (id, core_degree): survivors of the final round with
    *         their degree within the previous round's subgraph (all
    *         ≥ k by construction).
    */
  def kCore(pairs: DataFrame, src: String, dst: String, k: Int,
            rounds: Int = 3): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val spark = pairs.sparkSession
    val scratch = graft.CacheRegistry.scratch("kcore")

    // co-located on src: the src-side semi-join is then exchange-free;
    // the dst-side filter + count still shuffle the SURVIVING subgraph
    // (which shrinks per round) — two keys per round, one cache
    val (edges, nEdges) = materializeEdges(
      pairs.select(col(src).cast("long").as("src"),
          col(dst).cast("long").as("dst"))
        .union(pairs.select(col(dst).cast("long").as("src"),
          col(src).cast("long").as("dst"))),
      scratch, key = "src")
    // size-adaptive driver mirror (r17, see [[EDGE_BYTES]]):
    // identical peel rounds — degree over the surviving subgraph,
    // filter ≥ k, exactly `rounds` times; pinned ≡ the distributed
    // loop by ClustersSpec
    if (Fixpoint.fitsDriver(nEdges, EDGE_BYTES)) {
      import spark.implicits._
      val e = collectEdges(edges, "src", "dst")
      var alive = scala.collection.mutable.LongMap.empty[Long]
      e.foreach { case (_, d) => alive(d) = alive.getOrElse(d, 0L) + 1L }
      for (_ <- 1 to rounds) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        e.foreach { case (s0, d0) =>
          if (alive.contains(s0) && alive.contains(d0))
            next(d0) = next.getOrElse(d0, 0L) + 1L }
        val kept = scala.collection.mutable.LongMap.empty[Long]
        next.foreach { case (id, d) => if (d >= k) kept(id) = d }
        alive = kept
      }
      return alive.toSeq.toDF("id", "core_degree")
    }

    val slots = new Fixpoint.Rolling(scratch, "alive")

    // round 0: every edge endpoint is alive (symmetric list ⇒ dst
    // covers the node set); keeps a degree column so the final round's
    // survivors carry core_degree without an extra pass
    var alive = slots(
      edges.groupBy(col("dst")).agg(count(lit(1)).as("d"))
        .select(col("dst").as("id"), col("d")), 0)
    for (i <- 1 to rounds) {
      val s = alive.select(col("id").as("sid"))
      val t = alive.select(col("id").as("tid"))
      val next = edges.join(s, col("src") === col("sid"))
        .join(t, col("dst") === col("tid"))
        .groupBy(col("dst")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("dst").as("id"), col("d"))
      // the FINAL round is not round-tripped (r16): within a round the
      // alive set is referenced twice (both endpoints), so mid-loop
      // truncation stands, but the LAST round's output is consumed once
      // by the caller — its plan is one round deep over the previous
      // round's parquet, and the write+read bought nothing
      alive = if (i < rounds) slots(next, i) else next
    }
    alive.select(col("id"), col("d").as("core_degree"))
  }

  /** Distance-2 link prediction over an undirected pair list — the
    * "which near-dup edge did the banding MISS" screen: for every
    * non-adjacent pair (u, v) sharing at least one neighbor, the three
    * classic neighborhood scores in one pass:
    *
    *  - `cn`           common-neighbor count,
    *  - `ra_ppm`       resource-allocation index Σ_w 10⁶ div deg(w)
    *                   (Adamic–Adar's 1/log replaced by the integral
    *                   1/deg — same ordering intuition, engine-exact),
    *  - `jaccard_bp`   neighborhood Jaccard cn·10⁴ div (du+dv−cn).
    *
    * A high-scoring non-edge between two verified clusters is either a
    * banding miss (tighten bands / raise numHashes) or a genuine
    * borderline pair for the human queue — either way the list is the
    * audit a dedup owner reads next to q_lsh_recall's aggregate number.
    *
    * 100 TB posture: wedges are generated per CENTER, so volume is
    * Σ deg(w)² — the same hub hazard as any wedge join. Centers with
    * degree > `wedgeCap` are EXCLUDED from wedge generation (not from
    * the degree table): a collapsed-band hub connected to everything
    * predicts nothing (its neighbors share it trivially) and would
    * alone dominate the join; the cap bounds per-center work at
    * wedgeCap² while `cn`/`jaccard_bp` remain exact over the capped
    * center set. The oracle applies the identical cap, so both engines
    * compute the same statistic BY DEFINITION (the cap is part of the
    * operator's contract, like maxDf in the inverted-index family).
    * Graph tables are multiply referenced, so each is truncated through
    * [[Fixpoint]].
    *
    * @return (u, v, cn, ra_ppm, jaccard_bp) for non-adjacent u < v
    *         with ≥ 1 sub-cap common neighbor.
    */
  /** Newman modularity of ONE labeling of an undirected pair list, in
    * basis points via the single-division identity
    * (4m·e_in − Σd_c²)·10⁴ div (4m²) — one truncating division on
    * DECIMAL(38,0) so the number is engine-exact (the oracle
    * sign-splits its floor division; Q goes negative for a
    * worse-than-random partition). `labels` must carry (id, lbl) and
    * cover every edge endpoint.
    *
    * @return one row (method, m, e_in, n_communities, modularity_bp).
    */
  def modularityOf(pairs: DataFrame, labels: DataFrame,
                   method: String): DataFrame = {
    val vp = pairs.select(least(col(pairs.columns(0)), col(pairs.columns(1)))
        .cast("long").as("a"),
      greatest(col(pairs.columns(0)), col(pairs.columns(1)))
        .cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val lab = labels.toDF("id", "lbl")
    val deg = vp.select(col("a").as("id"))
      .union(vp.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val mRow = vp.agg(count(lit(1)).as("m"))
    val ein = vp.join(lab.toDF("a", "la"), Seq("a"))
      .join(lab.toDF("b", "lb"), Seq("b"))
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("e_in"))
    val dc2 = lab.join(deg, "id")
      .groupBy(col("lbl")).agg(sum(col("d")).as("dsum"))
      .agg(sum(expr("dsum * dsum")).as("sum_dc2"),
        count(lit(1)).as("n_communities"))
    ein.crossJoin(dc2).crossJoin(broadcast(mRow))
      .selectExpr(s"'$method' AS method", "m", "e_in", "n_communities",
        "CAST(e_in AS DECIMAL(38,0)) AS ein_d",
        "CAST(sum_dc2 AS DECIMAL(38,0)) AS dc2_d",
        "CAST(m AS DECIMAL(38,0)) AS m_d")
      .selectExpr("method", "m", "e_in", "n_communities",
        """CAST((ein_d * 4 * m_d - dc2_d) * 10000
          |  div (4 * m_d * m_d) AS BIGINT) AS modularity_bp"""
          .stripMargin)
  }

  def linkPrediction(pairs: DataFrame, src: String, dst: String,
                     wedgeCap: Int = 64): DataFrame = {
    require(wedgeCap >= 1)
    val scratch = graft.CacheRegistry.scratch("lp")
    val canon = Fixpoint.truncate(
      pairs.select(least(col(src), col(dst)).cast("long").as("u"),
          greatest(col(src), col(dst)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      s"$scratch/canon")
    val sym = Fixpoint.truncate(
      canon.select(col("u").as("c"), col("v").as("n"))
        .union(canon.select(col("v").as("c"), col("u").as("n"))),
      s"$scratch/sym")
    val deg = Fixpoint.truncate(
      sym.groupBy(col("c")).agg(count(lit(1)).as("d")), s"$scratch/deg")
    // wedge sides: edges whose CENTER is sub-cap, carrying the center's
    // degree for the RA contribution
    val cse = sym.join(deg.filter(col("d") <= wedgeCap), "c")
    val scores = cse.select(col("c"), col("n").as("u"), col("d"))
      .join(cse.select(col("c"), col("n").as("v")), "c")
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div d")).as("ra_ppm"))
    scores
      .join(canon, Seq("u", "v"), "left_anti") // non-adjacent only
      .join(deg.select(col("c").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("c").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("cn"),
        col("ra_ppm").cast("long").as("ra_ppm"),
        expr("cn * 10000 div (du + dv - cn)").as("jaccard_bp"))
  }

  /** DBSCAN roles and cluster assignment over a PRECOMPUTED
    * ε-neighborhood pair table — the density-clustering step after any
    * blocked similarity join (embedding cosine, MinHash Jaccard, …).
    * Standard DBSCAN semantics on that graph, deterministic tie rules:
    *
    *  - core ⟺ |N_ε(p)| ≥ `minPts` counting p itself, i.e. pair-table
    *    degree ≥ minPts − 1;
    *  - clusters = connected components of the core–core subgraph
    *    ([[connectedComponents]] hash-min fixpoint; cluster_id = min
    *    member id); a core with no core neighbor is its own singleton;
    *  - border = non-core adjacent to ≥ 1 core, assigned the MIN
    *    cluster_id among its core neighbors (the deterministic rule for
    *    DBSCAN's order-dependent border attachment);
    *  - everything else is noise (cluster_id = −1).
    *
    * 100 TB posture: degree and border attachment are keyed aggregates
    * over the pair table; the CC fixpoint runs on the core–core
    * subgraph only (≤ |pairs|, O(diameter) rounds, disk-round-tripped
    * labels); role assembly is two id-keyed left joins. No windows,
    * no collects, no cartesian products.
    *
    * @param points one row per corpus point (only `idCol` is read) —
    *               points absent from `pairs` come back as noise
    * @param pairs  one row per undirected ε-edge (srcCol < dstCol or
    *               not — symmetrized internally)
    * @param minPts DBSCAN minPts, counting the point itself
    * @return (idCol, role ∈ {core,border,noise}, cluster_id)
    */
  def dbscanRoles(points: DataFrame, idCol: String,
                  pairs: DataFrame, srcCol: String = "doc_a",
                  dstCol: String = "doc_b", minPts: Int = 3): DataFrame = {
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(
        pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
    val core = edges.groupBy(col("src"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= minPts - 1)
      .select(col("src").as("id"))
    val coreEdges = edges
      .join(core.select(col("id").as("src")), Seq("src"), "leftsemi")
      .join(core.select(col("id").as("dst")), Seq("dst"), "leftsemi")
    val cc = connectedComponents(coreEdges, "src", "dst")
    // singleton cores (no core neighbor) cluster with themselves
    val coreClusters = core.join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val borderClusters = edges
      .join(coreClusters.select(col("id").as("dst"),
        col("cluster_id").as("dst_cl")), Seq("dst"))
      .join(core.select(col("id").as("src")), Seq("src"), "leftanti")
      .groupBy(col("src"))
      .agg(min(col("dst_cl")).as("cluster_id"))
      .select(col("src").as("id"), col("cluster_id"))
    points.select(col(idCol))
      .join(coreClusters.select(col("id").as(idCol),
        col("cluster_id").as("core_cl")), Seq(idCol), "left")
      .join(borderClusters.select(col("id").as(idCol),
        col("cluster_id").as("border_cl")), Seq(idCol), "left")
      .select(col(idCol),
        when(col("core_cl").isNotNull, lit("core"))
          .when(col("border_cl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cl"), col("border_cl"), lit(-1L))
          .as("cluster_id"))
  }
}
