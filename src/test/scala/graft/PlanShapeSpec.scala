package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, RelationalQueries, VectorQueries}

/** Physical-plan regression net: the 100 TB posture claims made in the
  * operator Scaladocs — filters reach the parquet scan, small sides
  * broadcast, signature computation is shuffle-free — asserted against
  * `explain` output so a refactor cannot silently regress them.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    // earlier suites in the shared JVM may have left REGISTERED caches
    // whose plan equals a subtree of the query under test (e.g. the
    // k-center spec's quantized-embedding projection == the elbow's);
    // Spark would substitute the InMemoryRelation and its stringified
    // build plan would double-count "Scan parquet" in these pins —
    // plan-shape tests must see the uncached shape
    graft.CacheRegistry.releaseAll()
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: shipdate filter pushes into the parquet scan") {
    val plan = planOf(RelationalQueries.queries("q1_agg")(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"no pushed filter in:\n$plan")
  }

  test("q_star_join: dimension sides broadcast") {
    val plan = planOf(RelationalQueries.queries("q_star_join")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected ≥3 broadcast joins in:\n$plan")
  }

  test("q_ann_cosine_topk: query side broadcast, no shuffle of candidates") {
    val plan = planOf(VectorQueries.queries("q_ann_cosine_topk")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
  }

  test("q_range_join_grain: equi-join plan, no nested loop or cartesian") {
    val plan = planOf(
      RelationalQueries.queries("q_range_join_grain")(spark, sf))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"grain rewrite fell back to a cross-style join:\n$plan")
    // and the result is row-identical to the declarative BETWEEN form
    import org.apache.spark.sql.functions._
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_d"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(to_date(col("l_shipdate")).as("l_d"))
    val naive = ord.join(li,
        col("l_d") >= col("o_d") && col("l_d") <= date_add(col("o_d"), 3))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_shipments_4d"))
    val grain = RelationalQueries.queries("q_range_join_grain")(spark, sf)
    assert(grain.exceptAll(naive).isEmpty && naive.exceptAll(grain).isEmpty)
  }

  test("minhash signatures: zero shuffle (pure projection)") {
    val docs = Seq((1L, "a b c d e f"), (2L, "b c d e f g"))
      .toDF("doc_id", "text")
    val plan = planOf(Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("simhash: zero shuffle (pure projection)") {
    val docs = Seq((1L, "a b c"), (2L, "c d e")).toDF("doc_id", "text")
    val plan = planOf(Dedup.simhash60(docs, "doc_id", "text"))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("q_epoch_shuffle / q_curriculum_order: sharded window, never a " +
    "global sort") {
    for (q <- Seq(
        graft.operators.Curation.queries("q_epoch_shuffle")(spark, sf),
        graft.operators.TextQueries.queries("q_curriculum_order")(
          spark, sf))) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange rangepartitioning"),
        s"global sort leaked into the training-order plan:\n$plan")
      assert(!plan.contains("Exchange SinglePartition"),
        s"single-partition funnel in:\n$plan")
    }
  }

  test("q_triangle_clustering: equi-joins only, no cartesian wedge") {
    val plan = planOf(
      graft.operators.TextQueries.queries("q_triangle_clustering")(
        spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the triangle plan:\n$plan")
  }

  test("q_edge_support: equi-joins only, no cartesian wedge") {
    val plan = planOf(
      graft.operators.TextQueries.queries("q_edge_support")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the edge-support plan:\n$plan")
  }

  test("q_ann_sq_topk: broadcast stats + query panel, bounded_topk " +
    "partials, no SMJ") {
    val plan = planOf(
      VectorQueries.queries("q_ann_sq_topk")(spark, sf))
    assert(plan.contains("partial_bounded_topk"),
      s"no map-side k-cap in the SQ scan:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"corpus-shuffling join in the SQ plan:\n$plan")
  }

  test("q_top_eigvec: no corpus-keyed shuffle join — iterate rides " +
    "broadcast") {
    val plan = planOf(
      VectorQueries.queries("q_top_eigvec")(spark, sf))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"corpus-shuffling join in the power-iteration plan:\n$plan")
  }

  test("q_ann_mrr: the rank lookup joins broadcast") {
    val plan = planOf(VectorQueries.queries("q_ann_mrr")(spark, sf))
    assert(!plan.contains("SortMergeJoin"),
      s"tiny truth/approx tables shuffled into a SMJ:\n$plan")
  }

  test("native cosine_sim stays inside whole-stage codegen") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val native = emb.select(
        graft.functions.VectorFunctions.cosine(col("embedding"),
          col("embedding")))
      .queryExecution.executedPlan.toString
    // a codegen'd stage is prefixed "*(n)"; CodegenFallback exprs (the
    // HOF formulation) would break the Project out of WSCG
    assert(native.contains("*(1)"), s"no WSCG stage in:\n$native")
  }

  test("q_asof_join: union-and-carry — one sort shuffle, no range join") {
    val plan = planOf(operators.EventQueries.queries("q_asof_join")(spark, sf))
    // the naive formulation would show a BroadcastNestedLoopJoin (range
    // predicate); the scalable shape is window-over-union: exactly one
    // hashpartitioning exchange (user_id) and no join node at all
    assert(!plan.contains("Join"), s"range join materialized:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"plan:\n$plan")
  }

  test("q_stratified_sample: bounded_topk per stratum, no window funnel") {
    val plan = planOf(operators.Curation.queries("q_stratified_sample")(spark, sf))
    assert(plan.contains("partial_bounded_topk"), s"no map-side combine:\n$plan")
    assert(!plan.contains("Window"), s"window funnel:\n$plan")
  }

  test("q_group_topk: map-side k-capped partials, no rank window") {
    val plan = planOf(RelationalQueries.queries("q_group_topk")(spark, sf))
    assert(plan.contains("partial_bounded_topk"),
      s"no map-side combine in:\n$plan")
    assert(!plan.contains("Window"),
      s"group top-k fell back to a rank window:\n$plan")
  }

  test("q_semi_join / q_anti_join lower to semi/anti hash joins") {
    val semi = planOf(RelationalQueries.queries("q_semi_join")(spark, sf))
    val anti = planOf(RelationalQueries.queries("q_anti_join")(spark, sf))
    assert(semi.contains("LeftSemi"), s"plan:\n$semi")
    assert(anti.contains("LeftAnti"), s"plan:\n$anti")
  }

  test("round-5 pair builders stay equi-keyed: no nested loop / cartesian") {
    // interval overlap rides the custkey; edit distance rides the
    // (lang, length-bucket) block; PMI rides doc_id. A planner fallback
    // to BNLJ/cartesian on any of these is the O(n²) regression the
    // operators exist to avoid.
    for (q <- Seq("q_interval_overlap", "q_edit_distance_pairs"))
      assertNoCross(planOf(RelationalQueries.queries
        .getOrElse(q, operators.TextQueries.queries(q))(spark, sf)), q)
    // the TF-IDF pair build rides the term key with df-capped postings
    // — same no-cross contract as the jaccard family
    assertNoCross(planOf(
      operators.TextQueries.queries("q_tfidf_pairs")(spark, sf)),
      "q_tfidf_pairs")
    // PMI's one BNLJ is the single-row n_docs scalar attach (a broadcast
    // of ONE row — constant cost); the corpus-sized pair build itself
    // must be hash-keyed and there must be no second nested loop.
    val pmi = planOf(
      operators.TextQueries.queries("q_pmi_cooccur")(spark, sf))
    assert("BroadcastNestedLoopJoin".r.findAllIn(pmi).size <= 1 &&
      !pmi.contains("CartesianProduct"), s"q_pmi_cooccur plan:\n$pmi")
    assert(pmi.contains("BroadcastHashJoin") ||
      pmi.contains("SortMergeJoin"),
      s"q_pmi_cooccur pair build not hash-keyed:\n$pmi")
  }

  test("q_ann_pq_topk: broadcast ADC scan, one keyed exchange (topk agg)") {
    val plan = planOf(VectorQueries.queries("q_ann_pq_topk")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"ADC scan should broadcast the query tables:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"coded corpus must not shuffle for the scan:\n$plan")
    assert("hashpartitioning".r.findAllIn(plan).size <= 1,
      s"expected only bounded_topk's exchange:\n$plan")
  }

  test("q_ann_ivfpq_topk: broadcast probes+tables, one keyed exchange") {
    val plan = planOf(VectorQueries.queries("q_ann_ivfpq_topk")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"probed-cell join should broadcast the probe list:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"coded corpus must not shuffle:\n$plan")
    assert("hashpartitioning".r.findAllIn(plan).size <= 1,
      s"expected only bounded_topk's exchange:\n$plan")
  }

  test("q_rp_project: no keyed shuffle (pure projection)") {
    // the only Exchange allowed is Tables.load's local round-robin
    // fan-out of the single-row-group scan — the sketch itself must
    // never hash/range/single-partition the data
    val plan = planOf(VectorQueries.queries("q_rp_project")(spark, sf))
    assert(!plan.contains("hashpartitioning") &&
      !plan.contains("rangepartitioning") &&
      !plan.contains("SinglePartition"),
      s"rp sketch introduced a keyed shuffle:\n$plan")
  }

  test("q_bigram_lm_score: vocab-bounded model tables broadcast") {
    val plan = planOf(
      operators.TextQueries.queries("q_bigram_lm_score")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"model/ctx joins should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the model join:\n$plan")
  }

  test("q_outliers / q_rate_anomaly: per-group stats broadcast, map-side filter") {
    for (q <- Seq("q_outliers", "q_rate_anomaly")) {
      val plan = planOf(operators.EventQueries.queries(q)(spark, sf))
      assert(plan.contains("BroadcastHashJoin"),
        s"$q stats side did not broadcast:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q shuffled the probe:\n$plan")
    }
  }

  test("q_attribution_linear: user-keyed equi-join, no window, no cross") {
    val plan = planOf(
      operators.EventQueries.queries("q_attribution_linear")(spark, sf))
    assertNoCross(plan, "q_attribution_linear")
    assert(!plan.contains("Window"),
      s"attribution fell back to a window:\n$plan")
  }

  test("attribution family: every model stays on equi-joins; only the " +
    "position model may rank inside a purchase partition") {
    for (q <- Seq("q_attribution_last", "q_attribution_decay")) {
      val plan = planOf(operators.EventQueries.queries(q)(spark, sf))
      assertNoCross(plan, q)
      assert(!plan.contains("Window"), s"$q fell back to a window:\n$plan")
    }
    val pos = planOf(
      operators.EventQueries.queries("q_attribution_position")(spark, sf))
    assertNoCross(pos, "q_attribution_position")
  }

  test("q_gini_concentration: window runs over the value-group table, " +
    "never a per-document sort; no join") {
    val plan = planOf(
      operators.Curation.queries("q_gini_concentration")(spark, sf))
    assert(!plan.contains("Join"), s"gini must not join:\n$plan")
    // the cumulative window must consume the (lang, t) AGGREGATE —
    // a Window directly over the scan would be the corpus-sort shape
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"expected Window above a pre-aggregate:\n$plan")
  }

  test("q_cluster_stats: singleton attach is constant-row, never a " +
    "cartesian of data") {
    val plan = planOf(
      operators.TextQueries.queries("q_cluster_stats")(spark, sf))
    assert(!plan.contains("CartesianProduct"),
      s"q_cluster_stats fell back to a cartesian:\n$plan")
  }

  test("q_ann_nprobe_sweep: rungs are re-filters — bounded_topk, no " +
    "window, no shuffle join") {
    val plan = planOf(
      operators.VectorQueries.queries("q_ann_nprobe_sweep")(spark, sf))
    assert(!plan.contains("Window"),
      s"sweep top-k fell back to a window:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"sweep shuffled a join side:\n$plan")
    assert(plan.contains("bounded_topk"),
      s"expected bounded_topk partials:\n$plan")
  }

  test("q_chunk_stats: projection+Generate only — no join of any kind") {
    val plan = planOf(
      operators.Curation.queries("q_chunk_stats")(spark, sf))
    assert(!plan.contains("Join"), s"chunking must not join:\n$plan")
    assert(plan.contains("Generate"), s"expected sequence explode:\n$plan")
  }

  test("q_centroid_similarity: pairwise stage joins the bounded centroid " +
    "table by broadcast, never the corpus") {
    val plan = planOf(
      operators.VectorQueries.queries("q_centroid_similarity")(spark, sf))
    assertNoCross(plan, "q_centroid_similarity")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid self-join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"centroid table should never be shuffle-joined:\n$plan")
  }

  test("winnow selections: zero shuffle (pure projection)") {
    // direct operator call — Tables.load adds a small-file round-robin
    // spread locally that is not part of the operator's shape
    val docs = Seq((1L, "a b c d e f g h"), (2L, "b c d e f g h i"))
      .toDF("doc_id", "text")
    val plan = planOf(operators.Winnow.selections(docs))
    assert(!plan.contains("Exchange"),
      s"winnow selection must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"winnow selection must not join:\n$plan")
  }

  test("q_importance_weights: 256-row model rides broadcast joins; the " +
    "only keyed exchange is the doc aggregate") {
    val plan = planOf(
      operators.Curation.queries("q_importance_weights")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // single-row totals attach as broadcast crosses (the audited
    // constant-attach shape); the keyed joins must never sort-merge
    assert(!plan.contains("SortMergeJoin"),
      s"model join must broadcast, not sort-merge:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"q_importance_weights fell back to a cartesian:\n$plan")
  }

  test("event tier: event_type filters push through the epochMs projection " +
    "into the parquet scan") {
    // Tables.epochMs adds a projected ms column; a filter on event_type
    // must still reach PushedFilters — if the projection ever blocks
    // pushdown, every event query rescans the full fact table
    val plan = planOf(operators.EventQueries.queries("q_event_funnel")(spark, sf))
    assert(plan.contains("EqualTo(event_type"),
      s"event_type filter not pushed into the events scan:\n$plan")
  }

  test("vocab head selection: TakeOrdered heaps, no global-sort window " +
    "over the distinct-term table") {
    // at web scale the distinct-term table is 10⁸–10⁹ rows; top-V must
    // be per-partition heaps (TakeOrderedAndProject), never a rank
    // window (single-partition global sort)
    val vocab = planOf(operators.TextQueries.queries("q_vocab_coverage")(spark, sf))
    assert(vocab.contains("TakeOrderedAndProject"),
      s"vocab top-V is not a TakeOrdered:\n$vocab")
    assert(!vocab.contains("Window"),
      s"vocab selection fell back to a rank window:\n$vocab")
    val head = planOf(operators.TextQueries.queries("q_head_coverage")(spark, sf))
    assert(head.contains("TakeOrderedAndProject"),
      s"head top-50 is not a TakeOrdered:\n$head")
    // the surviving window ranks the ≤50-row TakeOrdered output only
  }

  test("cdc decompose: zero shuffle (pure projection)") {
    val docs = Seq((1L, "a b c d e f g h i j k l"))
      .toDF("doc_id", "text")
    val plan = planOf(operators.Chunking.decompose(docs))
    assert(!plan.contains("Exchange"),
      s"chunk decomposition must not shuffle:\n$plan")
    assert(!plan.contains("Join"),
      s"chunk decomposition must not join:\n$plan")
  }

  test("q_bm25_topk: TakeOrdered cut, broadcast df/stats, no cross fallback") {
    // the final top-20 must be per-partition heaps (never a global
    // rank window), and the one-row stats / |Q|-row df tables must
    // ride broadcast — a doc-keyed SMJ against either would shuffle
    // the corpus for a constant-sized side
    val plan = planOf(operators.TextQueries.queries("q_bm25_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"BM25 cut is not a TakeOrdered:\n$plan")
    assert(!plan.contains("Window"),
      s"BM25 fell back to a rank window:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 1,
      s"df join is not broadcast:\n$plan")
  }

  test("q_ann_filtered: label predicate evaluated in the broadcast join, " +
    "no shuffle of the candidate side") {
    // pre-filter semantics must not cost a candidate-side shuffle: the
    // broadcast of the Q-row query panel carries the label equality,
    // and the only hash exchange is the final bounded_topk aggregate
    val plan = planOf(
      VectorQueries.queries("q_ann_filtered")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"$hashExchanges hash exchanges in filtered search:\n$plan")
  }

  test("q_readability: pure projection — no keyed exchange, no join") {
    // Tables.load's single-split RoundRobin fan-out (a local-testdata
    // artifact, no-op on a real cluster) is the ONLY exchange allowed
    val plan = planOf(
      operators.TextQueries.queries("q_readability")(spark, sf))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"readability profile must not shuffle on a key:\n$plan")
    assert(!plan.contains("Join"), s"plan:\n$plan")
  }

  test("q_simpson_diversity / q_ols_trend / q_dow_hour_profile: " +
    "aggregation-only plans, no join or window") {
    Seq(
      operators.TextQueries.queries("q_simpson_diversity")(spark, sf),
      RelationalQueries.queries("q_ols_trend")(spark, sf),
      operators.EventQueries.queries("q_dow_hour_profile")(spark, sf))
      .foreach { df =>
        val plan = planOf(df)
        assert(!plan.contains("Join"), s"plan:\n$plan")
        assert(!plan.contains("Window"), s"plan:\n$plan")
      }
  }

  test("q_ann_pq_rerank: refine pass rides broadcast joins, " +
    "never a corpus-side sort-merge") {
    // the Q·C candidate set and the Q-row query panel must both
    // broadcast against the vector table — an SMJ would shuffle the
    // corpus for a constant-sized side
    val plan = planOf(
      VectorQueries.queries("q_ann_pq_rerank")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"refine joins are not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  test("q_kmeans_elbow: one corpus pass — the k sweep adds no scans") {
    // the centroid panel attaches as a single broadcast row and all
    // ELBOW_KS assignments happen in-row: exactly one parquet scan of
    // embeddings (plus the panel build's own), one keyed exchange (the
    // |ks|-row aggregate)
    val plan = planOf(
      VectorQueries.queries("q_kmeans_elbow")(spark, sf))
    assert("Scan parquet".r.findAllIn(plan).size <= 2,
      s"k sweep multiplied corpus scans:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  test("q_date_gaps: supplier-keyed window + rollup, no join") {
    val plan = planOf(RelationalQueries.queries("q_date_gaps")(spark, sf))
    assert(!plan.contains("Join"), s"plan:\n$plan")
    assert(plan.contains("Window"), s"lag window missing:\n$plan")
  }

  test("q_source_term_affinity: per-source cut is bounded_topk; the " +
    "only window re-ranks the broadcast-joined candidate set") {
    val plan = planOf(
      operators.TextQueries.queries("q_source_term_affinity")(spark, sf))
    assert(plan.contains("BoundedTopK") || plan.contains("bounded_topk"),
      s"bounded_topk missing:\n$plan")
    // the collision-absorbing re-rank window is allowed ONLY above the
    // broadcast join that bounds its input to ≤ (k+headroom) rows per
    // source — a window whose subtree has no broadcast join would be
    // the vocab-sized rank funnel this pin exists to forbid
    val winIdx = plan.indexOf("Window ")
    assert(winIdx >= 0, s"expected the candidate re-rank window:\n$plan")
    assert(plan.indexOf("BroadcastHashJoin", winIdx) > winIdx,
      s"re-rank window is not above the candidate broadcast join:\n$plan")
    assert(!plan.substring(0, winIdx).contains("Window "),
      s"a second window above the re-rank:\n$plan")
  }

  test("q_cusum_changepoint / q_quota_apportionment: the only windows " +
    "run over bounded tables (days / sources), no corpus join") {
    Seq(
      RelationalQueries.queries("q_cusum_changepoint")(spark, sf),
      operators.Curation.queries("q_quota_apportionment")(spark, sf))
      .foreach { df =>
        val plan = planOf(df)
        assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
        // the broadcast one-row total attach is the only join allowed
        assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
      }
  }

  test("q_session_lift: margins/total ride broadcast; " +
    "pair join stays session-keyed equi") {
    val plan = planOf(
      operators.EventQueries.queries("q_session_lift")(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"margin joins are not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q_revenue_concentration: distributed prefix-sum — range " +
    "repartition + pid-local windows only, no unpartitioned window") {
    val plan = planOf(
      RelationalQueries.queries("q_revenue_concentration")(spark, sf))
    // the global cumulative order arrives via a scalable range
    // exchange, not a single-partition sort
    assert(plan.contains("rangepartitioning(tot"),
      s"expected a range repartition on tot:\n$plan")
    // every window in the plan must be pid-partitioned (parallel local
    // cumsum); an unpartitioned window = the single-partition funnel
    // this query was rebuilt to kill
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, s"expected the pid-local window:\n$plan")
    winLines.foreach { l =>
      assert(l.contains("windowspecdefinition(pid"),
        s"unpartitioned window (single-partition global sort):\n$l")
    }
  }

  test("q_quantiles_unbounded: distributed prefix-sum — range " +
    "repartition + pid-local windows only, no unpartitioned window") {
    val plan = planOf(
      RelationalQueries.queries("q_quantiles_unbounded")(spark, sf))
    assert(plan.contains("rangepartitioning(cents"),
      s"expected a range repartition on cents:\n$plan")
    val winLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(winLines.nonEmpty, s"expected the pid-local window:\n$plan")
    winLines.foreach { l =>
      assert(l.contains("windowspecdefinition(pid"),
        s"unpartitioned window (single-partition global sort):\n$l")
    }
  }

  test("q_hierarchy_closure / q_sssp_hops: every iterative round is an " +
    "equi-join, never a nested loop") {
    val closure = planOf(
      operators.Hierarchy.queries("q_hierarchy_closure")(spark, sf))
    assertNoCross(closure, "q_hierarchy_closure")
    val sssp = planOf(
      operators.Association.queries("q_sssp_hops")(spark, sf))
    assertNoCross(sssp, "q_sssp_hops")
  }

  test("q_basket_rules: pair generation is a basket-keyed equi-join; " +
    "only the 1-row total attaches nested-loop") {
    val plan = planOf(
      operators.Association.queries("q_basket_rules")(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    // the okey self-join must be hash/sort-merge; the single BNLJ
    // allowed is the broadcast one-row n_baskets attach
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"data-sized nested loop in:\n$plan")
  }

  test("q_boolean_search: query-term filter prunes the postings scan") {
    val plan = planOf(
      operators.Search.queries("q_boolean_search")(spark, sf))
    // the term IN (...) predicate must sit above the scan as a codegen'd
    // filter on the exploded postings (it cannot reach parquet — terms
    // are post-explode), and no cross-style join anywhere
    assertNoCross(plan, "q_boolean_search")
    assert(plan.contains("tok#") && plan.contains("Filter"),
      s"expected a token filter in:\n$plan")
  }

  test("q_ewma_daily / q_nelson_aalen: windows run over bounded " +
    "aggregates, not raw events") {
    // both plans must aggregate BEFORE any window: the Window node's
    // child chain contains the hash aggregate, so the window input is
    // the (type, day) / lifetime-histogram table
    for ((nm, df) <- Seq(
        "q_ewma_daily" ->
          operators.Experiments.queries("q_ewma_daily")(spark, sf),
        "q_nelson_aalen" ->
          operators.Lifecycle.queries("q_nelson_aalen")(spark, sf))) {
      val plan = planOf(df)
      val winIdx = plan.indexOf("Window ")
      val aggIdx = plan.lastIndexOf("HashAggregate")
      assert(winIdx >= 0 && aggIdx > winIdx,
        s"$nm: expected an aggregate BELOW the window:\n$plan")
    }
  }

  test("q_autocorr / q_open_intervals: windows and lag joins run over " +
    "the bounded day aggregate, never raw rows") {
    for ((nm, df) <- Seq(
        "q_autocorr" ->
          operators.Experiments.queries("q_autocorr")(spark, sf),
        "q_open_intervals" ->
          operators.Lifecycle.queries("q_open_intervals")(spark, sf))) {
      val plan = planOf(df)
      val aggIdx = plan.lastIndexOf("HashAggregate")
      val winIdx = plan.indexOf("Window ")
      // the day aggregate sits below any window in the chain
      if (winIdx >= 0)
        assert(aggIdx > winIdx,
          s"$nm: expected the day aggregate BELOW the window:\n$plan")
      assert(aggIdx >= 0, s"$nm: no aggregate in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$nm plan:\n$plan")
    }
  }

  test("q_feature_hashing: term-keyed partial aggregation (map-side " +
    "combine), no join, no window") {
    val plan = planOf(
      operators.Features.queries("q_feature_hashing")(spark, sf))
    assert(!plan.contains("Window ") && !plan.contains("SortMergeJoin"),
      s"plan:\n$plan")
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
  }

  test("q_bloom_fpr: bit table and probe membership ride broadcast " +
    "joins — no shuffle join anywhere") {
    val plan = planOf(operators.Features.queries("q_bloom_fpr")(spark, sf))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"expected broadcast-only joins in:\n$plan")
  }

  test("q_kmv_distinct: sketches build through bounded_topk partials " +
    "(map-side k-cap), never a per-type sort") {
    val plan = planOf(
      operators.Sketches.queries("q_kmv_distinct")(spark, sf))
    assert(plan.contains("partial_bounded_topk"), s"plan:\n$plan")
    assert(!plan.contains("Window "), s"plan:\n$plan")
  }

  private def assertNoCross(plan: String, q: String): Unit =
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"$q fell back to a cross-style join:\n$plan")

  test("DedupPlan.pairs and .members are lineage-truncated flat scans " +
    "(the round-12 x100 fix: no LSH/union subtree survives into " +
    "consumer plans)") {
    // a persist alone caches data but leaves the corpus subtree in the
    // logical plan, where every consumer job re-analyzes it (316 s of
    // driver time on a 240-pair graph at x100 — PERF.md round 12);
    // these two tables must be parquet-scan-rooted
    val plan = operators.DedupPlan(
      spark.read.parquet(s"$sf/documents.parquet"))
    val pairsLogical = plan.pairs.queryExecution.analyzed.toString
    assert(!pairsLogical.contains("Join") && !pairsLogical.contains("Union"),
      s"DedupPlan.pairs logical plan is not a flat scan:\n$pairsLogical")
    // members legitimately joins labels with the (bounded) size table,
    // but no corpus-derived subtree — shingle explode (Generate) or the
    // doc semi-join — may survive into it
    val membersLogical = plan.members.queryExecution.analyzed.toString
    assert(!membersLogical.contains("Generate") &&
      !membersLogical.contains("LeftSemi"),
      s"DedupPlan.members drags a corpus subtree:\n$membersLogical")
    graft.CacheRegistry.releaseAll()
  }

  test("checkpoint→repartition→persist exposes HashPartitioning: " +
    "BFS-round join re-shuffles only the frontier (q_sssp_hops shape)") {
    // The round-14 BFS fix depends on TWO measured Spark behaviors:
    //  (a) repartition(col).localCheckpoint() alone reports
    //      UnknownPartitioning under AQE (the LogicalRDD captures
    //      before the final plan settles), so a checkpoint is NOT
    //      enough for co-location — asserted below so a Spark upgrade
    //      that starts preserving it prompts simplifying the operator;
    //  (b) an InMemoryRelation over repartition(col) DOES expose
    //      HashPartitioning, so the hybrid checkpoint→repartition→
    //      persist plans no Exchange above the edge side. If (b) ever
    //      breaks, every BFS round silently re-shuffles the full edge
    //      table — this pin fails first.
    import org.apache.spark.sql.functions._
    // force a shuffle-based join: with broadcast allowed the tiny
    // frontier broadcasts and NEITHER side exchanges, which would pass
    // the assertion without exercising the contract
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ckptOnly = spark.range(1000)
        .select(pmod(col("id"), lit(97)).as("src"),
          pmod(col("id") + 13, lit(97)).as("dst"))
        .repartition(col("src"))
        .localCheckpoint()
      assert(ckptOnly.queryExecution.executedPlan.outputPartitioning
          .toString.contains("UnknownPartitioning"),
        "localCheckpoint now PRESERVES partitioning - the operator's " +
          "repartition-after-checkpoint hybrid can be simplified")
      // explicit partition COUNT, mirroring the shipped operators: a
      // keyed repartition without one is an AQE hint that coalesces the
      // fill to advisory-sized partitions, freezing every later round's
      // parallelism at that count (78 s vs 21 s on the 10⁷-edge CC
      // fixpoint, PERF.md §Fixpoint edge caches co-located)
      val e = ckptOnly.repartition(
        spark.sessionState.conf.numShufflePartitions, col("src")).persist()
      // the cached AQE plan exposes HashPartitioning only once it
      // FINALIZES — i.e. after the cache fills. In the operator, round
      // 1's job fills it (one edge shuffle, the documented setup cost);
      // every later round plans against the finalized cache.
      e.count()
      val frontier = spark.range(5)
        .select(col("id").as("node"), lit(0L).as("dist"))
      val joined = frontier.join(e, col("node") === col("src"))
      val plan = joined.queryExecution.executedPlan.toString
      // exactly ONE requirement-driven exchange: the frontier side. A
      // second would mean the cached edge table lost its partitioning.
      // (The cached-plan dump prints its own REPARTITION_BY_COL
      // exchange — that one is the single cache fill, not a per-round
      // cost — so count only ENSURE_REQUIREMENTS exchanges.)
      val nExchanges = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
      assert(nExchanges === 1,
        s"expected only the frontier exchange, got $nExchanges:\n$plan")
      // and the result is still correct: residues 0..4 of id % 97 each
      // occur 11 times in 0..999 (1000 = 97*10 + 30), so 5 * 11 matches
      assert(joined.count() === 55L)
      e.unpersist()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("parquet-scan→repartition→persist exposes HashPartitioning: " +
    "fixpoint rounds re-shuffle only the state table (Clusters shape)") {
    // The round-14 Clusters co-location (CC / PageRank / HITS / LPA /
    // kCore) composes the cache from a PARQUET SCAN (the lineage-
    // truncated edge table), not a localCheckpoint — pin that this
    // composition also exposes its partitioning to consumers, or every
    // fixpoint round silently re-shuffles the corpus-scale edge side.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val dir = graft.CacheRegistry.scratch("planshape_scan_colo")
    try {
      spark.range(1000)
        .select(pmod(col("id"), lit(97)).as("src"),
          pmod(col("id") + 13, lit(97)).as("dst"))
        .write.mode("overwrite").parquet(dir)
      val e = spark.read.parquet(dir)
        .repartition(spark.sessionState.conf.numShufflePartitions,
          col("src"))
        .persist()
      e.count() // finalize the cached AQE plan (the one edge shuffle)
      // the cache must hold the PINNED count — an AQE-coalesced fill
      // would freeze every fixpoint round at advisory-size parallelism
      assert(e.rdd.getNumPartitions ===
        spark.sessionState.conf.numShufflePartitions,
        s"cache coalesced to ${e.rdd.getNumPartitions} partitions")
      val labels = spark.range(5)
        .select(col("id").as("node"), col("id").as("lbl"))
      val plan = labels.join(e, col("node") === col("src"))
        .queryExecution.executedPlan.toString
      val nExchanges = "ENSURE_REQUIREMENTS".r.findAllIn(plan).size
      assert(nExchanges === 1,
        s"expected only the state-table exchange, got $nExchanges:\n$plan")
      e.unpersist()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      graft.StageDirs.deleteRecursively(dir)
    }
  }

  test("queueAdmissionStream: zero shuffle (model + cut as literals)") {
    val docs = Seq((1L, "good text here"), (2L, "bad"))
      .toDF("doc_id", "text")
    val model = graft.operators.TextQueries.LogitModel(
      Seq(1L, 1L, 1L, 1L), Seq(1L, 1L, 1L, 1L),
      Seq(0L, 1L, 1L, 1L, 1L))
    val plan = planOf(graft.streaming.StreamingQuality
      .queueAdmissionStream(docs, model, 100L, 5L))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"the cut must ride as literals, not a join:\n$plan")
  }

  test("registry-served novelty scorer: zero shuffle (seeds as literals)") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val rows: Array[org.apache.spark.sql.Row] =
      graft.operators.VectorQueries.noveltyModelRows(emb, k = 2).collect()
    graft.CacheRegistry.releaseAll()
    val plan = planOf(graft.operators.VectorQueries
      .noveltyScoreFromRows(emb, rows))
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("contaminationStream: bloom probe map-side, held side broadcast " +
    "— no shuffle of the arrival scan") {
    val held = Seq((90L, "x y z q r s t")).toDF("doc_id", "text")
    val idx = graft.streaming.StreamingDecontam.heldIndex(
      held, graft.operators.Curation.DECON_K)
    val arrivals = Seq((1L, "x y z q r s t u v")).toDF("doc_id", "text")
    val plan = planOf(graft.streaming.StreamingDecontam
      .contaminationStream(arrivals, idx))
    assert(plan.contains("BroadcastHashJoin"),
      s"held side must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"arrival side must not shuffle:\n$plan")
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from the plan:\n$plan")
  }
}
