package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * - [[queries q_ann_cosine_topk]]: brute-force cosine top-k — the
  *   correctness baseline. Queries are broadcast; candidates stream, so
  *   the plan is a BroadcastNestedLoopJoin scan with no shuffle of the
  *   big side.
  * - [[queries q_ann_ivf_topk]]: IVF scale path — centroids are
  *   collapsed into ONE broadcast row and each vector's cell is an
  *   IN-ROW argmin over that array (a pure projection: no crossJoin
  *   fan-out, no argmin shuffle, no join-back — the corpus is scanned
  *   exactly once). Each query probes its nprobe nearest cells only, so
  *   the scored candidate set shrinks by ~nprobe/C. Same final top-k.
  * - [[queries q_ann_recall]]: IVF quality gate — recall@k of the IVF
  *   result against the brute-force truth, integer arithmetic.
  *
  * Top-k runs through the native `bounded_topk` aggregate
  * ([[graft.plans.BoundedTopK]]): k-capped partial buffers combine
  * map-side, so the shuffle carries ≤ k pairs per (task, query) — a
  * window keyed by the handful of query ids would instead funnel the
  * whole N×Q scored set into Q tasks.
  *
  * Outputs are (query_id, neighbor_id, rank) — ranks, not raw floats, so
  * the DuckDB oracle compare is bit-stable (rank flips would need two
  * distinct random vectors with cosine gaps below double noise).
  *
  * NaN contract: a zero-norm embedding has cosine NaN against everything;
  * scored NaNs are filtered before ranking (Spark's TotalOrdering and
  * DuckDB's DESC sort place NaN differently, so letting one through
  * would diverge the engines). The testdata has no zero vectors, so the
  * filter is a no-op there — it exists to pin the library semantics.
  */
object VectorQueries {

  private val N_QUERIES = 10 // query vectors: vec_id < 10
  private val TOP_K = 5
  private val N_CELLS = 16   // IVF centroids for top-k search (fixed:
                             // probe FRACTION nprobe/cells sets recall)
  private val N_PROBE = 4
  private val EIG_ITERS = 3  // q_top_eigvec power iterations
  private val NPROBE_LADDER = Seq(1, 2, 4) // q_ann_nprobe_sweep rungs (≤ N_PROBE)
  private val DIM_LADDER = Seq(8, 16, 32)  // q_ann_dim_ladder prefix widths
  private val RP_DIMS = 16   // random-projection sketch width
  private val MMR_C = 10     // q_mmr_diversify candidate pool per query
  private val MMR_K = 5      // q_mmr_diversify selected slots (λ = 0.7)
  private val MIN_CELLS = 16         // near-dup blocking: floor
  private val DUP_COPIES = 50        // planted duplicates for near-dup
  private val DUP_OFFSET = 1000000L  // planted-copy id offset
  val KCENTER_K = 8          // q_kcenter_seeds: maximin seeds
  private val KC_SAMPLE_SEED = 29    // q_kcenter_sampled trainer slice
  private val KC_SAMPLE_PCT = 25     // ~25 % of the corpus fits seeds
  private val NEARDUP_THRESHOLD = 0.99
  private val DBSCAN_EPS = 0.35     // q_dbscan ε: cosine-similarity floor
                                    // (0.35 keeps all three roles at every
                                    // SF while holding component diameters
                                    // ~6 — CC rounds, the fixpoint cost)
  private val DBSCAN_MIN_PTS = 3    // q_dbscan minPts (counts the point
                                    // itself ⇒ core ⟺ degree ≥ 2)

  /** Flat-vs-two-level crossover (PERF.md §Scale rehearsal, dim 64,
    * 40k rows): the fused flat argmin WINS at every directly measurable
    * C — 2.5 s vs 6.1 s even at C = 40 000 — because a native l2_sq
    * eval costs ~100× less than the descent's per-row HOF machinery.
    * Fitting the measured marginals (flat linear in C at ~35 ms/1000
    * cells; descent ~√C at ~11 ms/√cell) crosses near C ≈ 3·10⁵ — with
    * C = ⌊√n⌋ that is a ~10¹¹-vector corpus, exactly the 100 TB regime
    * this selector exists for. Production dims (512–4096) cross far
    * earlier: the descent saves distance evals whose cost scales with
    * dim while its dispatch overhead does not.
    */
  /** Flat-argmin → two-level-descent switch point for [[assignCells]].
    * Re-pinned 3·10⁵ → 10⁴ in round 15: the old value came from a
    * ladder whose `count()` let Catalyst prune the cell projection, so
    * it timed only the broadcast build. The corrected record
    * (PERF.md round 15, forced evaluation, dim 64, per-batch build
    * included) has the two-level TOTAL winning from C ≈ 10⁴, the flat
    * form OOMing at C = 10⁶ (per-row C-struct temp array × concurrent
    * tasks), and both in-row broadcast forms topping out between
    * 3·10⁵ (two-level measured working) and 10⁶ — past that regime
    * assignment takes a join, not a broadcast (PERF.md round 15).
    */
  private[graft] val TWO_LEVEL_MIN_CELLS = 10000

  private def loadEmb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Distributed top-k per query via the native `bounded_topk` aggregate
    * ([[graft.plans.BoundedTopK]]): the PARTIAL aggregation buffer is
    * capped at k pairs, so the map-side combine emits ≤ k rows per
    * (task, query) into the shuffle — no full-scored-set window, no
    * low-cardinality funnel, no unbounded collect_list buffers. The
    * result array is sorted by (-sim, neighbor_id), so the posexplode
    * position IS rank−1 — deterministic under ties, zero windows.
    */
  private def topkByQuery(scored: DataFrame): DataFrame =
    scored
      .filter(!isnan(col("sim"))) // zero-norm guard, see NaN contract
      .groupBy(col("query_id"))
      .agg(expr(s"bounded_topk(-sim, neighbor_id, $TOP_K)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .toDF("query_id", "pos", "t")
      .select(col("query_id"), col("t.n").as("neighbor_id"),
        (col("pos") + 1).as("rank"))

  /** The centroid set collapsed into ONE row holding the (cell, centroid)
    * structs sorted by cell — the broadcastable side of every IVF step.
    * Centroid counts are bounded (≤ thousands even at 100 TB), so a
    * single in-row array is the right shape: assignment becomes a
    * projection instead of a crossJoin + argmin-aggregate + join-back.
    */
  private[graft] def centroidArray(centroids: DataFrame): DataFrame =
    centroids.agg(sort_array(collect_list(
      struct(col("cell"), col("centroid")))).as("cents"))

  /** Nearest-centroid cell id as an IN-ROW argmin: `array_min` over
    * (d2, cell) structs IS the argmin with cell-asc tie-break (struct
    * ordering is lexicographic). One native l2_sq loop per centroid per
    * row, zero shuffle, corpus scanned once.
    *
    * The coalesce(-1) makes `cell` non-nullable so downstream equi-joins
    * don't infer an IsNotNull filter that would re-evaluate the whole
    * argmin expression a second time per row (PushPredicateThroughNonJoin
    * substitutes project-level expressions into inferred filters).
    */
  private[graft] def withCell(df: DataFrame, centArr: DataFrame,
                              vec: Column): DataFrame =
    df.crossJoin(broadcast(centArr))
      .withColumn("cell",
        coalesce(
          array_min(transform(col("cents"), c =>
            struct(l2Sq(vec, c.getField("centroid")).as("d2"),
              c.getField("cell").as("cell")))).getField("cell"),
          lit(-1L)))
      .drop("cents")

  /** Two-level (coarse-then-fine) cell assignment — the scale path for
    * centroid counts where even the flat in-row argmin's n×C distance
    * evaluations dominate (C grows with the corpus under scale-aware
    * blocking). Every `fanout`-th centroid serves as a coarse
    * representative; fine cells hang under their nearest representative;
    * a row then scores the ~C/fanout representatives, descends into the
    * `probeGroups` nearest groups, and runs the exact argmin over only
    * those children — ~C/fanout + probeGroups·fanout evaluations instead
    * of C (8× fewer at C=625, fanout=25, probeGroups=2).
    *
    * The result is APPROXIMATE: the true nearest fine cell can hang
    * under a coarse group the descent did not probe. For blocking-style
    * consumers (near-dup candidate generation) that is the same class of
    * approximation LSH banding makes — recall is tuned via probeGroups —
    * and TwoLevelIvfSpec measures the agreement rate against the flat
    * assignment rather than assuming it. Still a pure projection: one
    * nested broadcast array, zero shuffle, corpus scanned once.
    *
    * Measured honestly (PERF.md round 15 — forced
    * evaluation; an earlier ladder's `count()` pruned the argmin and
    * timed only broadcast builds): per-ROW assignment the descent wins
    * from C ≈ 2.5·10³, on totals including its per-batch index build
    * from C ≈ 10⁴ ([[TWO_LEVEL_MIN_CELLS]]); both in-row broadcast
    * forms top out between 3·10⁵ (descent measured working) and 10⁶
    * (both OOM — join-based assignment territory). Use the flat
    * [[withCell]] below the pin; it stays the exact path for the
    * hash-gated queries.
    */
  private[graft] def withCellTwoLevel(df: DataFrame, centroids: DataFrame,
                                      vec: Column, fanout: Int = 16,
                                      probeGroups: Int = 2): DataFrame = {
    // coarse representatives: a deterministic 1/fanout subset of the
    // fine cells themselves (their ids are the group ids)
    val reps = centroids.filter(col("cell") % fanout === 0)
      .select(col("cell").as("gid"), col("centroid").as("crep"))
    // fine cell → group: flat argmin over the (tiny) rep set
    val fineWithGroup = withCell(
      centroids.select(col("cell").as("fine_cell"), col("centroid")),
      centroidArray(reps.select(col("gid").as("cell"),
        col("crep").as("centroid"))),
      col("centroid"))
      .select(col("fine_cell"), col("centroid"), col("cell").as("gid"))
    // ONE nested broadcast row: groups = [(gid, crep, children=[(cell, centroid)])]
    val nested = fineWithGroup
      .groupBy(col("gid"))
      .agg(sort_array(collect_list(struct(
        col("fine_cell").as("cell"), col("centroid")))).as("children"))
      .join(reps, "gid")
      .agg(sort_array(collect_list(struct(
        col("gid"), col("crep"), col("children")))).as("groups"))
    // sort ONLY (d2, gid) pairs — carrying the children arrays through
    // the sort copies every nested centroid per comparison and costs
    // more than the saved distance evals; the 2 winners' children are
    // looked up afterwards by gid
    df.crossJoin(broadcast(nested))
      .withColumn("gsel",
        slice(array_sort(transform(col("groups"), g =>
          struct(l2Sq(vec, g.getField("crep")).as("d2"),
            g.getField("gid").as("gid")))), 1, probeGroups))
      .withColumn("cands",
        flatten(transform(col("gsel"), s =>
          element_at(filter(col("groups"), g =>
            g.getField("gid") === s.getField("gid")), 1)
            .getField("children"))))
      .withColumn("cell",
        coalesce(
          array_min(transform(col("cands"), c =>
            struct(l2Sq(vec, c.getField("centroid")).as("d2"),
              c.getField("cell").as("cell")))).getField("cell"),
          lit(-1L)))
      .drop("groups", "gsel", "cands")
  }

  /** JOIN-based coarse-then-fine cell assignment — the scale path PAST
    * the in-row broadcast ceiling. The round-15 crossover ladder
    * (PERF.md) measured both broadcast forms topping out between
    * C = 3·10⁵ and 10⁶ in a 24 GB JVM: the flat argmin allocates a
    * C-struct temp array per row and the two-level descent carries one
    * ~C-sized nested broadcast row into every task. This form never
    * materializes C anywhere: only the ~C/fanout coarse REPS are
    * broadcast (in-row, √C-sized at fanout = √C); each row explodes to
    * its `probeGroups` nearest group ids; the fine centroid table —
    * bucketed by gid, C rows but DISTRIBUTED — equi-joins those probes
    * (per-row candidates ≈ probeGroups·fanout, group skew bounded by
    * fanout); and the final argmin is a keyed min(struct(d2, cell))
    * aggregate. Same shuffles at 100 TB: one explode-side shuffle of
    * probeGroups·|rows| keys + one bounded aggregate; the centroid
    * side is pre-bucketable.
    *
    * SEMANTICS ARE IDENTICAL to [[withCellTwoLevel]] by construction —
    * same reps rule (cell % fanout == 0), same (d2, gid) group
    * selection with struct-lexicographic tie-break, same (d2, cell)
    * final argmin — so the result is deterministic and
    * AnnSpec-pinnable against the broadcast form wherever both fit.
    *
    * @param keyCols the row-identity columns carried through the
    *        explode/join/aggregate (everything else is dropped — the
    *        output is keyCols :+ cell, join it back if more is needed).
    */
  private[graft] def withCellJoined(df: DataFrame, centroids: DataFrame,
                                    vec: Column, keyCols: Seq[String],
                                    fanout: Int = 16,
                                    probeGroups: Int = 2): DataFrame = {
    val reps = centroids.filter(col("cell") % fanout === 0)
      .select(col("cell").as("gid"), col("centroid").as("crep"))
    // fine cell → group (distributed: in-row argmin over the ~C/fanout
    // reps only), the join's right side — bucket/persist by gid at scale
    val fineWithGroup = withCell(
      centroids.select(col("cell").as("fine_cell"),
        col("centroid").as("fine_centroid")),
      centroidArray(reps.select(col("gid").as("cell"),
        col("crep").as("centroid"))),
      col("fine_centroid"))
      .select(col("fine_cell"), col("fine_centroid"), col("cell").as("gid"))
    // per row: the probeGroups nearest group ids, exploded to join keys
    val repArr = reps.agg(sort_array(collect_list(
      struct(col("gid").as("cell"), col("crep").as("centroid"))))
      .as("cents"))
    val probed = df
      .select(keyCols.map(col) :+ vec.as("__vec"): _*)
      .crossJoin(broadcast(repArr))
      .select(keyCols.map(col) ++ Seq(col("__vec"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct(l2Sq(col("__vec"), c.getField("centroid")).as("d2"),
            c.getField("cell").as("gid")))), 1, probeGroups)
          .getField("gid")).as("gid")): _*)
    probed.join(fineWithGroup, "gid")
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct(l2Sq(col("__vec"), col("fine_centroid")).as("d2"),
        col("fine_cell").as("cell"))).as("m"))
      .select(keyCols.map(col) :+
        coalesce(col("m").getField("cell"), lit(-1L)).as("cell"): _*)
  }

  /** Strategy-selecting cell assignment: flat in-row argmin below the
    * measured crossover, JOIN-based coarse-then-fine assignment
    * ([[withCellJoined]]) above it — the round-15 ladder has the
    * joined form beating BOTH broadcast forms from C ≈ 10⁴ on and
    * still running at C = 10⁶ where both of them OOM, so it is the
    * scale path as well as the faster one. The driver-side `count()`
    * that picks the strategy is a cheap bounded job. NOTE the
    * coarse-then-fine forms are APPROXIMATE (the true nearest cell can
    * hang under an unprobed coarse group) — the same recall trade LSH
    * banding makes, acceptable for BLOCKING consumers (near-dup
    * candidate generation), not for the oracle-exact IVF top-k
    * queries, which keep [[withCell]] directly. Above the crossover
    * the row set must be DISTINCT (the joined form re-keys rows by
    * their full column tuple).
    */
  def assignCells(df: DataFrame, centroids: DataFrame,
                  vec: Column): DataFrame = {
    val c = centroids.count()
    if (c >= TWO_LEVEL_MIN_CELLS)
      withCellJoined(df, centroids, vec, df.columns.toSeq,
        fanout = math.max(2, math.sqrt(c.toDouble).toInt), probeGroups = 2)
    else withCell(df, centroidArray(centroids), vec)
  }

  /** Each query's nprobe nearest cells, again in-row: sort the per-cell
    * (d2, cell) structs and keep the first nprobe. Output is one row per
    * (query, probed cell) — Q·nprobe rows, always broadcastable.
    */
  private def probeCells(qs: DataFrame, centArr: DataFrame,
                         nprobe: Int): DataFrame =
    qs.crossJoin(broadcast(centArr))
      .select(col("query_id"), col("qvec"),
        explode(slice(array_sort(transform(col("cents"), c =>
          struct(l2Sq(col("qvec"), c.getField("centroid")).as("d2"),
            c.getField("cell").as("cell")))), 1, nprobe)).as("pc"))
      .select(col("query_id"), col("qvec"),
        col("pc.cell").as("cell"))

  private def queryVectors(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Brute-force cosine top-k (correctness baseline). */
  private[graft] def bruteTopkFrom(emb: DataFrame): DataFrame = {
    val cands = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cvec"))
    val scored = cands.join(broadcast(queryVectors(emb)),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    topkByQuery(scored)
  }

  private[graft] def bruteTopk(s: SparkSession, dir: String): DataFrame =
    bruteTopkFrom(loadEmb(s, dir))

  /** First-N seed centroids — deterministic, zero-cost, and what the
    * fitted index starts from.
    */
  private[graft] def seedCentroids(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < N_CELLS)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** IVF top-k over an arbitrary centroid set: in-row cell assignment +
    * broadcast probe join — the index structure is the same whether the
    * centroids are seeds or KMeans-fitted.
    */
  private[graft] def ivfTopkFrom(emb: DataFrame,
                                 centroids: DataFrame): DataFrame = {
    val centArr = centroidArray(centroids)
    val assigned = withCell(
      emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec")),
      centArr, col("cvec"))
    val probes = probeCells(queryVectors(emb), centArr, N_PROBE)
    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    topkByQuery(scored)
  }

  /** IVF top-k from the first-N seed centroids. */
  private[graft] def ivfTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    ivfTopkFrom(emb, seedCentroids(emb))
  }

  /** Lloyd iterations for the fitted index. PERF.md §Fitted IVF: recall
    * vs work shows recall on the uniform-random testdata is
    * iteration-count NOISE at the 50-slot granularity (seeds 92, fit1
    * 92, fit2 90, fit4 92 at sf0.01; scanned volume equal within 7 %) —
    * there is no cluster
    * structure to exploit, so one exact update step is the whole
    * benefit (WCSS does drop, AnnSpec pins it) at the lowest cost.
    */
  private[graft] val KM_ITERS = 1

  /** IVF top-k from KMeans-FITTED centroids: [[KMeans.refineQuantized]]
    * runs `KM_ITERS` exactly-reproducible Lloyd iterations from the
    * seeds, then the index is built and probed identically. AnnSpec
    * pins fitted recall ≥ seed recall at equal nprobe and fitted
    * WCSS < seed WCSS (the quantity Lloyd provably improves).
    */
  private[graft] def ivfTopkFitted(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    ivfTopkFrom(emb, KMeans.refineQuantized(emb, seedCentroids(emb), KM_ITERS))
  }

  private[graft] val FIT_SAMPLE_SEED = 53 // q_ann_ivf_sampled trainer slice
  private[graft] val FIT_SAMPLE_PCT = 25  // ~25 % of the corpus trains

  /** The hash-sampled TRAINING slice for [[ivfTopkSampled]]: the same
    * md5-bucket arithmetic as every Curation sampler (engine- and
    * partitioning-independent), so the slice — and therefore the fitted
    * centroids — is a pure function of the ids and the DuckDB twin
    * replays it exactly.
    */
  private[graft] def fitSample(emb: DataFrame): DataFrame =
    emb.filter(
      Curation.hashBucket(col("vec_id"), FIT_SAMPLE_SEED) < FIT_SAMPLE_PCT)

  /** IVF top-k whose Lloyd fit runs on a hash-sampled slice of the
    * corpus — the PRODUCTION trainer shape (FAISS trains IVF/PQ
    * codebooks on 10⁵–10⁶ sampled vectors regardless of corpus size):
    * [[ivfTopkFitted]]'s update pass re-scans the FULL corpus per Lloyd
    * round, a term that grows with the data and is pure training
    * machinery; sampling caps it at slice size while assignment,
    * probing, and scoring still run over everything. At 100 TB the
    * sample percentage becomes an absolute row cap chosen by codebook
    * size; the gate pins the mechanism (sampled fit ⊂ corpus, index
    * over corpus, engine-exact), not the knob. Recall parity with the
    * full fit needs slice ≫ C·dim (the regime a production sample is
    * sized into — FAISS wants ≥39 training vectors per centroid); at
    * sf0.01 the slice is ~50 vectors for 16 cells and recall reads
    * 70 vs the full fit's 92 — AnnSpec pins "working index", and
    * q_ann_sampled_recall keeps the number honest per run.
    */
  private[graft] def ivfTopkSampled(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    ivfTopkFrom(emb,
      KMeans.refineQuantized(fitSample(emb), seedCentroids(emb), KM_ITERS))
  }

  private[graft] val PQ_M = 32 // product-quantization subspaces
  private[graft] val PQ_K = 16 // codewords per subspace
  private[graft] val RERANK_C = 4 * TOP_K // coarse candidates per query (re-rank)
  private[graft] val ELBOW_KS = Seq(2, 4, 8, 16) // q_kmeans_elbow k ladder
  private[graft] val OUT_K = 10 // q_label_outliers: suspects per label

  /** Product-quantization ANN top-k via asymmetric-distance computation
    * (ADC) — the memory-bound scale path beside IVF and SRP-LSH: each
    * corpus vector is compressed to PQ_M small codes (one
    * nearest-codeword argmin per subspace — 32 nibble codes standing in
    * for a 256-byte float vector, 8× compression), and a query scans
    * CODES, not vectors: its per-subspace distance TABLE to all PQ_K
    * codewords is computed once (M·K tiny integer L2s), after which
    * each candidate costs M array lookups instead of a dim-length
    * float loop. At 100 TB the coded table is the index you persist —
    * it fits in a fraction of the vector table's footprint and the ADC
    * scan is bandwidth-bound on ~12 % of the bytes. M is the
    * compression↔recall dial (PERF.md §Fitted IVF: recall@5 =
    * 16/38/48 % at M = 8/16/32 on these iid-random embeddings — PQ's worst case, no
    * inter-dim correlation to exploit; production codebooks are
    * KMeans-fitted with K = 256, the refineQuantized upgrade path).
    *
    * Everything runs on the 2⁻²⁰ integer grid shared with srp_sig /
    * KMeans.refineQuantized, so codes, tables, and the final
    * (adist, neighbor) ranking are bit-identical in any engine — the
    * DuckDB oracle replays codebook, encode, and ADC in SQL and the
    * result sits behind the hash gate. Codewords are the first PQ_K
    * vectors' sub-slices (the same first-N convention as the IVF seed
    * index; KMeans.refineQuantized upgrades them the same way when
    * recall matters).
    *
    * Plan shape: codebook is ONE broadcast row; encode is an in-row
    * double argmin projection (zero shuffle); the ADC scan is a
    * BroadcastNestedLoopJoin of the 10 query tables against the coded
    * corpus; the only Exchange is bounded_topk's k-capped aggregate.
    */
  /** Quantize a float-array column to the shared 2⁻²⁰ integer grid. */
  private def pqQuant(vecCol: String): String =
    s"transform($vecCol, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))"

  /** Scalar quantization (int8): per-DIMENSION min/max over the shared
    * 2⁻²⁰ integer grid, each coordinate stored as an 8-bit code
    * (q − minq)·255 div span — the classic 4×-compression SQ index
    * (FAISS ScalarQuantizer shape) sitting between raw floats and PQ's
    * 32×. Scoring reconstructs each coordinate back onto the grid
    * (minq + code·span div 255, ALL integer, engine-exact) and ranks by
    * the exact 64-bit reconstruction dot via the native codegen'd
    * `long_dot` kernel; grid bounds keep the dot ≪ 2⁵³ so the
    * bounded_topk double score is exact and ties break identically to
    * the DuckDB twin's HUGEINT sum.
    *
    * Plan shape: dim-stats is ONE aggregate collapsed to ONE broadcast
    * row (same shape as centroidArray); encode+reconstruct is an in-row
    * projection (zero shuffle); the scan is the same broadcast
    * query-panel join as brute force; the only Exchange is
    * bounded_topk's k-capped aggregate. At 100 TB the win is the 4×
    * smaller resident index and a dot kernel on longs — the scan
    * economics are brute-force's; compose with IVF cells (as
    * q_ann_ivfpq_topk does for PQ) when the corpus outgrows full scans.
    */
  private val SQ_LEVELS = 255

  /** One broadcast row: per-dim (d, minq, span) structs sorted by d. */
  private def sqStatsRow(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding"))).toDF("d", "v")
      .select(col("d"),
        floor(col("v").cast("double") * 1048576d).cast("long").as("q"))
      .groupBy(col("d"))
      .agg(min(col("q")).as("minq"),
        (max(col("q")) - min(col("q"))).as("span"))
      .agg(sort_array(collect_list(
        struct(col("d"), col("minq"), col("span")))).as("st"))

  /** Append `r`: the SQ-reconstructed integer coordinate array of
    * `vecCol` (encode to 0..SQ_LEVELS then decode, both floor division
    * on non-negatives — engine-exact).
    */
  private def sqRecon(df: DataFrame, statsRow: DataFrame,
                      vecCol: String): DataFrame =
    df.crossJoin(broadcast(statsRow))
      .withColumn("r", expr(
        s"""transform(sequence(0, size($vecCol) - 1), i ->
           |  CASE WHEN st[i].span = 0 THEN st[i].minq
           |  ELSE st[i].minq +
           |    (((CAST(floor(CAST($vecCol[i] AS DOUBLE) * 1048576.0)
           |        AS BIGINT) - st[i].minq) * $SQ_LEVELS div st[i].span)
           |      * st[i].span) div $SQ_LEVELS END)""".stripMargin))
      .drop("st")

  private def sqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    val st = sqStatsRow(emb)
    val cands = sqRecon(
      emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec")), st, "cvec")
      .select(col("neighbor_id"), col("r").as("cr"))
    val qs = sqRecon(
      emb.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qvec")), st, "qvec")
      .select(col("query_id"), col("r").as("qr"))
    val scored = cands.join(broadcast(qs),
        col("query_id") =!= col("neighbor_id"))
      // exact: |r| ≤ ~2²¹ ⇒ dot ≤ dim·2⁴² ≪ 2⁵³, cast loses nothing
      .withColumn("sim", expr("CAST(long_dot(qr, cr) AS DOUBLE)"))
    topkByQuery(scored)
  }

  /** Codebook: sub-codewords from the first PQ_K vectors, ONE broadcast
    * row of (k, quantized coords) structs sorted by k — cb[k].cq is
    * codeword k, same broadcast-row shape as centroidArray.
    */
  private def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < PQ_K)
      .select(col("vec_id").cast("int").as("k"),
        expr(pqQuant("embedding")).as("cq"))
      .agg(sort_array(collect_list(struct(col("k"), col("cq")))).as("cb"))

  /** Integer L2² between subspace m of `vq` and codeword k (SQL text;
    * sub-dim = size(vq) div PQ_M so the expression is dim-generic).
    * Expects `vq`, `cb`, and `m` in scope.
    */
  private def pqSubDist(k: String) =
    s"""aggregate(sequence(0, size(vq) div $PQ_M - 1),
       | CAST(0 AS BIGINT), (acc, d) -> acc +
       |  (vq[m * (size(vq) div $PQ_M) + d] -
       |    cb[$k].cq[m * (size(vq) div $PQ_M) + d]) *
       |  (vq[m * (size(vq) div $PQ_M) + d] -
       |    cb[$k].cq[m * (size(vq) div $PQ_M) + d]))""".stripMargin

  /** Encode: per subspace, struct-min argmin over the PQ_K codewords —
    * appends `codes` (array<int> of length PQ_M) to rows carrying `vq`
    * and the broadcast `cb`.
    */
  private def withPqCodes(rowsWithVq: DataFrame,
                          cbRow: DataFrame): DataFrame =
    rowsWithVq.crossJoin(broadcast(cbRow))
      .withColumn("codes", expr(
        s"""transform(sequence(0, $PQ_M - 1), m ->
           |  array_min(transform(sequence(0, ${PQ_K - 1}), k ->
           |    struct(${pqSubDist("k")} AS dist, k AS k))).k)"""
          .stripMargin))
      .drop("cb", "vq")

  /** Per-query ADC tables: dtab[m][k] = distance(query sub m, codeword
    * k) — M·K tiny integer L2s per query, computed once.
    */
  private def pqDtabs(emb: DataFrame, cbRow: DataFrame): DataFrame =
    emb.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id"), expr(pqQuant("embedding")).as("vq"))
      .crossJoin(broadcast(cbRow))
      .withColumn("dtab", expr(
        s"""transform(sequence(0, $PQ_M - 1), m ->
           |  transform(sequence(0, ${PQ_K - 1}), k -> ${pqSubDist("k")}))"""
          .stripMargin))
      .select(col("vec_id").as("query_id"), col("dtab"))

  /** ADC score + k-capped top-k over rows carrying (query_id,
    * neighbor_id, codes, dtab). The double cast is exact
    * (adist < 2⁴⁸ ≪ 2⁵³); bounded_topk orders (score asc, id asc) —
    * adist is already "smaller is closer", no negation.
    */
  private def adcTopk(cands: DataFrame, k: Int = TOP_K): DataFrame =
    cands
      .withColumn("adist", expr(
        s"aggregate(sequence(0, $PQ_M - 1), CAST(0 AS BIGINT), " +
          "(acc, m) -> acc + dtab[m][codes[m]])"))
      .groupBy(col("query_id"))
      .agg(expr(
        s"bounded_topk(CAST(adist AS DOUBLE), neighbor_id, $k)")
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .toDF("query_id", "pos", "t")
      .select(col("query_id"), col("t.n").as("neighbor_id"),
        (col("pos") + 1).as("rank"))

  private[graft] def pqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    val cbRow = pqCodebook(emb)
    val coded = withPqCodes(
      emb.select(col("vec_id").as("neighbor_id"),
        expr(pqQuant("embedding")).as("vq")), cbRow)
      .select(col("neighbor_id"), col("codes"))
    adcTopk(coded.join(broadcast(pqDtabs(emb, cbRow)),
      col("query_id") =!= col("neighbor_id")))
  }

  /** Two-stage PQ retrieval: ADC scores the CODED corpus down to
    * RERANK_C coarse candidates per query (the cheap, compressed-domain
    * pass), then ONLY those Q·C rows are re-scored with exact cosine
    * over the raw vectors and cut to TOP_K. This is the standard
    * refine-after-ADC architecture (FAISS `IndexRefineFlat`): PQ's
    * quantization error costs recall exactly at the ranking margin, and
    * re-ranking 4k candidates with the true metric buys most of that
    * loss back while touching 4k/N of the raw vectors
    * (q_ann_rerank_recall vs q_ann_pq_recall measures the gain).
    *
    * 100 TB posture: the coarse pass is the PQ scan (bandwidth-bound on
    * ~12 % of the bytes, k-capped partials); the refine pass joins the
    * BROADCAST Q·C candidate set against the vector table — one
    * hash-keyed semi-join-shaped probe, never a second full scan's
    * worth of compute — and the final top-k shuffles ≤ k rows per task.
    */
  private[graft] def pqRerankTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    val cbRow = pqCodebook(emb)
    val coded = withPqCodes(
      emb.select(col("vec_id").as("neighbor_id"),
        expr(pqQuant("embedding")).as("vq")), cbRow)
      .select(col("neighbor_id"), col("codes"))
    val coarse = adcTopk(coded.join(broadcast(pqDtabs(emb, cbRow)),
        col("query_id") =!= col("neighbor_id")), RERANK_C)
      .select(col("query_id"), col("neighbor_id"))
    val scored = emb
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec"))
      .join(broadcast(coarse), Seq("neighbor_id"))
      .join(broadcast(queryVectors(emb)), Seq("query_id"))
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    topkByQuery(scored)
  }

  /** One quantized-Lloyd iteration per SUBSPACE: the PQ codebook fit.
    * Each of the PQ_M subspaces independently refines its PQ_K seed
    * codewords (the first PQ_K vectors' slices) exactly as
    * [[KMeans.refineQuantized]] refines full-dim centroids — same
    * float-l2 argmin assignment (struct-min, cell-asc tie-break), same
    * integer-quantized coordinate mean, so the fit is bit-reproducible
    * and the FITTED codebook stays behind the DuckDB hash gate. One
    * iteration (the q_ann_ivf_kmeans convention): recall ≥ seeds at
    * equal work, lowest fit cost. Returns (m, cell, centroid[sub]).
    */
  private[graft] def pqFitSubspaces(emb: DataFrame): DataFrame =
    pqFitSubspaces(emb, emb)

  /** [[pqFitSubspaces]] with the Lloyd update computed over `train`
    * (a subset of `emb` — the sampled-trainer path, q_ann_pq_sampled):
    * seed codewords still come from the FULL corpus's first PQ_K
    * vectors (deterministic regardless of which ids the sample kept),
    * only the assignment + quantized mean see the slice.
    */
  private[graft] def pqFitSubspaces(emb: DataFrame,
                                    train: DataFrame): DataFrame = {
    def slices(df: DataFrame): DataFrame =
      df.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, $PQ_M - 1), m -> struct(m AS m,
           | slice(embedding, m * (size(embedding) div $PQ_M) + 1,
           |   size(embedding) div $PQ_M) AS svec))""".stripMargin)).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.svec").as("svec"))
    val sv = slices(train)
    val seedsArr = slices(emb).filter(col("vec_id") < PQ_K)
      .select(col("m"), struct(col("vec_id").cast("int").as("cell"),
        col("svec").as("centroid")).as("cc"))
      .groupBy(col("m")).agg(sort_array(collect_list(col("cc"))).as("cents"))
    sv.join(broadcast(seedsArr), "m")
      .withColumn("cell",
        array_min(transform(col("cents"), c =>
          struct(l2Sq(col("svec"), c.getField("centroid")).as("d2"),
            c.getField("cell").as("cell")))).getField("cell"))
      .select(col("m"), col("cell"), posexplode(col("svec")))
      .toDF("m", "cell", "pos", "v")
      .groupBy(col("m"), col("cell"), col("pos"))
      .agg(sum(floor(col("v").cast("double") * KMeans.QUANT)).as("s"),
        count(lit(1)).as("n"))
      .groupBy(col("m"), col("cell"))
      .agg(sort_array(collect_list(struct(col("pos"),
        ((col("s").cast("double") / col("n")) / KMeans.QUANT)
          .cast("float").as("mm")))).as("pm"))
      .select(col("m"), col("cell"),
        transform(col("pm"), x => x.getField("mm")).as("centroid"))
  }

  /** The fitted codebook as ONE broadcast row: `cbm[m]` = subspace m's
    * codewords sorted by cell id, each with integer-quantized coords.
    * Codes are POSITIONAL into cbm[m] (Lloyd can drop empty cells, so
    * cell ids may be sparse; position order ≡ cell-id order keeps the
    * argmin tie-break aligned with the oracle's ORDER BY dist, k).
    */
  private def pqFittedCbRow(fitted: DataFrame): DataFrame =
    fitted.select(col("m"), struct(col("cell").cast("int").as("k"),
        expr("transform(centroid, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
          .as("cq")).as("e"))
      .groupBy(col("m")).agg(sort_array(collect_list(col("e"))).as("cw"))
      .agg(sort_array(collect_list(struct(col("m"), col("cw"))))
        .as("mw"))
      .select(expr("transform(mw, x -> x.cw)").as("cbm"))

  /** Integer L2² between subspace m of `vq` and fitted codeword
    * cbm[m][i] (sub-length coords, indexed from 0). Expects `vq`,
    * `cbm`, `m`, `i` in scope.
    */
  private def pqSubDistFitted: String =
    s"""aggregate(sequence(0, size(vq) div $PQ_M - 1),
       | CAST(0 AS BIGINT), (acc, d) -> acc +
       |  (vq[m * (size(vq) div $PQ_M) + d] - cbm[m][i].cq[d]) *
       |  (vq[m * (size(vq) div $PQ_M) + d] - cbm[m][i].cq[d]))"""
      .stripMargin

  /** PQ-ADC top-k over a KMEANS-FITTED codebook — the production PQ
    * configuration (q_ann_pq_topk's documented upgrade path), behind
    * the same hash gate because the fit is engine-exact. Same plan
    * shape as pqTopk: one broadcast codebook row, in-row positional
    * argmin encode, broadcast query tables, BNLJ ADC scan,
    * bounded_topk.
    */
  private[graft] def pqKmeansTopk(s: SparkSession, dir: String): DataFrame =
    pqKmeansTopkFrom(loadEmb(s, dir), sampledFit = false)

  /** [[pqKmeansTopk]] with the codebook fitted on the hash-sampled
    * training slice — the PQ half of the sampled-trainer story
    * (q_ann_ivf_sampled's rationale applies verbatim: the codebook fit
    * is the corpus-linear training pass a production index replaces
    * with a bounded sample; encode + ADC still cover everything).
    */
  private[graft] def pqKmeansTopkSampled(s: SparkSession,
                                         dir: String): DataFrame =
    pqKmeansTopkFrom(loadEmb(s, dir), sampledFit = true)

  private def pqKmeansTopkFrom(emb: DataFrame,
                               sampledFit: Boolean): DataFrame = {
    val cbm = pqFittedCbRow(pqFitSubspaces(emb,
      if (sampledFit) fitSample(emb) else emb))
    val q = emb.select(col("vec_id"), expr(pqQuant("embedding")).as("vq"))
    val coded = q.crossJoin(broadcast(cbm))
      .withColumn("codes", expr(
        s"""transform(sequence(0, $PQ_M - 1), m ->
           |  array_min(transform(sequence(0, size(cbm[m]) - 1), i ->
           |    struct($pqSubDistFitted AS dist, i AS i))).i)"""
          .stripMargin))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val dtabs = q.filter(col("vec_id") < N_QUERIES)
      .crossJoin(broadcast(cbm))
      .withColumn("dtab", expr(
        s"""transform(sequence(0, $PQ_M - 1), m ->
           |  transform(sequence(0, size(cbm[m]) - 1), i ->
           |    $pqSubDistFitted))""".stripMargin))
      .select(col("vec_id").as("query_id"), col("dtab"))
    adcTopk(coded.join(broadcast(dtabs),
      col("query_id") =!= col("neighbor_id")))
  }

  /** IVF-PQ: the classic composition of the two ANN scale axes —
    * IVF cells cut the CANDIDATE COUNT (each query probes nprobe of
    * the C cells, scanning ~nprobe/C of the corpus) and PQ codes cut
    * the BYTES PER CANDIDATE (each scanned row costs M code lookups on
    * an 8×-compressed table, not a dim-float loop). The persisted
    * index at scale is (cell, codes) per vector — this is the FAISS
    * IVFPQ layout, and the shape a 10¹¹-vector corpus actually ships.
    * Assignment and probing reuse the IVF machinery (broadcast
    * centroid row, in-row argmin); scoring reuses the ADC machinery;
    * both stay engine-exact, so the composition sits behind the same
    * DuckDB hash gate. Recall compounds the two approximations
    * (PERF.md §Fitted IVF: recall vs work has all three side by side).
    */
  private[graft] def ivfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir)
    val centArr = centroidArray(seedCentroids(emb))
    val cbRow = pqCodebook(emb)
    val coded = withPqCodes(
      withCell(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cvec"),
          expr(pqQuant("embedding")).as("vq")),
        centArr, col("cvec")),
      cbRow).select(col("neighbor_id"), col("cell"), col("codes"))
    val probes = probeCells(queryVectors(emb), centArr, N_PROBE)
      .select(col("query_id"), col("cell"))
    adcTopk(coded
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .join(broadcast(pqDtabs(emb, cbRow)), Seq("query_id")))
  }

  private[graft] val SRP_BITS = 16
  private[graft] val SRP_BANDS = 4

  /** SRP-LSH bucketed ANN top-k — the "LSH-bucketed variant" scale path
    * beside IVF: the native `srp_sig` expression (one fused codegen'd
    * loop, integer-quantized dots → engine-exact) projects a 16-bit
    * sign signature per vector with ZERO shuffle; signatures band into
    * 4×4-bit keys; a query's candidates are corpus vectors sharing ANY
    * band (expected ~bands/2^width of the corpus — the same probe
    * fraction IVF gets from nprobe/C, but with no centroid training at
    * all); exact cosine + bounded_topk rank the candidates. At 100 TB
    * the knobs scale as log n: more bits → sparser buckets, more bands
    * → recall. The signature table is persisted (registered) — the
    * banded query and corpus sides both read it.
    */
  /** Persisted (registered) (vec_id, embedding, sig) table — the SRP
    * index. Signature is a zero-shuffle native projection.
    */
  private def srpSigs(emb: DataFrame): DataFrame =
    graft.CacheRegistry.persist(
      emb.select(col("vec_id"), col("embedding"),
          expr(s"srp_sig(embedding, $SRP_BITS)").as("sig")))

  /** Distinct (query_id, neighbor_id) band-collision candidates — IDS
    * ONLY: the band fan-out and multi-band dedup shuffle bare id pairs,
    * never embedding payloads (at production dims the arrays are ~100×
    * the ids; the oracle SQL uses the same id-then-join-back shape).
    */
  private[graft] def srpCandidates(sigs: DataFrame): DataFrame = {
    val bandWidth = SRP_BITS / SRP_BANDS
    def banded(df: DataFrame, id: String): DataFrame =
      df.select(col("vec_id").as(id),
          posexplode(array((0 until SRP_BANDS).map(b =>
            shiftright(col("sig"), b * bandWidth)
              .bitwiseAND(lit((1L << bandWidth) - 1))): _*)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bkey")
    banded(sigs, "neighbor_id")
      .join(broadcast(banded(sigs.filter(col("vec_id") < N_QUERIES),
        "query_id")), Seq("band", "bkey"))
      .filter(col("query_id") =!= col("neighbor_id"))
      // a pair colliding in several bands must score ONCE: bounded_topk
      // would otherwise seat the same neighbor in multiple top-k slots
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
  }

  private[graft] def srpTopkFrom(emb: DataFrame): DataFrame = {
    val sigs = srpSigs(emb)
    val scored = srpCandidates(sigs)
      .join(sigs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cvec")), "neighbor_id")
      .join(broadcast(sigs.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qvec"))), "query_id")
      .withColumn("sim", cosine(col("qvec"), col("cvec")))
    topkByQuery(scored)
  }

  private[graft] def srpTopk(s: SparkSession, dir: String): DataFrame =
    srpTopkFrom(loadEmb(s, dir).select(col("vec_id"), col("embedding")))

  /** recall@k of `approx` against the brute-force `truth` — integer
    * arithmetic, left join keeps zero-recall queries.
    */
  private[graft] def recallOf(truth: DataFrame, approx: DataFrame): DataFrame =
    truth.select(col("query_id"), col("neighbor_id"))
      // approx is Q·k rows BY CONSTRUCTION (a top-k table), but it sits
      // above aggregates Spark won't size-estimate — hint the broadcast
      // or the tiny recall join plans as a shuffled SMJ
      .join(broadcast(approx.select(col("query_id"), col("neighbor_id"),
          lit(1).as("hit"))),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("n_match"))
      .withColumn("recall_pct", expr(s"n_match * 100 div $TOP_K"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q_ann_cosine_topk" -> { (s, dir) => bruteTopk(s, dir) },

    // ── filtered vector search (label-constrained top-k) ───────────────
    // The metadata-filtered retrieval every vector store ends up
    // needing ("nearest within MY tenant/category"): candidates are
    // restricted to the query's OWN label BEFORE scoring — pre-filter
    // semantics, so the top-k is exact within the predicate (post-
    // filtering an unfiltered top-k would silently under-fill when the
    // neighborhood is dominated by other labels). The label equality
    // rides the broadcast-join condition, so Catalyst evaluates it at
    // the scan side and non-matching candidates are never scored; the
    // same bounded_topk shape as the brute tier — at 100 TB the same
    // query runs against the IVF/SQ tiers with the filter in the scan.
    "q_ann_filtered" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      val fq = emb.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qvec"), col("label").as("qlabel"))
      val scored = emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cvec"), col("label"))
        .join(broadcast(fq), col("label") === col("qlabel")
          && col("query_id") =!= col("neighbor_id"))
        .withColumn("sim", cosine(col("qvec"), col("cvec")))
      topkByQuery(scored)
    },

    "q_ann_ivf_topk" -> { (s, dir) => ivfTopk(s, dir) },

    // ── IVF top-k over a KMEANS-FITTED index ────────────────────────────
    // Same index structure and probe path as q_ann_ivf_topk, but the
    // centroids are KM_ITERS Lloyd iterations from the seeds — and the
    // fit is EXACTLY engine-reproducible (integer-quantized coordinate
    // sums, see KMeans.refineQuantized), so the fitted index sits behind
    // the same DuckDB hash gate as everything else: the oracle replays
    // the iterations unrolled in SQL.
    "q_ann_ivf_kmeans" -> { (s, dir) => ivfTopkFitted(s, dir) },

    "q_ann_ivf_sampled" -> { (s, dir) => ivfTopkSampled(s, dir) },

    // recall of the SAMPLED-fit index vs brute-force truth — the gate
    // that makes "train on a slice" an accountable claim, not a hope
    "q_ann_sampled_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), ivfTopkSampled(s, dir))
    },

    // ── SRP-LSH bucketed ANN top-k (see srpTopk) ────────────────────────
    "q_ann_srp_topk" -> { (s, dir) => srpTopk(s, dir) },

    // ── reciprocal-rank fusion of two retrievers (IVF ⊕ SRP) ───────────
    // The hybrid-retrieval combinator every production search stack
    // ends up with: fuse the IVF and SRP top-k lists per query by RRF
    // score Σ 10⁶ div (60 + rank) (Cormack et al.'s k=60, scaled
    // integral so both engines agree exactly), re-rank by (score DESC,
    // neighbor ASC), keep TOP_K. The two retrievers fail differently —
    // IVF misses when the true neighbor's cell isn't probed, SRP when
    // a hyperplane splits a close pair — so their fusion recovers
    // results either alone drops, without touching raw similarity
    // scales (RRF only reads RANKS, which is why it composes retrievers
    // with incomparable scores). Inputs are the existing bounded-topk
    // lists (Q·k rows each); fusion itself is a Q·2k-row fold.
    "q_rank_fusion" -> { (s, dir) =>
      val lists = ivfTopk(s, dir).unionByName(srpTopk(s, dir))
      lists
        .select(col("query_id"), col("neighbor_id"),
          expr("1000000 div (60 + rank)").as("c"))
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(sum(col("c")).as("score"))
        .groupBy(col("query_id"))
        .agg(expr(s"bounded_topk(CAST(-score AS DOUBLE)," +
          s" neighbor_id, $TOP_K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .toDF("query_id", "pos", "t")
        .select(col("query_id"), col("t.n").as("neighbor_id"),
          (col("pos") + 1).as("rank"),
          (-col("t.s")).cast("long").as("rrf_score"))
    },

    // ── SRP recall vs brute truth (the honest number for the zero-
    // training retriever, previously only a PERF.md probe; now behind
    // the same hash gate as q_ann_recall) ──────────────────────────────
    "q_ann_srp_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), srpTopk(s, dir))
    },

    // ── scalar-quantization (int8) top-k (see sqTopk) ───────────────────
    "q_ann_sq_topk" -> { (s, dir) => sqTopk(s, dir) },

    // ── SQ recall vs brute truth — prices the 4×-compression memory
    // trade the same way q_ann_recall prices IVF's probe trade ─────────
    "q_ann_sq_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), sqTopk(s, dir))
    },

    // ── product-quantization ADC top-k (see pqTopk) ─────────────────────
    "q_ann_pq_topk" -> { (s, dir) => pqTopk(s, dir) },

    // ── PQ recall vs brute truth — completes the oracle-gated recall
    // matrix (IVF, SRP, SQ, PQ, IVF-PQ each priced the same way); the
    // AnnSpec floor pins regression, this row pins the exact number ──
    "q_ann_pq_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), pqTopk(s, dir))
    },

    // ── IVF-PQ: cells × codes, the FAISS-style composition ──────────────
    "q_ann_ivfpq_topk" -> { (s, dir) => ivfPqTopk(s, dir) },

    // ── IVF-PQ recall — the compounded (probe × code) loss, read
    // against q_ann_recall (probe-only) and q_ann_pq_recall (code-only)
    "q_ann_ivfpq_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), ivfPqTopk(s, dir))
    },

    // ── PQ-ADC over a KMeans-fitted codebook (see pqKmeansTopk) ─────────
    "q_ann_pq_kmeans" -> { (s, dir) => pqKmeansTopk(s, dir) },

    "q_ann_pq_sampled" -> { (s, dir) => pqKmeansTopkSampled(s, dir) },

    // ── kNN label vote: the classify/label-propagation read of ANN ─────
    // Predict each query vector's label by majority vote over its
    // brute-force top-k (the truth set — swap in ivfTopk for the
    // approximate variant at scale; same vote shape). The argmax is a
    // struct-min per query (votes desc, label asc tie-break) — map-side
    // combinable, no window, all integers.
    "q_knn_classify" -> { (s, dir) =>
      val labels = loadEmb(s, dir)
        .select(col("vec_id").as("neighbor_id"), col("label"))
      bruteTopk(s, dir)
        .join(labels, "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("v"))
        .groupBy(col("query_id"))
        .agg(min(struct((lit(TOP_K) - col("v")).as("nv"),
          col("label").as("l"), col("v").as("v"))).as("best"))
        .select(col("query_id"), col("best.l").as("pred_label"),
          col("best.v").as("n_votes"))
    },

    // ── per-label centroids in the MERGEABLE form ───────────────────────
    // (label, dim, n, Σ floor(x·2²⁰)): the partial-aggregate shape a
    // distributed pipeline actually ships between stages — sums and
    // counts merge associatively across any partitioning (a finished
    // mean does not), and the integer quantize makes the sum
    // order-free and engine-exact (same grid as srp_sig/KMeans
    // .refineQuantized). The final mean is one division away for
    // whoever consumes it; emitting it here would re-introduce
    // truncate-vs-floor divergence on negative sums for zero benefit.
    "q_label_centroids" -> { (s, dir) =>
      loadEmb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "pos", "x")
        .select(col("label"), col("pos"),
          floor(col("x").cast("double") * 1048576d).as("q"))
        .groupBy(col("label"), col("pos"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_q"))
    },

    // ── inter-label centroid cosine matrix (signed cos², ppm) ───────────
    // How separable the label clusters are: pairwise cosine between the
    // per-label centroid SUM vectors (cosine is scale-invariant, so the
    // sum stands in for the mean with no division). Embeddings quantize
    // to the 2⁻¹⁰ grid FIRST — coarser than the 2⁻²⁰ family grid by
    // design, so the decimal headroom proof holds to sf1+: per-dim sums
    // |s| ≤ 2¹⁰·n ≈ 5·10⁶ at sf1, dot ≤ 64·s² ≈ 1.6·10¹⁵, and the
    // final dot²·10⁶ ≤ 2.6·10³⁶ < 10³⁸ stays inside DECIMAL(38,0) on
    // both engines (q_correlation's pattern). cos² avoids integer sqrt;
    // the sign is emitted separately.
    //
    // 100 TB posture: ONE corpus pass builds the centroid table, which
    // is labels×dims rows — broadcast-sized for any real label count;
    // the pairwise stage is a self-join of that tiny table, never of
    // the corpus.
    "q_centroid_similarity" -> { (s, dir) =>
      val cent = loadEmb(s, dir)
        .select(col("label"), posexplode(col("embedding")))
        .toDF("label", "pos", "x")
        .select(col("label"), col("pos"), expr(
          "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)")
          .as("qv"))
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("qv")).as("sq"))
      cent.toDF("la", "posa", "qa")
        .join(cent.toDF("lb", "posb", "qb"),
          col("posa") === col("posb") && col("la") < col("lb"))
        .groupBy(col("la"), col("lb"))
        .agg(sum(expr("qa * qb")).as("dot0"),
          sum(expr("qa * qa")).as("na2"),
          sum(expr("qb * qb")).as("nb2"))
        .selectExpr("la", "lb",
          """CASE WHEN dot0 > 0 THEN CAST(1 AS BIGINT)
            |     WHEN dot0 < 0 THEN CAST(-1 AS BIGINT)
            |     ELSE CAST(0 AS BIGINT) END AS cos_sign""".stripMargin,
          """CASE WHEN na2 = 0 OR nb2 = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST((CAST(dot0 AS DECIMAL(38,0)) * dot0 * 1000000)
            |    div (CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)
            |END AS cos2_ppm""".stripMargin)
    },

    // ── IVF index health: cell-size balance diagnostic ─────────────────
    // Per-cell population + share (bp) of the IVF assignment — the
    // number that tells you whether nprobe/candidate-volume math holds:
    // a cell at 30× the mean makes every probe touching it pay 30× the
    // scan, and empty cells waste centroid budget. Same in-row argmin
    // assignment as the search path (one broadcast row, corpus scanned
    // once); output bounded by the centroid count.
    "q_ivf_cell_balance" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      val assigned = withCell(
        emb.select(col("vec_id"), col("embedding").as("cvec")),
        centroidArray(seedCentroids(emb)), col("cvec"))
      assigned.groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(emb.agg(count(lit(1)).as("total"))))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 10000 div total").as("share_bp"))
    },

    // ── PQ codeword-usage balance (per-subspace index health) ──────────
    // For each subspace m: how many of the PQ_K codewords are used and
    // the heaviest codeword's share (bp) — dead codewords waste code
    // budget and a dominant one collapses ADC resolution in that
    // subspace (the diagnostic that says WHERE codebook fitting —
    // q_ann_pq_kmeans — will pay). One encode pass (same in-row argmin
    // as search) + one Generate + one (m, code)-keyed fold; output
    // bounded by M·K.
    "q_pq_code_balance" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      val coded = withPqCodes(
        emb.select(col("vec_id"), expr(pqQuant("embedding")).as("vq")),
        pqCodebook(emb))
      val perCode = coded.select(posexplode(col("codes")))
        .toDF("m", "code")
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("c"))
      perCode.groupBy(col("m"))
        .agg(count(lit(1)).as("n_codes_used"),
          sum(col("c")).as("n"), max(col("c")).as("max_c"))
        .select(col("m").cast("long").as("m"), col("n_codes_used"),
          expr("max_c * 10000 div n").as("top_share_bp"))
    },

    // ── embedding hygiene: quantized-norm histogram + zero vectors ─────
    // The profile a vector pipeline runs BEFORE indexing: norm²
    // distribution (0.25-wide buckets on the shared 2⁻²⁰ grid — same
    // quantization as srp_sig/PQ/KMeans, so the histogram is
    // engine-exact) and all-zero vectors, which break cosine (0/0) and
    // pollute IVF cells. One Generate + one vec-keyed agg + one tiny
    // bucket fold; no shuffle carries raw coordinates twice.
    "q_embedding_norms" -> { (s, dir) =>
      loadEmb(s, dir)
        .select(col("vec_id"), explode(col("embedding")).as("x"))
        .select(col("vec_id"),
          floor(col("x").cast("double") * 1048576d).as("q"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("q * q")).as("norm2_q"), count(lit(1)).as("dim"),
          sum(when(col("q") === 0, 1L).otherwise(0L)).as("n_zero"))
        .select(expr(s"norm2_q div ${(1L << 40) / 4}").as("norm2_bucket"),
          (col("n_zero") === col("dim")).cast("long").as("is_zero_vec"))
        .groupBy(col("norm2_bucket"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("is_zero_vec")).as("n_zero_vecs"))
    },

    // ── IVF recall@k against the brute-force truth ──────────────────────
    // recall_pct = 100·|ivf ∩ brute| / k per query — the number a
    // training-data pipeline tunes nprobe/cells against. Integer
    // arithmetic throughout (hash-stable); the left join keeps
    // zero-recall queries in the output.
    "q_ann_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), ivfTopk(s, dir))
    },

    // ── IVF nprobe tuning sweep: recall AND work per probe depth ────────
    // The IVF twin of q_lsh_tuning: for nprobe ∈ {1,2,4}, macro
    // recall@k (bp), the worst query's recall, and the candidate volume
    // actually scored — the curve an operator reads to pick nprobe.
    // Superset rewrite like the LSH ladder: cells are ranked ONCE per
    // query (in-row sorted-struct slice, rank = position) and scored
    // ONCE at the deepest probe; every shallower rung is an integer
    // re-filter on probe rank — 3 rungs cost one probe pass, not three.
    //
    // 100 TB posture: inherits q_ann_ivf_topk's ONE-Exchange shape —
    // in-row assignment, broadcast probe table, bounded_topk partials;
    // the sweep adds only tiny per-rung aggregates over the shared
    // candidate set.
    "q_ann_nprobe_sweep" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      val centArr = centroidArray(seedCentroids(emb))
      val assigned = withCell(
        emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cvec")),
        centArr, col("cvec"))
      val probes = queryVectors(emb).crossJoin(broadcast(centArr))
        .select(col("query_id"), col("qvec"),
          posexplode(slice(array_sort(transform(col("cents"), c =>
            struct(l2Sq(col("qvec"), c.getField("centroid")).as("d2"),
              c.getField("cell").as("cell")))), 1, N_PROBE)))
        .toDF("query_id", "qvec", "pp", "pc")
        .select(col("query_id"), col("qvec"), (col("pp") + 1).as("prn"),
          col("pc.cell").as("cell"))
      // BOTH shared inputs persist for the ladder: without this each
      // rung re-runs the corpus argmin-assignment + scoring pass AND
      // the brute-force truth scan — measured 19.8 s at sf0.1 (9.1× at
      // 10× rows); with the caches the corpus is scanned once per axis
      // and rungs are integer re-filters of the candidate table
      val scoredAll = graft.CacheRegistry.persist(
        assigned.join(broadcast(probes), Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("sim", cosine(col("qvec"), col("cvec")))
          .select(col("query_id"), col("neighbor_id"), col("sim"),
            col("prn")))
      val truth = graft.CacheRegistry.persist(bruteTopk(s, dir))
      NPROBE_LADDER.map { p =>
        val sc = scoredAll.filter(col("prn") <= p)
        recallOf(truth, topkByQuery(sc))
          .agg(count(lit(1)).as("n_queries"),
            expr("CAST(sum(recall_pct) * 100 div count(1) AS BIGINT)")
              .as("macro_recall_bp"),
            min(col("recall_pct")).as("min_recall_pct"))
          .crossJoin(sc.agg(count(lit(1)).as("n_scanned")))
          .select(lit(p.toLong).as("nprobe"), col("n_queries"),
            col("macro_recall_bp"), col("min_recall_pct"),
            col("n_scanned"))
      }.reduce(_.unionByName(_))
    },

    // ── sign-random-projection dimensionality reduction ─────────────────
    // Project every embedding dim→RP_DIMS through the native codegen'd
    // `rp_project` ([[graft.plans.RpProject]]): the Johnson–
    // Lindenstrauss sketch a pipeline feeds to coarse clustering /
    // bucketing when the full vector is too wide to shuffle. Pure
    // zero-shuffle projection — the only Exchange here is the
    // row-per-component posexplode's none at all. Output is
    // (vec_id, pos, comp) with comp an exact LONG (quantize-then-
    // integer-dot, same 2⁻²⁰ grid and LCG as srp_sig), so the sketch
    // hash-matches the oracle's SQL replay bit-for-bit.
    "q_rp_project" -> { (s, dir) =>
      loadEmb(s, dir)
        .select(col("vec_id"),
          posexplode(expr(s"rp_project(embedding, $RP_DIMS)")))
        .toDF("vec_id", "pos", "comp")
    },

    // ── embedding-cosine near-dup: cell-blocked candidates + verify ─────
    // The corpus is augmented with exact duplicate vectors (offset ids) —
    // the testdata's random embeddings have no natural near-dups (max
    // background cosine ≈ 0.6) — then candidates are pairs sharing an
    // IVF cell (bounded by cell size, never all-pairs) and the exact
    // cosine threshold keeps true near-dups. 0.99 vs the 0.6 background
    // leaves orders of magnitude more margin than float noise, so the
    // pair SET is engine-stable even though cosines are floats.
    //
    // Scale contract: cells = max(MIN_CELLS, ⌊√n⌋) — the standard IVF
    // regime. Flat assignment costs n·C = O(n^1.5) distance evals and
    // expected cell population is ~√n, so the within-cell all-pairs
    // verify is Σ cell² ≈ O(n^1.5) too: assignment and verify grow at
    // the SAME sub-quadratic rate (round 3's cells = n/64 kept verify
    // linear but let assignment grow O(n²/64)). ⌊√n⌋ is computed as
    // floor over an IEEE sqrt — correctly rounded in both engines, so
    // the cell count is oracle-identical (`n` is a driver-side count —
    // parquet-metadata cheap — so n_cells is a LITERAL: the centroid
    // filter pushes into the scan, where the round-4 first cut's
    // DataFrame-valued n_cells forced a broadcast-crossJoin filter per
    // consumer plus a separate strategy count ≈ two extra corpus
    // scans). Assignment is the exact flat argmin DELIBERATELY — this
    // query is hash-gated against an exact-argmin oracle, so wiring the
    // approximate two-level descent here would silently diverge the
    // gate past the crossover; approximate blocking at C beyond
    // TWO_LEVEL_MIN_CELLS is the library path, [[assignCells]].
    //
    // The assigned table is PERSISTED (registered): both self-join
    // sides read it, and without the cache each side would re-derive
    // the augmented corpus and re-run the n·C argmin — the round-3
    // driver record showed exactly that as a 5× regression.
    "q_embedding_neardup" -> { (s, dir) => embeddingNearDupPairs(s, dir) },

    // ── semantic-duplicate clusters over the embedding space ────────────
    // The SemDeDup shape: close the cosine near-dup pairs into
    // connected components (the same distributed hash-min fixpoint the
    // text and media cluster queries use) — each cluster is one
    // semantic equivalence class, and "keep one representative per
    // cluster" is the dedup policy a pipeline executes on it. Member
    // table output (vec_id, cluster_id, cluster_sz); recursive-CTE
    // oracle.
    "q_embedding_clusters" -> { (s, dir) =>
      Clusters.memberTable(
        embeddingNearDupPairs(s, dir).toDF("doc_a", "doc_b"))
        .toDF("vec_id", "cluster_id", "cluster_sz")
    },

    // ── blocked DBSCAN: density clustering with core/border/noise ──────
    // The density-based complement to the CC closure above: at a much
    // looser ε (cosine ≥ 0.35 vs the near-dup 0.99) the pair graph has
    // real degree structure, and DBSCAN's minPts rule separates dense
    // regions (cores + their borders) from sparse noise — the
    // clustering a curation pipeline uses to find topical pockets
    // rather than byte-near duplicates. Full semantics in
    // [[dbscanRoles]]; output is one row per corpus point
    // (vec_id, role ∈ {core,border,noise}, cluster_id | −1).
    "q_dbscan" -> { (s, dir) => dbscanRoles(s, dir) },

    // ── k-center (Gonzalez maximin) diversity seeding ───────────────────
    // The diversity-selection primitive: greedily pick the point
    // FARTHEST from everything already picked — a 2-approximation of
    // the k-center cover and the classic seed rule for diverse coreset
    // selection (pick the outliers a random sample would miss).
    // Deterministic and integer-exact: L2² on the 2⁻¹⁰ grid, seed 0 =
    // min vec_id, every argmax ties to the lower vec_id. Output: one
    // row per seed (rank, vec_id, sel_d2 = its maximin distance at
    // selection — the monotone non-increasing radius sequence).
    //
    // 100 TB posture: K scans, each ONE global max-of-struct aggregate
    // (map-side partials, no data-row shuffle); the chosen seed
    // vectors ride the plan as literals (K·dim longs — the
    // bounded-collect pattern the logit trainer uses). No pairwise
    // table, no windows, no driver loop over data.
    "q_kcenter_seeds" -> { (s, dir) =>
      val qv = graft.CacheRegistry.persist(quantEmb(s, dir))
      val seeds = kcenterFit(qv)
      import s.implicits._
      seeds.map(k => (k.rank.toLong, k.id, k.selD2))
        .toDF("rank", "vec_id", "sel_d2")
    },

    // ── k-center coverage: the cover the seeds actually achieve ────────
    // Assign every corpus point to its nearest seed (ties → the
    // earlier-chosen seed) and report per-seed member count, max d²
    // (the cell's covering radius) and summed d² — the audit that says
    // whether the K seeds cover the corpus evenly or one cell is a
    // grab-bag. ONE corpus scan against the in-plan seed literals.
    "q_kcenter_coverage" -> { (s, dir) =>
      val qv = graft.CacheRegistry.persist(quantEmb(s, dir))
      kcenterCoverage(qv, kcenterFit(qv))
    },

    // ── sampled-fit k-center: the 100 TB posture of the seeding ────────
    // Seeds are fitted on the deterministic md5-bucket slice (the
    // q_ann_ivf_sampled / q_bpe_sampled recipe — the K maximin scans
    // touch a bounded sample, not the corpus), then EVERY corpus point
    // is assigned to its nearest slice-fitted seed in one full pass.
    // The DuckDB twin replays the identical slice from the same hash.
    // Note the Gonzalez radius certificate is slice-relative here: an
    // unsampled outlier can exceed the slice's final maximin — that is
    // the accepted trade of sampling a coverage problem, and exactly
    // what the coverage columns make visible.
    "q_kcenter_sampled" -> { (s, dir) =>
      val qv = graft.CacheRegistry.persist(quantEmb(s, dir))
      val slice = qv.filter(
        Curation.hashBucket(col("vec_id"), KC_SAMPLE_SEED)
          < KC_SAMPLE_PCT)
      kcenterCoverage(qv, kcenterFit(slice))
    },

    // ── SemDeDup survivor selection (centroid-sim argmin per cluster) ──
    // Semantic dedup's keep rule (Abbas et al. 2023): within each
    // embedding near-dup cluster keep the member with the LOWEST
    // cosine similarity to the cluster centroid — the boundary point
    // preserves the most diversity when the rest of the cluster is
    // dropped (min-id keeps an arbitrary member; q_cluster_survivors'
    // quality rule needs a quality signal embeddings don't carry).
    // Engine-exact ranking without sqrt or float: members are ranked
    // by sign(dot)·(dot²·10⁶ div (‖a‖²·‖c‖²)) against the cluster's
    // quantized SUM vector (cosine is scale-invariant, so the sum
    // stands in for the mean — q_centroid_similarity's contract), a
    // monotone image of cosine; ties break on vec_id. 2⁻¹⁰ grid keeps
    // dot²·10⁶ inside DECIMAL(38,0)/HUGEINT at sf1+ (unit-norm
    // embeddings: per-dim |qv| ≤ 512, cluster sums ≤ 512·sz).
    //
    // 100 TB posture: clusters come from the cell-blocked pair table
    // (never all-pairs); the scoring pass is two cluster-keyed
    // aggregates over members×dims rows — dup-bounded, not
    // corpus-bounded — and every join is an equi-join on cluster/pos.
    "q_semdedup" -> { (s, dir) =>
      val members = Clusters.memberTable(
          embeddingNearDupPairs(s, dir).toDF("doc_a", "doc_b"))
        .toDF("vec_id", "cluster_id", "cluster_sz")
      val qcoords = augmentedEmb(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "x")
        .select(col("vec_id"), col("pos"), expr(
          "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)")
          .as("qv"))
      val mq = members.join(qcoords, "vec_id")
      val sums = mq.groupBy(col("cluster_id"), col("pos"))
        .agg(sum(col("qv")).as("sq"))
      val keyed = mq.join(sums, Seq("cluster_id", "pos"))
        .groupBy(col("cluster_id"), col("cluster_sz"), col("vec_id"))
        .agg(sum(expr("qv * sq")).as("dot0"),
          sum(expr("qv * qv")).as("na2"),
          sum(expr("sq * sq")).as("nc2"))
        .selectExpr("cluster_id", "cluster_sz", "vec_id",
          "CAST(dot0 AS DECIMAL(38,0)) AS dot0",
          "CAST(na2 AS DECIMAL(38,0)) AS na2",
          "CAST(nc2 AS DECIMAL(38,0)) AS nc2")
        .selectExpr("cluster_id", "cluster_sz", "vec_id",
          """CASE WHEN na2 = 0 OR nc2 = 0 THEN CAST(0 AS BIGINT)
            |  WHEN dot0 < 0 THEN
            |    CAST(-((dot0 * dot0 * 1000000) div (na2 * nc2))
            |      AS BIGINT)
            |  ELSE CAST((dot0 * dot0 * 1000000) div (na2 * nc2)
            |    AS BIGINT)
            |END AS key_ppm""".stripMargin)
      keyed.groupBy(col("cluster_id"), col("cluster_sz"))
        .agg(min(struct(col("key_ppm"), col("vec_id"))).as("m"))
        .select(col("cluster_id"), col("cluster_sz"),
          col("m.vec_id").as("keep_vec_id"),
          col("m.key_ppm").as("keep_cos2_ppm"),
          (col("cluster_sz") - 1).as("n_dropped"))
    },

    // ── cluster purity vs external labels ──────────────────────────────
    // The clustering-eval number that needs GROUND TRUTH: per
    // embedding near-dup cluster, the share of members carrying the
    // cluster's majority `label`, plus the corpus-level purity
    // Σ majority-counts / Σ members in bp — the external check the
    // internal metrics (modularity, cell balance) can't give. Planted
    // copies inherit their original's label (vec_id mod DUP_OFFSET),
    // so a pure pipeline scores 10⁴. Majority is a two-level argmax
    // (count DESC, label ASC struct-min — no per-cluster window);
    // output bounded by cluster count.
    "q_cluster_purity" -> { (s, dir) =>
      val members = Clusters.memberTable(
          embeddingNearDupPairs(s, dir).toDF("doc_a", "doc_b"))
        .toDF("vec_id", "cluster_id", "cluster_sz")
      val labels = loadEmb(s, dir)
        .select(col("vec_id"), col("label"))
      val withLbl = members
        .withColumn("orig_id", expr(s"vec_id % $DUP_OFFSET"))
        .join(labels.toDF("orig_id", "label"), "orig_id")
      val perLabel = withLbl
        .groupBy(col("cluster_id"), col("cluster_sz"), col("label"))
        .agg(count(lit(1)).as("c"))
      val majority = perLabel
        .groupBy(col("cluster_id"), col("cluster_sz"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("m"))
        .select(col("cluster_id"), col("cluster_sz"),
          col("m.label").as("majority_label"),
          (-col("m.nc")).as("n_majority"),
          expr("(-m.nc) * 10000 div cluster_sz").as("purity_bp"))
      majority
    },

    // ── MMR diversified top-k (maximal marginal relevance, unrolled) ───
    // The RAG-retrieval re-rank plain top-k can't express: after the
    // most relevant hit, each next slot goes to argmax of
    // 7·rel − 3·max_sim_to_already_selected (λ = 0.7) — near-dup hits
    // that top-k would stack into slots 2..5 are displaced by diverse
    // ones. Greedy selection is inherently sequential, so the K rounds
    // are UNROLLED (the q_kcore/eigIterate convention — the oracle
    // replays identical rounds as chained CTEs); every round runs on
    // the Q×C candidate table, never the corpus. The similarity kernel
    // is sign(dot)·cos²·10⁶ on the 2⁻¹⁰ grid — a monotone image of
    // cosine per pair, integer on both engines, so scores and
    // tie-breaks (cand_id asc) are bit-identical BY CONSTRUCTION.
    //
    // 100 TB posture: ONE corpus pass computes query relevances (the
    // brute tier — swap in IVF candidates at scale); candidates cap at
    // MMR_C per query via bounded_topk, pairwise sims are Q·C² rows,
    // and the selection rounds touch only Q·C-row tables — all joins
    // query-keyed equi-joins.
    "q_mmr_diversify" -> { (s, dir) =>
      val qc = graft.CacheRegistry.persist(
        loadEmb(s, dir)
          .select(col("vec_id"), posexplode(col("embedding")))
          .toDF("vec_id", "pos", "x")
          .select(col("vec_id"), col("pos"), expr(
            "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)")
            .as("qv")))
      val norms = qc.groupBy(col("vec_id"))
        .agg(sum(expr("qv * qv")).as("n2"))
      val qq = qc.filter(col("vec_id") < N_QUERIES)
        .toDF("query_id", "pos", "qv_q")
      def cos2Ppm(dot: String, na: String, nb: String): String =
        s"""CASE WHEN $na = 0 OR $nb = 0 THEN CAST(0 AS BIGINT)
           |  WHEN $dot < 0 THEN CAST(-((CAST($dot AS DECIMAL(38,0))
           |    * $dot * 1000000) div (CAST($na AS DECIMAL(38,0))
           |    * $nb)) AS BIGINT)
           |  ELSE CAST((CAST($dot AS DECIMAL(38,0)) * $dot * 1000000)
           |    div (CAST($na AS DECIMAL(38,0)) * $nb) AS BIGINT)
           |END""".stripMargin
      val rel = qc.join(broadcast(qq), "pos")
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(expr("qv * qv_q")).as("dot"))
        .join(norms.toDF("query_id", "nq"), "query_id")
        .join(norms.toDF("vec_id", "nc"), "vec_id")
        .select(col("query_id"), col("vec_id").as("cand_id"),
          expr(cos2Ppm("dot", "nq", "nc")).as("rel"))
      val cand = graft.CacheRegistry.persist(
        rel.groupBy(col("query_id"))
          .agg(expr(
            s"bounded_topk(CAST(-rel AS DOUBLE), cand_id, $MMR_C)")
            .as("top"))
          .select(col("query_id"), explode(col("top")).as("t"))
          .select(col("query_id"), col("t.n").as("cand_id"),
            (-col("t.s")).cast("long").as("rel")))
      val cc = cand.select(col("query_id"), col("cand_id"))
        .join(qc, col("cand_id") === col("vec_id")).drop("vec_id")
      val ps = graft.CacheRegistry.persist(
        cc.toDF("query_id", "a", "pos", "qv_a")
          .join(cc.toDF("query_id", "b", "pos", "qv_b"),
            Seq("query_id", "pos"))
          .filter(col("a") =!= col("b"))
          .groupBy(col("query_id"), col("a"), col("b"))
          .agg(sum(expr("qv_a * qv_b")).as("dot"))
          .join(norms.toDF("a", "na"), "a")
          .join(norms.toDF("b", "nb"), "b")
          .select(col("query_id"), col("a"), col("b"),
            expr(cos2Ppm("dot", "na", "nb")).as("sim")))
      // The greedy rounds run ON THE DRIVER over the two collected
      // candidate tables (r17): cand is ≤ Q·MMR_C rows and ps ≤ Q·C²
      // rows BY CONSTRUCTION — bounded index metadata, the KMeans-
      // centroid / MMR-sel class r16 already collected per round. The
      // r16 shape still paid K−1 collect jobs (anti-join + penalty
      // join + union per round, each a multi-stage AQE query over
      // tiny tables — 48 jobs total, PERF.md §Retired probe mains);
      // the driver loop replays the identical integer argmin
      // (min ns = ms·3 − rel·7, then min cand_id) with ZERO jobs
      // after the two cache reads, and returns the Q·K-row selection
      // as one LocalRelation. The corpus-scale parts (rel pass,
      // bounded_topk, ps build) stay distributed.
      val candRows = cand.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val simRows = ps.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val byQuery = candRows.groupBy(_._1)
      val simMap = simRows.map { case (q, a, b, s0) => ((q, a, b), s0) }.toMap
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long)] // (query_id, rank, cand_id, score)
      byQuery.toSeq.sortBy(_._1).foreach { case (q, cs) =>
        // round 1: pure relevance — min struct((-rel·7), cand_id)
        var best = cs.minBy { case (_, id, rel) => (-rel * 7, id) }
        var selected = Vector(best._2)
        out += ((q, 1L, best._2, best._3 * 7))
        for (r <- 2 to MMR_K) {
          val rem = cs.filterNot(c => selected.contains(c._2))
          if (rem.nonEmpty) {
            val scored = rem.map { case (_, a, rel) =>
              val ms = selected.map(b => simMap((q, a, b))).max
              (ms * 3 - rel * 7, a)
            }
            val pick = scored.minBy(identity)
            selected :+= pick._2
            out += ((q, r.toLong, pick._2, -pick._1))
          }
        }
      }
      import s.implicits._
      out.toSeq.toDF("query_id", "rank", "cand_id", "score")
        .select(col("query_id"), col("rank"), col("cand_id"),
          col("score"))
    },

    // ── two-level IVF assignment behind the hash gate ───────────────────
    // The coarse-then-fine descent [[assignCells]] switches to above
    // TWO_LEVEL_MIN_CELLS, replayed at testdata scale (fanout 4 over
    // the 16 seed cells, probe 2 groups) against the DuckDB replay of
    // the SAME descent — upgrading it from spec-only to oracle-gated:
    // the descent's approximation is engine-REPRODUCIBLE (deterministic
    // group selection and argmin tie-breaks), not incidental.
    "q_ann_twolevel_cells" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      withCellTwoLevel(emb.select(col("vec_id"), col("embedding")),
        seedCentroids(emb), col("embedding"), fanout = 4, probeGroups = 2)
        .select(col("vec_id"), col("cell"))
    },

    // ── the JOIN-based assignment under the same hash gate ──────────────
    // [[withCellJoined]] (the scale path [[assignCells]] routes to
    // above the crossover — reps broadcast in-row, fine centroids join
    // DISTRIBUTED, keyed min-struct argmin) must reproduce the
    // broadcast descent bit-for-bit, so it runs against the IDENTICAL
    // DuckDB replay: same oracle SQL, two physical strategies, one
    // hash — the strongest possible form of the equivalence claim.
    "q_ann_joined_cells" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      withCellJoined(emb.select(col("vec_id"), col("embedding")),
        seedCentroids(emb), col("embedding"), Seq("vec_id"),
        fanout = 4, probeGroups = 2)
    },

    // ── dimension-truncation recall ladder (Matryoshka-style) ───────────
    // The DIMS axis of the recall/cost trade, completing the calibration
    // family (q_ann_nprobe_sweep = probe depth, q_lsh_tuning = band
    // split, q_ann_srp_recall = sketch width): nested-trained
    // embeddings are served truncated to a dim prefix, and this ladder
    // measures brute-force recall@k of each prefix against the
    // full-dim truth — the curve an operator reads to pick the
    // cheapest prefix that holds recall (index bytes, shuffle volume,
    // and distance-eval cost all scale linearly with d).
    //
    // 100 TB posture: ONE corpus pass scores every rung — the scored
    // table carries one sim column per rung and persists for the
    // ladder; queries ride broadcast; per-rung top-k is bounded_topk
    // partials (≤ k rows per task per query into the shuffle).
    "q_ann_dim_ladder" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      val simCols = DIM_LADDER.map(d =>
        cosine(slice(col("qvec"), 1, d), slice(col("cvec"), 1, d))
          .as(s"sim_$d"))
      val scored = graft.CacheRegistry.persist(
        emb.select(col("vec_id").as("neighbor_id"),
            col("embedding").as("cvec"))
          .join(broadcast(queryVectors(emb)),
            col("query_id") =!= col("neighbor_id"))
          .select(Seq(col("query_id"), col("neighbor_id")) ++ simCols: _*))
      val truth = graft.CacheRegistry.persist(bruteTopk(s, dir))
      DIM_LADDER.map { d =>
        val top = scored
          .filter(!isnan(col(s"sim_$d"))) // zero-norm prefix guard
          .groupBy(col("query_id"))
          .agg(expr(s"bounded_topk(-sim_$d, neighbor_id, $TOP_K)")
            .as("top"))
          .select(col("query_id"), posexplode(col("top")))
          .toDF("query_id", "pos", "t")
          .select(col("query_id"), col("t.n").as("neighbor_id"))
        recallOf(truth, top)
          .agg(count(lit(1)).as("n_queries"),
            expr("CAST(sum(recall_pct) * 100 div count(1) AS BIGINT)")
              .as("macro_recall_bp"),
            min(col("recall_pct")).as("min_recall_pct"))
          .select(lit(d.toLong).as("dims"), col("n_queries"),
            col("macro_recall_bp"), col("min_recall_pct"))
      }.reduce(_.unionByName(_))
    },

    // ── IVF mean-reciprocal-rank: WHERE the true NN lands, not just if ─
    // Recall@k says whether the true neighbor is in the candidate list;
    // MRR says where it ranks — the number that matters when only the
    // top result is consumed (retrieval-augmented lookup). Per query:
    // the brute-force top-1 neighbor, its rank inside the IVF top-k
    // (0 = missed), and the reciprocal rank in basis points (integer
    // floor — engine-exact). Reuses the shared brute/IVF top-k plans;
    // the join is Q rows against Q·k rows, broadcast both ways.
    "q_ann_mrr" -> { (s, dir) =>
      val truth1 = bruteTopk(s, dir).filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("true_nn"))
      val approx = ivfTopk(s, dir)
        .select(col("query_id"), col("neighbor_id").as("true_nn"),
          col("rank").cast("long").as("found_rank"))
      truth1.join(broadcast(approx), Seq("query_id", "true_nn"),
          "left_outer")
        .select(col("query_id"), col("true_nn"),
          coalesce(col("found_rank"), lit(0L)).as("found_rank"),
          when(col("found_rank").isNull, lit(0L))
            .otherwise(expr("10000 div found_rank")).as("rr_bp"))
    },

    // ── hubness: which vectors crowd the top-k lists ───────────────────
    // The pathology detector for embedding spaces: a "hub" appears in
    // many queries' top-k lists (and everything near it drowns), an
    // anti-hub in none. Per corpus vector appearing in ≥1 brute-force
    // top-k list over the query set: list membership count and its best
    // rank. One aggregate over the shared Q·k truth table — the brute
    // pass is already priced by q_ann_cosine_topk; at 100 TB the query
    // set is the sampled probe panel, so this stays Q·k rows.
    "q_hubness" -> { (s, dir) =>
      bruteTopk(s, dir)
        .groupBy(col("neighbor_id"))
        .agg(count(lit(1)).as("n_lists"),
          min(col("rank")).cast("long").as("best_rank"))
    },

    // ── dominant embedding direction: integer power iteration ──────────
    // The spectral diagnostic a pipeline reads before trusting cosine
    // similarity: a dominant direction with outsized mass (anisotropy —
    // the common pathology of learned embeddings) makes cosine scores
    // collapse toward it. EIG_ITERS power iterations of v ← Aᵀ(Av) on
    // the 2⁻²⁰-quantized coordinate grid, renormalized each half-step
    // to max-abs 2²⁰ by SIGN-SPLIT truncating division (negatives
    // negated before the divide, so both engines truncate identically —
    // floor-vs-truncate never fires). Everything is exact integer
    // arithmetic (DECIMAL(38,0) sums here, HUGEINT in the oracle), so
    // the final vector hash-matches the SQL replay bit-for-bit.
    //
    // 100 TB posture: NO joins — Av is an in-row dot against the
    // LITERAL d-sized iterate, Aᵀu attaches u before the coordinate
    // explode so the only exchange per iteration is the d-row (pos)
    // aggregate; the corpus is scanned 2·EIG_ITERS times from the
    // persisted quantized projection. The iterate itself is
    // DRIVER-COLLECTED each round (d longs — the same bounded-state
    // truncation as the KMeans centroid table; leaving it as a lazy
    // one-row plan made every broadcast subtree re-derive the whole
    // chain: ~3× blowup per iteration, 23.6 s measured at sf0.1 vs
    // ~1 s collected). Iterations are a CONSTANT; each half-step's
    // magnitudes are bounded by the rescale, and the cross-row sums
    // ride exact decimals, so no width blowup.
    "q_top_eigvec" -> { (s, dir) =>
      import s.implicits._
      eigIterate(s, dir)._2.zipWithIndex
        .map { case (c, p) => (p, c) }.toSeq.toDF("pos", "comp")
    },

    // ── anisotropy ratio: λ_top vs the average eigenvalue, in bp ───────
    // The one-number verdict on q_top_eigvec's direction: the Rayleigh
    // quotient of the converged iterate over AᵀA, relative to the
    // average eigenvalue trace(AᵀA)/d — 10000·λ_top·d/trace. Isotropic
    // embeddings sit near 10000·(d/d)=10⁴; a dominant direction pushes
    // it toward d·10⁴. One extra corpus pass past the shared iteration
    // (in-row dot + q² fold, one single-row aggregate); every term is
    // an exact decimal of bounded width, so the ratio is engine-exact.
    "q_anisotropy_ratio" -> { (s, dir) =>
      val (qv, v) = eigIterate(s, dir)
      val dims = v.length.toLong
      val den = v.map(x => BigInt(x) * x).sum // ≤ d·2⁴⁰ — long-safe
      qv.select(dotWith(v).as("u"),
          expr("aggregate(q, CAST(0 AS DECIMAL(38,0)), " +
            "(acc, x) -> acc + CAST(x * x AS DECIMAL(38,0)))").as("tr_i"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(expr("CAST(u AS DECIMAL(38,0)) * u")).as("num"),
          sum(col("tr_i")).as("trace"))
        .select(col("n_vecs"), lit(dims).as("dims"),
          expr(s"num * $dims * 10000 div " +
            s"(CAST(${den.toLong} AS DECIMAL(38,0)) * trace)")
            .as("anisotropy_bp"))
    },

    // ── two-stage PQ + exact re-rank (see pqRerankTopk) ────────────────
    "q_ann_pq_rerank" -> { (s, dir) => pqRerankTopk(s, dir) },

    // ── re-rank recall vs brute truth — read against q_ann_pq_recall:
    // the delta is what RERANK_C exact refinements buy back from PQ's
    // quantization loss (AnnSpec pins rerank ≥ plain PQ per query)
    "q_ann_rerank_recall" -> { (s, dir) =>
      recallOf(bruteTopk(s, dir), pqRerankTopk(s, dir))
    },

    // ── k-means elbow: inertia ladder over a k sweep ───────────────────
    // The model-selection diagnostic for every centroid consumer (IVF
    // cells, SemDeDup, label centroids): total within-cluster L2² at
    // k ∈ ELBOW_KS, each k assigning to the first-k seed centroids on
    // the shared 2⁻¹⁰ integer grid (the MMR kernel's grid — coords ≤
    // 2¹¹ keep Σ over 10⁹ vectors ≪ 2⁶³, and integer L2² is
    // engine-exact, so the ladder sits behind the hash gate). Inertia
    // is monotone non-increasing in k by construction (supersets of
    // centroids); the USEFUL read is where the drop flattens — the
    // elbow — which prices whether more IVF cells are still buying
    // variance. Seeds, not Lloyd-fitted: the ladder compares INDEX
    // CAPACITY at equal construction cost; KMeans.refineQuantized is
    // the upgrade path per k when the chosen k graduates to an index.
    //
    // 100 TB posture: the centroid panel is ONE broadcast row; all
    // ELBOW_KS assignments happen in a single corpus pass (the k sweep
    // is an in-row transform over slices of one centroid array — k
    // never multiplies scans), and the only exchange is the |ks|-row
    // final aggregate.
    "q_kmeans_elbow" -> { (s, dir) =>
      val qv = loadEmb(s, dir).select(col("vec_id"), expr(
        "transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT))")
        .as("vq"))
      val centArr = qv.filter(col("vec_id") < ELBOW_KS.max)
        .select(struct(col("vec_id").cast("int").as("cell"),
          col("vq").as("cq")).as("e"))
        .agg(sort_array(collect_list(col("e"))).as("cents"))
      qv.crossJoin(broadcast(centArr))
        .select(explode(expr(
          s"""transform(array(${ELBOW_KS.mkString(", ")}), kk ->
             |  struct(kk AS k,
             |    array_min(transform(slice(cents, 1, kk), c ->
             |      aggregate(sequence(0, size(vq) - 1),
             |        CAST(0 AS BIGINT), (acc, d) -> acc +
             |          (vq[d] - c.cq[d]) * (vq[d] - c.cq[d])))) AS d2))"""
            .stripMargin)).as("e"))
        .groupBy(col("e.k").as("k"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("e.d2")).as("inertia"))
    },

    // ── silhouette score of the IVF partition (clustering quality) ─────
    // The cluster-separation number the elbow's inertia can't give:
    // simplified silhouette per point s = (b − a) / b over SQUARED
    // integer distances on the 2⁻¹⁰ grid, where a = d² to the OWN
    // (nearest) centroid and b = d² to the best OTHER centroid — a ≤ b
    // by construction of the argmin assignment, so s ∈ [0, 10⁶] ppm
    // and every division has non-negative operands (truncate ≡ floor).
    // Ties (two centroids equidistant) yield b = a ⇒ s = 0 in both
    // engines (engine: struct-min picks the lower cell, the tie partner
    // stays in b; oracle: rn 1/2 under the same (d2, cell) order).
    // Output: per-cell member count, summed and mean silhouette ppm —
    // the per-cell view that says WHICH IVF cells are well-separated
    // and which bleed into a neighbor.
    //
    // 100 TB posture: one corpus scan against the broadcast centroid
    // row (the IVF assignment plan), distances in-row over the K-struct
    // array, then a K-row aggregate — no pairwise table, no windows,
    // no shuffle beyond K rows per task.
    "q_silhouette" -> { (s, dir) =>
      val emb = loadEmb(s, dir)
      partitionSilhouette(emb, "embedding",
        emb.filter(col("vec_id") < N_CELLS)
          .select(col("vec_id").as("cell"),
            col("embedding").as("centroid")),
        "cell", "centroid")
    },

    // ── label-outlier screen (mislabeled-data candidates) ──────────────
    // The label-error detector every supervised corpus needs (Confident
    // Learning's geometric core): per label, the OUT_K vectors farthest
    // from their OWN label's centroid — a point deep inside another
    // class's region is the classic annotation slip. Coordinates ride
    // the 2⁻¹⁰ grid OFFSET to non-negative (+1024) so the centroid's
    // per-dim integer mean (sum div n) has non-negative operands —
    // truncate ≡ floor, engine-exact — and distances are exact integer
    // L2² (≤ 64·2¹²·4 ≪ 2⁵³, so the bounded_topk double score is
    // exact). Ranking is within-label only (d2 is comparable at equal
    // centroid resolution); ties break (d2 DESC, vec_id ASC).
    //
    // 100 TB posture: centroids are one |labels|×dim aggregate
    // collapsed to a broadcast row-set; the screen is a single corpus
    // pass with a label-keyed k-capped bounded_topk — no windows over
    // corpus-sized tables, no pairwise anything.
    "q_label_outliers" -> { (s, dir) =>
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), expr(
          "transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)" +
            " + 1024)").as("vq"))
      val cents = q
        .select(col("label"), posexplode(col("vq"))).toDF("label", "pos", "v")
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", expr("sv div n"))
        .groupBy(col("label"))
        .agg(sort_array(collect_list(struct(col("pos"), col("cv"))))
          .as("pm"))
        .select(col("label"), expr("transform(pm, x -> x.cv)").as("cvq"))
      q.join(broadcast(cents), "label")
        .withColumn("d2", expr(
          "aggregate(sequence(0, size(vq) - 1), CAST(0 AS BIGINT), " +
            "(acc, d) -> acc + (vq[d] - cvq[d]) * (vq[d] - cvq[d]))"))
        .groupBy(col("label"))
        .agg(expr(s"bounded_topk(CAST(-d2 AS DOUBLE), vec_id, $OUT_K)")
          .as("top"))
        .select(col("label"), posexplode(col("top")))
        .toDF("label", "pos", "t")
        .select(col("label"), col("t.n").as("vec_id"),
          (col("pos") + 1).as("rank"),
          (-col("t.s")).cast("long").as("d2"))
    }
  )

  /** In-row integer dot of the quantized coordinate array `q` against a
    * literal iterate — the join-free Av half-step.
    */
  private def dotWith(v: Array[Long]): org.apache.spark.sql.Column =
    aggregate(
      zip_with(col("q"), typedLit(v.toSeq), (a, b) => a * b),
      lit(0L), (acc, x) => acc + x)

  /** The shared q_top_eigvec power iteration: EIG_ITERS rounds of
    * v ← rescale(Aᵀ·rescale(A·v)) over the 2⁻²⁰-quantized coordinate
    * grid (see the q_top_eigvec commentary for the scale contract).
    *
    * Per round, TWO jobs over the persisted projection: the max-abs
    * scalar of the in-row dots, then the d-row Aᵀ aggregate — whose
    * result (d longs) is collected and rescaled ON THE DRIVER in exact
    * BigInteger arithmetic (truncating division ≡ the oracle's
    * sign-split `//` on positives). Bounded driver state is the point:
    * the lazy one-row-plan formulation re-derived the whole upstream
    * chain inside every broadcast subtree (measured 9–24 s at sf0.1);
    * the collected iterate keeps every round's plan two levels deep.
    *
    * @return (qv, v): the persisted quantized projection and the final
    *         iterate as a driver array indexed by pos.
    */
  private def eigIterate(s: SparkSession,
                         dir: String): (DataFrame, Array[Long]) = {
    val qv = graft.CacheRegistry.persist(
      loadEmb(s, dir).select(col("vec_id"),
          expr("transform(embedding, x -> " +
            "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
            .as("q")))
    val dims = qv.select(size(col("q")).as("d")).head().getInt(0)
    var v = Array.fill(dims)(1048576L)
    for (_ <- 1 to EIG_ITERS) {
      // u = rescale(A·v): in-row dot (magnitudes ≤ d·2⁴⁰, long-safe),
      // one scalar aggregate for the max-abs
      val r = dotWith(v)
      val mU = qv.select(r.as("r"))
        .agg(greatest(max(abs(col("r"))), lit(1L)))
        .head().getLong(0)
      // sign-split truncating rescale of the dot, fused into the Aᵀ
      // pass: u rides the row into the explode; the only exchange is
      // the d-row pos aggregate (decimal-exact sum)
      val u = expr("CASE WHEN r_ < 0 THEN " +
        s"-((CAST(-r_ AS DECIMAL(38,0)) * 1048576) div $mU) " +
        s"ELSE (CAST(r_ AS DECIMAL(38,0)) * 1048576) div $mU END")
      val wRaw = qv.withColumn("r_", r)
        .select(u.as("u"), posexplode(col("q")))
        .toDF("u", "pos", "qd")
        .groupBy(col("pos"))
        .agg(sum(expr("CAST(qd * u AS DECIMAL(38,0))")).as("r"))
        .collect()
      // driver-side rescale in exact BigInteger math: BigInt `/`
      // truncates toward zero — identical to the engines' sign-split
      // positive-operand division
      val w = new Array[BigInt](dims)
      wRaw.foreach(row => w(row.getInt(0)) =
        BigInt(row.getDecimal(1).toBigInteger))
      val mW = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => ((x * 1048576) / mW).toLong)
    }
    (qv, v)
  }

  /** The q_embedding_neardup body — cell-blocked candidates + exact
    * cosine verify over the duplicate-augmented corpus (see the query
    * comment above for the scale contract). Shared with
    * q_embedding_clusters, which closes these pairs into components.
    */
  /** The duplicate-augmented corpus (originals plus DUP_COPIES planted
    * copies at id + DUP_OFFSET) — shared by the near-dup pair/cluster
    * family and q_semdedup, which must score the SAME node set the
    * clusters were built over.
    */
  private def augmentedEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = loadEmb(s, dir).select(col("vec_id"), col("embedding"))
    emb.unionByName(
      emb.filter(col("vec_id") < DUP_COPIES)
        .select((col("vec_id") + DUP_OFFSET).as("vec_id"),
          col("embedding")))
  }

  private def embeddingNearDupPairs(s: SparkSession,
                                    dir: String): DataFrame =
    blockedCosinePairs(s, dir, NEARDUP_THRESHOLD)

  /** Cell-blocked candidate pairs over the duplicate-augmented corpus
    * with exact cosine ≥ `threshold` verification — the shared ε-graph
    * builder for the near-dup family ([[embeddingNearDupPairs]],
    * NEARDUP_THRESHOLD) and blocked DBSCAN (q_dbscan, DBSCAN_EPS).
    */
  private def blockedCosinePairs(s: SparkSession, dir: String,
                                 threshold: Double): DataFrame = {
    val emb = loadEmb(s, dir).select(col("vec_id"), col("embedding"))
    val aug = augmentedEmb(s, dir)
    // exact augmented size for ANY corpus (no dense-id assumption —
    // `emb.count + DUP_COPIES` would diverge from the oracle when
    // fewer than DUP_COPIES ids exist below the cutoff): one cheap
    // driver-side aggregate over the scan
    val cnts = emb.agg(count(lit(1)),
      count(when(col("vec_id") < DUP_COPIES, 1))).head()
    val n = cnts.getLong(0) + cnts.getLong(1)
    val nCells = math.max(MIN_CELLS.toLong, math.sqrt(n.toDouble).toLong)
    val centroids = emb.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cell"),
        col("embedding").as("centroid"))
    val assigned = graft.CacheRegistry.persist(
      withCell(aug, centroidArray(centroids), col("embedding")))
    val a = assigned.select(col("vec_id").as("vec_a"),
      col("embedding").as("ea"), col("cell"))
    val b = assigned.select(col("vec_id").as("vec_b"),
      col("embedding").as("eb"), col("cell"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b") &&
        cosine(col("ea"), col("eb")) >= threshold)
      .select(col("vec_a"), col("vec_b"))
  }

  /** Blocked DBSCAN over the embedding space (q_dbscan body): roles and
    * cluster assignment for EVERY corpus point.
    *
    * The ε-neighborhood graph is the cell-blocked cosine-≥-ε pair table
    * ([[blockedCosinePairs]]) — a blocked DBSCAN in the same sense the
    * near-dup family is blocked: candidate pairs are restricted to one
    * Voronoi cell, and the oracle replays the identical blocking.
    * Graph-role semantics (core/border/noise, deterministic ties) live
    * in the generic [[Clusters.dbscanRoles]], which this delegates to.
    *
    * 100 TB posture: edges come cell-blocked (Σ cell² work, never
    * all-pairs); the role pass is keyed aggregates + an O(diameter)
    * CC fixpoint on the core–core subgraph (see Clusters.dbscanRoles).
    */
  /** Simplified silhouette of a centroid partition (the q_silhouette
    * body, generic): per point s = (b − a) / b over SQUARED integer
    * distances on the 2⁻¹⁰ grid, a = d² to the own (nearest) centroid,
    * b = d² to the best OTHER centroid — a ≤ b by construction of the
    * argmin assignment, so s ∈ [0, 10⁶] ppm and every division has
    * non-negative operands (truncate ≡ floor). Ties (two centroids
    * equidistant) yield s = 0 deterministically (struct-min picks the
    * lower cell; the tie partner stays in b).
    *
    * 100 TB posture: ONE corpus scan against the broadcast centroid
    * row, distances in-row over the K-struct array, then a K-row
    * aggregate — no pairwise table, no windows, no shuffle beyond K
    * rows per task.
    *
    * @param emb         corpus vectors (float array column `vecCol`)
    * @param centroids   K rows: (`cellCol` int-castable id,
    *                    `centroidCol` float array)
    * @return per-cell (cell, n_members, sum_s_ppm, mean_s_ppm)
    */
  def partitionSilhouette(emb: DataFrame, vecCol: String,
                          centroids: DataFrame, cellCol: String = "cell",
                          centroidCol: String = "centroid"): DataFrame = {
    // b = min d² to the best OTHER centroid is undefined for a
    // single-cell partition (the filter empties, array_min → NULL and
    // the NULLs would silently diverge from a rn=2 oracle join) —
    // refuse loudly instead. The centroid table is the K-row bounded
    // side by contract, so collect it ONCE and derive both the guard
    // count and the broadcast array from that single evaluation (a
    // separate distinct().count() would launch an extra eager job
    // re-running the centroid lineage on every call).
    val centRows = centroids
      .select(col(cellCol).cast("int").as("cell"),
        expr(quantExpr(centroidCol)).as("cq"))
      .collect()
    val nCells = centRows.map(_.getInt(0)).distinct.length
    require(nCells >= 2,
      s"partitionSilhouette: needs >= 2 distinct cells, got $nCells " +
        "(silhouette's b term is undefined for a single-cell partition)")
    val s = emb.sparkSession
    import s.implicits._
    val qv = emb.select(expr(quantExpr(vecCol)).as("vq"))
    val centArr = centRows.toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .toDF("cell", "cq")
      .select(struct(col("cell"), col("cq")).as("e"))
      .agg(sort_array(collect_list(col("e"))).as("cents"))
    qv.crossJoin(broadcast(centArr))
      .withColumn("ds", expr(
        """transform(cents, c -> struct(
          |  aggregate(sequence(0, size(vq) - 1), CAST(0 AS BIGINT),
          |    (acc, d) -> acc +
          |      (vq[d] - c.cq[d]) * (vq[d] - c.cq[d])) AS d2,
          |  c.cell AS cell))""".stripMargin))
      .withColumn("a", expr("array_min(ds)"))
      .withColumn("b2", expr(
        "array_min(transform(filter(ds, x -> x.cell != a.cell), " +
          "x -> x.d2))"))
      .select(col("a.cell").cast("long").as("cell"),
        expr("CASE WHEN b2 = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (b2 - a.d2) * 1000000 div b2 END").as("s_ppm"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("s_ppm")).as("sum_s_ppm"))
      .withColumn("mean_s_ppm", expr("sum_s_ppm div n_members"))
  }

  private def dbscanRoles(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.CacheRegistry.persist(
      blockedCosinePairs(s, dir, DBSCAN_EPS))
    Clusters.dbscanRoles(augmentedEmb(s, dir), "vec_id",
      pairs, "vec_a", "vec_b", DBSCAN_MIN_PTS)
  }

  /** (vec_id, vq): the corpus on the 2⁻¹⁰ integer grid — the shared
    * input of the k-center pair of queries.
    */
  /** SQL text quantizing a float-array column to the 2⁻¹⁰ integer grid
    * — THE determinism contract with the oracle's kq/sq CTEs; every
    * k-center / silhouette / novelty call site shares this one string.
    */
  private def quantExpr(c: String): String =
    s"transform($c, x -> " +
      "CAST(floor(CAST(x AS DOUBLE) * 1024.0 + 0.5) AS BIGINT))"

  /** The fitted seed set as an in-plan literal array of
    * struct(rank, sv) — shared by coverage assignment and the novelty
    * scorer so the two can never drift.
    */
  private def seedStructLit(seeds: Seq[KcSeed]): String =
    seeds.map(k =>
      s"struct(${k.rank} AS rank, ${k.vq.mkString("array(", "L,", "L)")} AS sv)")
      .mkString("array(", ", ", ")")

  private def quantEmb(s: SparkSession, dir: String): DataFrame =
    loadEmb(s, dir).select(col("vec_id"),
      expr(quantExpr("embedding")).as("vq"))

  private case class KcSeed(rank: Int, id: Long, selD2: Long,
                            vq: Seq[Long])

  /** Gonzalez maximin k-center fit over the quantized corpus: seed 0 =
    * min vec_id; seed t = argmax over points of min-L2² to the chosen
    * set, ties to the lower vec_id. Each round is ONE max-of-struct
    * aggregate against the seed vectors embedded as plan literals
    * (negating vec_id turns the struct max into the max-d2 /
    * min-vec_id rule; the winning row's vq rides along in the struct
    * so no second lookup scan is needed). Driver state: K·(dim+2)
    * longs. The DuckDB twin unrolls the identical K−1 rounds as
    * chained CTEs ([[kcenterCtes]]).
    *
    * Early stop: a round whose max d² is 0 means every remaining point
    * coincides with an already-chosen seed vector (k exceeds the number
    * of distinct vectors) — the fit returns FEWER than k seeds rather
    * than silently re-picking a duplicate (selD2 = 0) seed. Gated
    * configs never hit this (k = 8 ≪ distinct corpus vectors), so the
    * unrolled oracle needs no twin branch; KcenterSpec pins the
    * behavior.
    */
  private def kcenterFit(qv: DataFrame,
                         k: Int = KCENTER_K): Seq[KcSeed] = {
    val f = qv.agg(min(struct(col("vec_id"), col("vq"))).as("s"))
      .head().getStruct(0)
    require(f != null,
      "kcenterFit: empty fit corpus (no vectors, or an empty sample slice)")
    var seeds = Vector(KcSeed(0, f.getLong(0), 0L,
      f.getSeq[Long](1)))
    var exhausted = false
    for (t <- 1 until k if !exhausted) {
      val seedLit = seeds
        .map(k => k.vq.mkString("array(", "L,", "L)"))
        .mkString("array(", ", ", ")")
      val r = qv.select(col("vec_id"), col("vq"), expr(
        s"""array_min(transform($seedLit, sv ->
           |  aggregate(sequence(0, size(vq) - 1), CAST(0 AS BIGINT),
           |    (acc, d) -> acc + (vq[d] - sv[d]) * (vq[d] - sv[d]))))"""
          .stripMargin).as("d2"))
        .agg(max(struct(col("d2"), (lit(-1L) * col("vec_id")).as("nid"),
          col("vq"))).as("m"))
        .head().getStruct(0)
      if (r.getLong(0) == 0L) exhausted = true // every remaining point
      // duplicates a chosen seed vector — stop, never re-pick
      else seeds :+= KcSeed(t, -r.getLong(1), r.getLong(0),
        r.getSeq[Long](2))
    }
    seeds
  }

  /** One corpus scan assigning every point to its nearest seed (ties →
    * the earlier-chosen seed rank) rolled up per seed — shared by
    * q_kcenter_coverage (full fit) and q_kcenter_sampled (slice fit).
    */
  private def kcenterCoverage(qv: DataFrame,
                              seeds: Seq[KcSeed]): DataFrame = {
    val seedLit = seedStructLit(seeds)
    qv.select(expr(
      s"""array_min(transform($seedLit, e -> struct(
         |  aggregate(sequence(0, size(vq) - 1), CAST(0 AS BIGINT),
         |    (acc, d) -> acc + (vq[d] - e.sv[d]) * (vq[d] - e.sv[d]))
         |    AS d2,
         |  e.rank AS rank)))""".stripMargin).as("a"))
      .select(col("a.rank").cast("long").as("seed_rank"), col("a.d2"))
      .groupBy(col("seed_rank"))
      .agg(count(lit(1)).as("n_members"),
        max(col("d2")).as("max_d2"),
        sum(col("d2")).as("sum_d2"))
  }

  /** Stateless novelty scoring against batch-fitted k-center seeds —
    * the out-of-distribution admission check for an embedding STREAM:
    * seeds are fitted ONCE on the curated corpus ([[kcenterFit]]) and
    * each arriving vector is assigned in-row to its nearest seed
    * (literals in the plan — no broadcast, no state). `band` places
    * the arrival on the cover-radius scale: quartiles of r² (r = the
    * final maximin distance) capped at 3, with band 4 reserved for
    * d² STRICTLY greater than r² — OUTSIDE the cover: no corpus point
    * was ever this far from every seed, the unambiguous
    * out-of-distribution signal (a point exactly at the radius is
    * inside the certificate). (A single d > r/2 flag is
    * useless in high dimension — distance concentration puts ~all mass
    * in the outer half; the quartile scale keeps the full shape.)
    * Works on a streaming OR batch frame — the projection is
    * stateless.
    *
    * @param incoming (vec_id, `vecCol` float array) — may be a stream
    * @param corpus   the batch corpus the seeds are fitted on
    * @return (vec_id, nearest_rank, d2, band 0–4)
    */
  def noveltyScore(incoming: DataFrame, corpus: DataFrame,
                   vecCol: String = "embedding",
                   k: Int = KCENTER_K): DataFrame = {
    val qv = graft.CacheRegistry.persist(
      corpus.select(col("vec_id"), expr(quantExpr(vecCol)).as("vq")))
    noveltyScoreWith(incoming, kcenterFit(qv, k), vecCol)
  }

  /** The stateless scoring core behind [[noveltyScore]] and the
    * registry-served [[noveltyScoreFromRows]]: one shared body so the
    * fitted and published paths can never drift.
    */
  private def noveltyScoreWith(incoming: DataFrame, seeds: Seq[KcSeed],
                               vecCol: String): DataFrame = {
    val r2 = seeds.last.selD2
    val seedLit = seedStructLit(seeds)
    incoming
      .select(col("vec_id"), expr(quantExpr(vecCol)).as("vq"))
      .select(col("vec_id"), expr(
        s"""array_min(transform($seedLit, e -> struct(
           |  aggregate(sequence(0, size(vq) - 1), CAST(0 AS BIGINT),
           |    (acc, d) -> acc + (vq[d] - e.sv[d]) * (vq[d] - e.sv[d]))
           |    AS d2,
           |  e.rank AS rank)))""".stripMargin).as("a"))
      .select(col("vec_id"),
        col("a.rank").cast("long").as("nearest_rank"),
        col("a.d2").as("d2"),
        // band 4 must mean STRICTLY outside the cover (d² > r²): a
        // point exactly at the radius is inside the certificate, and
        // integer-grid ties at the maximin distance are realistic
        expr(s"CASE WHEN a.d2 > ${r2}L THEN 4L " +
          s"ELSE least(3L, (4 * a.d2) div ${math.max(r2, 1L)}L) END")
          .as("band"))
  }

  /** The fitted k-center cover as model-registry rows
    * ((param, idx, value) longs — [[ModelRegistry]]'s storage shape):
    * ("sid", rank, seed vec_id), ("seld2", rank, maximin d² at
    * selection — rank k−1's value is the cover radius r²), and
    * ("sv<rank>", dim, component) for each quantized seed vector.
    * k·(d+2) rows — driver-sized by construction.
    */
  def noveltyModelRows(corpus: DataFrame, vecCol: String = "embedding",
                       k: Int = KCENTER_K): DataFrame = {
    val qv = graft.CacheRegistry.persist(
      corpus.select(col("vec_id"), expr(quantExpr(vecCol)).as("vq")))
    val seeds = kcenterFit(qv, k)
    import corpus.sparkSession.implicits._
    seeds.flatMap(s =>
      Seq(("sid", s.rank.toLong, s.id),
        ("seld2", s.rank.toLong, s.selD2)) ++
        s.vq.zipWithIndex.map { case (v, d) => (s"sv${s.rank}", d.toLong, v) })
      .toDF("param", "idx", "value")
  }

  /** Serve novelty scoring from a PUBLISHED cover: rebuild the seeds
    * from collected registry rows (bounded — the model's own row
    * count) and run the identical stateless scorer. Refuses loudly
    * when the rows are not a well-formed [[noveltyModelRows]] set.
    */
  def noveltyScoreFromRows(incoming: DataFrame,
                           rows: Array[org.apache.spark.sql.Row],
                           vecCol: String = "embedding"): DataFrame = {
    def byParam(p: String): Map[Long, Long] = {
      val rs = rows.filter(_.getString(0) == p)
      val m = rs.iterator.map(r => r.getLong(1) -> r.getLong(2)).toMap
      // toMap would keep an ARBITRARY survivor of a duplicated idx —
      // with two covers' rows in one version that serves a
      // run-dependent mixed seed set; refuse instead
      require(m.size == rs.length,
        s"registry rows duplicate '$p' indices — not a single cover")
      m
    }
    val sid = byParam("sid")
    val seld2 = byParam("seld2")
    require(sid.nonEmpty && sid.keySet == seld2.keySet &&
      sid.keySet == (0L until sid.size.toLong).toSet,
      s"registry rows are not a k-center cover: ranks ${sid.keys.toSeq.sorted}")
    val seeds = (0 until sid.size).map { r =>
      val sv = byParam(s"sv$r")
      require(sv.nonEmpty && sv.keySet == (0L until sv.size.toLong).toSet,
        s"registry rows missing seed-vector components for rank $r")
      KcSeed(r, sid(r.toLong), seld2(r.toLong),
        (0 until sv.size).map(d => sv(d.toLong)))
    }
    noveltyScoreWith(incoming, seeds, vecCol)
  }

  /** Library surface for the maximin seeding: k diverse seed rows
    * (rank, `idCol`, sel_d2) from any float-vector corpus — the
    * q_kcenter_seeds body over caller columns. The corpus projection
    * is persisted for the K passes and released with
    * [[graft.Graft.releaseCaches]].
    *
    * Returns FEWER than k rows when k exceeds the number of distinct
    * vectors: once every remaining point coincides with a chosen seed
    * (maximin d² = 0) the fit stops rather than emitting duplicate
    * seeds with sel_d2 = 0 (see [[kcenterFit]]).
    */
  def diversitySeeds(emb: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     k: Int = KCENTER_K): DataFrame = {
    require(k >= 1, s"diversitySeeds: k=$k")
    val qv = graft.CacheRegistry.persist(
      emb.select(col(idCol).cast("long").as("vec_id"),
          expr(quantExpr(vecCol)).as("vq")))
    val seeds = kcenterFit(qv, k)
    import emb.sparkSession.implicits._
    seeds.map(s => (s.rank.toLong, s.id, s.selD2))
      .toDF("rank", idCol, "sel_d2")
  }

  // ─── DuckDB oracle twins ──────────────────────────────────────────────

  /** Brute-force top-k CTE chain ending in `brute(query_id, neighbor_id,
    * rank)`.
    */
  private def bruteCtes: String =
    s"""bq AS (SELECT vec_id AS query_id, embedding AS qvec
       |       FROM embeddings WHERE vec_id < $N_QUERIES),
       |bc AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
       |bscored AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY list_cosine_similarity(qvec, cvec) DESC, neighbor_id ASC) AS rank
       |  FROM bq, bc WHERE query_id <> neighbor_id),
       |brute AS (SELECT query_id, neighbor_id, rank FROM bscored
       |  WHERE rank <= $TOP_K)""".stripMargin

  /** IVF top-k CTE chain ending in `ivf(query_id, neighbor_id, rank)`. */
  /** Assignment + probing CTEs shared by the IVF and IVF-PQ oracles:
    * `assigned(neighbor_id, cvec, cell)` + `probes(query_id, qvec,
    * cell)` over the first-N seed centroids.
    */
  private def ivfAssignCtes: String =
    s"""cent AS (SELECT vec_id AS cell, embedding AS centroid
       |         FROM embeddings WHERE vec_id < $N_CELLS),
       |assigned AS (SELECT vec_id AS neighbor_id, cvec, cell FROM (
       |  SELECT e.vec_id, e.embedding AS cvec, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding, cent.centroid) ASC, cent.cell ASC) AS arn
       |  FROM embeddings e, cent) WHERE arn = 1),
       |iq AS (SELECT vec_id AS query_id, embedding AS qvec
       |       FROM embeddings WHERE vec_id < $N_QUERIES),
       |probes AS (SELECT query_id, qvec, cell FROM (
       |  SELECT iq.query_id, iq.qvec, cent.cell,
       |    row_number() OVER (PARTITION BY iq.query_id
       |      ORDER BY list_distance(iq.qvec, cent.centroid) ASC, cent.cell ASC) AS prn
       |  FROM iq, cent) WHERE prn <= $N_PROBE)""".stripMargin

  /** SQ CTE chain through `sq(query_id, neighbor_id, rank)` — shared by
    * q_ann_sq_topk and q_ann_sq_recall; the SQL twin of [[sqTopk]]'s
    * encode→reconstruct→long_dot pipeline (HUGEINT sum = exact twin of
    * the bounded-grid long dot).
    */
  private def sqCtes: String =
    s"""qv2 AS (SELECT vec_id, pos - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |               unnest(embedding) AS v FROM embeddings)),
       |sqst AS (SELECT d, min(q) AS minq, max(q) - min(q) AS span
       |  FROM qv2 GROUP BY 1),
       |sqr AS (SELECT vec_id, qv2.d,
       |    CASE WHEN span = 0 THEN minq
       |      ELSE minq + (((q - minq) * $SQ_LEVELS // span) * span)
       |        // $SQ_LEVELS END AS r
       |  FROM qv2 JOIN sqst ON sqst.d = qv2.d),
       |sqd AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    sum(a.r * b.r) AS adot
       |  FROM sqr a JOIN sqr b ON a.d = b.d
       |  WHERE a.vec_id < $N_QUERIES AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2),
       |sq AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adot DESC, neighbor_id ASC) AS rank
       |  FROM sqd) WHERE rank <= $TOP_K)""".stripMargin

  /** SRP-LSH CTE chain through `srp(query_id, neighbor_id, rank)` —
    * shared by q_ann_srp_topk and q_ann_srp_recall.
    */
  private def srpSqlCtes: String = {
    val bandWidth = SRP_BITS / SRP_BANDS
    s"""sqv AS (SELECT vec_id, pos - 1 AS d, dim,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
       |  FROM (SELECT vec_id, len(embedding) AS dim,
       |               generate_subscripts(embedding, 1) AS pos,
       |               unnest(embedding) AS v FROM embeddings)),
       |sdots AS (SELECT vec_id, t.j,
       |    sum(q * (CASE WHEN ((1103515245 * (CAST(t.j AS BIGINT)
       |        * dim + d) + 12345) >> 16) & 1 = 1
       |      THEN 1 ELSE -1 END)) AS dot
       |  FROM sqv, range(0, $SRP_BITS) t(j) GROUP BY vec_id, t.j),
       |ssig AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << j)
       |      ELSE 0 END) AS BIGINT) AS sig
       |  FROM sdots GROUP BY vec_id),
       |sbnd AS (SELECT vec_id, b,
       |    (sig >> (b * $bandWidth)) & ${(1L << bandWidth) - 1} AS bkey
       |  FROM ssig, range(0, $SRP_BANDS) t(b)),
       |scand AS (SELECT DISTINCT q.vec_id AS query_id,
       |    c.vec_id AS neighbor_id
       |  FROM sbnd q JOIN sbnd c ON q.b = c.b AND q.bkey = c.bkey
       |  WHERE q.vec_id < $N_QUERIES AND q.vec_id <> c.vec_id),
       |sscored AS (SELECT sc.query_id, sc.neighbor_id,
       |    row_number() OVER (PARTITION BY sc.query_id
       |      ORDER BY list_cosine_similarity(qe.embedding, ce.embedding)
       |        DESC, sc.neighbor_id ASC) AS rank
       |  FROM scand sc
       |  JOIN embeddings qe ON qe.vec_id = sc.query_id
       |  JOIN embeddings ce ON ce.vec_id = sc.neighbor_id),
       |srp AS (SELECT query_id, neighbor_id, rank FROM sscored
       |  WHERE rank <= $TOP_K)""".stripMargin
  }

  private def ivfCtes: String =
    s"""$ivfAssignCtes,
       |iscored AS (SELECT p.query_id, a.neighbor_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.qvec, a.cvec) DESC, a.neighbor_id ASC) AS rank
       |  FROM probes p JOIN assigned a ON p.cell = a.cell
       |  WHERE p.query_id <> a.neighbor_id),
       |ivf AS (SELECT query_id, neighbor_id, rank FROM iscored
       |  WHERE rank <= $TOP_K)""".stripMargin

  /** PQ CTEs shared by the PQ and IVF-PQ oracles: quantized coords →
    * per-(vector, codeword, subspace) integer L2 (`pd`) → per-(vector,
    * subspace) argmin codes (`codes`).
    */
  private def pqCtes: String =
    s"""pqv AS (SELECT vec_id, pos - 1 AS d, dim,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
       |  FROM (SELECT vec_id, len(embedding) AS dim,
       |               generate_subscripts(embedding, 1) AS pos,
       |               unnest(embedding) AS v FROM embeddings)),
       |pd AS (SELECT v.vec_id, c.vec_id AS k,
       |    v.d // (v.dim // $PQ_M) AS m,
       |    CAST(sum((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS dist
       |  FROM pqv v JOIN pqv c ON v.d = c.d AND c.vec_id < $PQ_K
       |  GROUP BY 1, 2, 3),
       |codes AS (SELECT vec_id, m, k FROM (
       |  SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist ASC, k ASC) AS rn FROM pd) WHERE rn = 1)""".stripMargin

  /** SQL replay of [[KMeans.refineQuantized]]: `KM_ITERS` unrolled
    * Lloyd iterations ending in `cent{KM_ITERS}(cell, centroid)`. Each
    * iteration is argmin assignment (distance ASC, cell ASC — the
    * in-row struct-min tie-break) then the integer-quantized
    * coordinate mean; `floor(x·2²⁰)`, the exact integer sum, and the
    * two IEEE divisions are all bit-reproducible across engines.
    */
  private def kmeansCtes: String = {
    def iteration(n: Int, prev: String): String =
      s"""kasg$n AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding, c.centroid) ASC, c.cell ASC) AS rn
         |  FROM embeddings e, $prev c) WHERE rn = 1),
         |kq$n AS (SELECT cell, pos,
         |    sum(CAST(floor(CAST(v AS DOUBLE) * ${KMeans.QUANT}) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM kasg$n)
         |  GROUP BY cell, pos),
         |cent$n AS (SELECT cell,
         |    list(CAST((CAST(s AS DOUBLE) / n) / ${KMeans.QUANT} AS FLOAT) ORDER BY pos) AS centroid
         |  FROM kq$n GROUP BY cell)"""
    (s"""cent0 AS (SELECT vec_id AS cell, embedding AS centroid
        |          FROM embeddings WHERE vec_id < $N_CELLS)""" +:
      (1 to KM_ITERS).map(n => iteration(n, s"cent${n - 1}")))
      .mkString(",\n")
  }

  /** [[kmeansCtes]] with the Lloyd update computed over the hash-sampled
    * training slice (q_ann_ivf_sampled): seeds still come from the full
    * corpus (deterministic first-N), only the assignment + mean inside
    * each iteration see `ksmp`. CTE names carry an `s` prefix so both
    * chains can coexist in one query (the recall gate).
    */
  private def kmeansSampledCtes: String = {
    def iteration(n: Int, prev: String): String =
      s"""skasg$n AS (SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding, c.centroid) ASC, c.cell ASC) AS rn
         |  FROM ksmp e, $prev c) WHERE rn = 1),
         |skq$n AS (SELECT cell, pos,
         |    sum(CAST(floor(CAST(v AS DOUBLE) * ${KMeans.QUANT}) AS BIGINT)) AS s,
         |    count(*) AS n
         |  FROM (SELECT cell, generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM skasg$n)
         |  GROUP BY cell, pos),
         |scent$n AS (SELECT cell,
         |    list(CAST((CAST(s AS DOUBLE) / n) / ${KMeans.QUANT} AS FLOAT) ORDER BY pos) AS centroid
         |  FROM skq$n GROUP BY cell)"""
    (Seq(
      s"""ksmp AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE ${Dedup.hash32Sql(FIT_SAMPLE_SEED,
              "CAST(vec_id AS VARCHAR)")} % 100 < $FIT_SAMPLE_PCT)""",
      s"""scent0 AS (SELECT vec_id AS cell, embedding AS centroid
         |           FROM embeddings WHERE vec_id < $N_CELLS)""") ++
      (1 to KM_ITERS).map(n => iteration(n, s"scent${n - 1}")))
      .mkString(",\n")
  }

  /** The sampled-fit IVF pipeline as CTEs ending in `sivf` — shared by
    * q_ann_ivf_sampled and q_ann_sampled_recall.
    */
  private def sampledIvfCtes: String =
    s"""$kmeansSampledCtes,
       |saq AS (SELECT vec_id AS query_id, embedding AS qvec
       |        FROM embeddings WHERE vec_id < $N_QUERIES),
       |sassigned AS (SELECT vec_id AS neighbor_id, cvec, cell FROM (
       |  SELECT e.vec_id, e.embedding AS cvec, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding, c.centroid) ASC, c.cell ASC) AS arn
       |  FROM embeddings e, scent$KM_ITERS c) WHERE arn = 1),
       |sprobes AS (SELECT query_id, qvec, cell FROM (
       |  SELECT saq.query_id, saq.qvec, c.cell,
       |    row_number() OVER (PARTITION BY saq.query_id
       |      ORDER BY list_distance(saq.qvec, c.centroid) ASC, c.cell ASC) AS prn
       |  FROM saq, scent$KM_ITERS c) WHERE prn <= $N_PROBE),
       |sivf AS (SELECT query_id, neighbor_id, rank FROM (
       |  SELECT p.query_id, a.neighbor_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.qvec, a.cvec) DESC, a.neighbor_id ASC) AS rank
       |  FROM sprobes p JOIN sassigned a ON p.cell = a.cell
       |  WHERE p.query_id <> a.neighbor_id)
       |  WHERE rank <= $TOP_K)""".stripMargin

  /** Fitted-codebook PQ ADC pipeline SQL (q_ann_pq_kmeans /
    * q_ann_pq_sampled): slice per subspace, one quantized-Lloyd
    * iteration per (m), quantize the fitted codewords, then the same
    * pd/codes/ADC ranking. `sampled = true` computes the Lloyd update
    * over the hash-sampled slice (seeds stay the full corpus's first
    * PQ_K vectors) — one builder so the two twins can never drift.
    */
  private def pqKmeansSql(sampled: Boolean): String = {
    val sliceCte =
      if (sampled)
        s""",
           |ssv AS (SELECT vec_id, m, svec FROM sv
           |  WHERE ${Dedup.hash32Sql(FIT_SAMPLE_SEED,
                "CAST(vec_id AS VARCHAR)")} % 100 < $FIT_SAMPLE_PCT)"""
      else ""
    val fitSrc = if (sampled) "ssv" else "sv"
    s"""WITH $pqCtes,
       |sv AS (SELECT vec_id, t.m,
       |    embedding[CAST(t.m * (len(embedding) // $PQ_M) + 1 AS INT):
       |              CAST((t.m + 1) * (len(embedding) // $PQ_M) AS INT)]
       |      AS svec
       |  FROM embeddings, range(0, $PQ_M) t(m))$sliceCte,
       |scent0 AS (SELECT m, vec_id AS cell, svec AS centroid
       |  FROM sv WHERE vec_id < $PQ_K),
       |kasg AS (SELECT m, cell, svec FROM (
       |  SELECT s.m, c.cell, s.svec,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY list_distance(s.svec, c.centroid) ASC,
       |        c.cell ASC) AS rn
       |  FROM $fitSrc s JOIN scent0 c ON s.m = c.m) WHERE rn = 1),
       |kq AS (SELECT m, cell, pos,
       |    sum(CAST(floor(CAST(v AS DOUBLE) * ${KMeans.QUANT})
       |      AS BIGINT)) AS s,
       |    count(*) AS n
       |  FROM (SELECT m, cell, generate_subscripts(svec, 1) AS pos,
       |               unnest(svec) AS v FROM kasg)
       |  GROUP BY 1, 2, 3),
       |cqt AS (SELECT m, cell AS k, pos - 1 AS pd,
       |    CAST(floor(CAST(CAST((CAST(s AS DOUBLE) / n) / ${KMeans.QUANT}
       |      AS FLOAT) AS DOUBLE) * 1048576) AS BIGINT) AS qc
       |  FROM kq),
       |psv AS (SELECT vec_id, d // (dim // $PQ_M) AS m,
       |    d % (dim // $PQ_M) AS pd, q FROM pqv),
       |pd2 AS (SELECT v.vec_id, c.k, v.m,
       |    CAST(sum((v.q - c.qc) * (v.q - c.qc)) AS BIGINT) AS dist
       |  FROM psv v JOIN cqt c ON v.m = c.m AND v.pd = c.pd
       |  GROUP BY 1, 2, 3),
       |codes2 AS (SELECT vec_id, m, k FROM (
       |  SELECT vec_id, m, k, row_number() OVER (PARTITION BY vec_id, m
       |    ORDER BY dist ASC, k ASC) AS rn FROM pd2) WHERE rn = 1),
       |ad2 AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    sum(qd.dist) AS adist
       |  FROM codes2 c JOIN pd2 qd ON qd.m = c.m AND qd.k = c.k
       |  WHERE qd.vec_id < $N_QUERIES AND qd.vec_id <> c.vec_id
       |  GROUP BY 1, 2),
       |r2 AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist ASC, neighbor_id ASC) AS rank
       |  FROM ad2)
       |SELECT query_id, neighbor_id, rank FROM r2
       |WHERE rank <= $TOP_K""".stripMargin
  }

  /** DuckDB replay of the coarse-then-fine assignment (fanout 4 over
    * the 16 seed cells, probe 2 groups) — shared verbatim by
    * q_ann_twolevel_cells (broadcast descent) and q_ann_joined_cells
    * (join-based form): identical semantics, one oracle, two plans.
    */
  private lazy val coarseFineCellsSql: String =
    s"""WITH cent AS (SELECT vec_id AS cell, embedding AS centroid
       |  FROM embeddings WHERE vec_id < $N_CELLS),
       |reps AS (SELECT cell AS gid, centroid AS crep FROM cent
       |  WHERE cell % 4 = 0),
       |f2g AS (SELECT fine_cell, centroid, gid FROM (
       |  SELECT cent.cell AS fine_cell, cent.centroid, reps.gid,
       |    row_number() OVER (PARTITION BY cent.cell
       |      ORDER BY list_distance(cent.centroid, reps.crep) ASC,
       |        reps.gid ASC) AS rn
       |  FROM cent, reps) WHERE rn = 1),
       |gsel AS (SELECT vec_id, gid FROM (
       |  SELECT e.vec_id, reps.gid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding, reps.crep) ASC,
       |        reps.gid ASC) AS grn
       |  FROM embeddings e, reps) WHERE grn <= 2)
       |SELECT vec_id, cell FROM (
       |  SELECT e.vec_id, f.fine_cell AS cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding, f.centroid) ASC,
       |        f.fine_cell ASC) AS arn
       |  FROM embeddings e
       |  JOIN gsel ON gsel.vec_id = e.vec_id
       |  JOIN f2g f ON f.gid = gsel.gid) WHERE arn = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_ann_cosine_topk" ->
      s"""WITH $bruteCtes
         |SELECT query_id, neighbor_id, rank FROM brute""".stripMargin,

    "q_ann_filtered" ->
      s"""WITH fqv AS (SELECT vec_id AS query_id, embedding AS qvec,
         |    label AS qlabel
         |  FROM embeddings WHERE vec_id < $N_QUERIES),
         |fcv AS (SELECT vec_id AS neighbor_id, embedding AS cvec, label
         |  FROM embeddings),
         |fsc AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY list_cosine_similarity(qvec, cvec) DESC,
         |        neighbor_id ASC) AS rank
         |  FROM fqv JOIN fcv ON label = qlabel
         |    AND query_id <> neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM fsc
         |WHERE rank <= $TOP_K""".stripMargin,

    "q_ann_sq_topk" ->
      s"""WITH $sqCtes
         |SELECT query_id, neighbor_id, rank FROM sq""".stripMargin,

    "q_ann_sq_recall" ->
      s"""WITH $bruteCtes,
         |$sqCtes
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN sq i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    "q_knn_classify" ->
      s"""WITH $bruteCtes,
         |votes AS (SELECT b.query_id, e.label, count(*) AS v
         |  FROM brute b JOIN embeddings e ON b.neighbor_id = e.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT query_id, label, v,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY v DESC, label ASC) AS rn
         |  FROM votes)
         |SELECT query_id, label AS pred_label, v AS n_votes
         |FROM r WHERE rn = 1""".stripMargin,

    "q_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS pos,
        |  count(*) AS n_vecs,
        |  CAST(sum(CAST(floor(
        |    CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) * 1048576.0)
        |    AS BIGINT)) AS BIGINT) AS sum_q
        |FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
        |GROUP BY label, pos""".stripMargin,

    "q_centroid_similarity" ->
      """WITH q AS (SELECT label, CAST(i AS INT) AS pos,
        |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |      * 1024.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
        |c AS (SELECT label, pos, CAST(sum(qv) AS BIGINT) AS sq
        |  FROM q GROUP BY 1, 2),
        |pr AS (SELECT a.label AS la, b.label AS lb,
        |    CAST(sum(a.sq * b.sq) AS HUGEINT) AS dot0,
        |    CAST(sum(a.sq * a.sq) AS HUGEINT) AS na2,
        |    CAST(sum(b.sq * b.sq) AS HUGEINT) AS nb2
        |  FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT la, lb,
        |  CASE WHEN dot0 > 0 THEN CAST(1 AS BIGINT)
        |       WHEN dot0 < 0 THEN CAST(-1 AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS cos_sign,
        |  CASE WHEN na2 = 0 OR nb2 = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST((dot0 * dot0 * 1000000) // (na2 * nb2) AS BIGINT)
        |  END AS cos2_ppm
        |FROM pr""".stripMargin,

    "q_pq_code_balance" ->
      s"""WITH $pqCtes,
         |pc AS (SELECT m, k AS code, count(*) AS c
         |  FROM codes GROUP BY 1, 2)
         |SELECT CAST(m AS BIGINT) AS m, count(*) AS n_codes_used,
         |  CAST(max(c) * 10000 // sum(c) AS BIGINT) AS top_share_bp
         |FROM pc GROUP BY m""".stripMargin,

    "q_ivf_cell_balance" ->
      s"""WITH cent AS (SELECT vec_id AS cell, embedding AS centroid
         |         FROM embeddings WHERE vec_id < $N_CELLS),
         |assigned AS (SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, cent.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding, cent.centroid) ASC,
         |        cent.cell ASC) AS arn
         |  FROM embeddings e, cent) a WHERE arn = 1),
         |t AS (SELECT count(*) AS total FROM embeddings)
         |SELECT cell, count(*) AS n_vecs,
         |  CAST(count(*) * 10000 // total AS BIGINT) AS share_bp
         |FROM assigned, t GROUP BY cell, total""".stripMargin,

    "q_embedding_norms" ->
      s"""WITH e AS (SELECT vec_id,
         |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
         |  FROM (SELECT vec_id, unnest(embedding) AS v FROM embeddings) u),
         |per AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS norm2_q,
         |    count(*) AS dim,
         |    CAST(sum(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_zero
         |  FROM e GROUP BY 1)
         |SELECT CAST(norm2_q // ${(1L << 40) / 4} AS BIGINT)
         |    AS norm2_bucket,
         |  count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN n_zero = dim THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_zero_vecs
         |FROM per GROUP BY 1""".stripMargin,

    "q_ann_ivf_kmeans" ->
      s"""WITH $kmeansCtes,
         |kaq AS (SELECT vec_id AS query_id, embedding AS qvec
         |        FROM embeddings WHERE vec_id < $N_QUERIES),
         |kassigned AS (SELECT vec_id AS neighbor_id, cvec, cell FROM (
         |  SELECT e.vec_id, e.embedding AS cvec, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding, c.centroid) ASC, c.cell ASC) AS arn
         |  FROM embeddings e, cent$KM_ITERS c) WHERE arn = 1),
         |kprobes AS (SELECT query_id, qvec, cell FROM (
         |  SELECT kaq.query_id, kaq.qvec, c.cell,
         |    row_number() OVER (PARTITION BY kaq.query_id
         |      ORDER BY list_distance(kaq.qvec, c.centroid) ASC, c.cell ASC) AS prn
         |  FROM kaq, cent$KM_ITERS c) WHERE prn <= $N_PROBE),
         |kscored AS (SELECT p.query_id, a.neighbor_id,
         |    row_number() OVER (PARTITION BY p.query_id
         |      ORDER BY list_cosine_similarity(p.qvec, a.cvec) DESC, a.neighbor_id ASC) AS rank
         |  FROM kprobes p JOIN kassigned a ON p.cell = a.cell
         |  WHERE p.query_id <> a.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM kscored
         |WHERE rank <= $TOP_K""".stripMargin,

    "q_ann_ivf_topk" ->
      s"""WITH $ivfCtes
         |SELECT query_id, neighbor_id, rank FROM ivf""".stripMargin,

    "q_ann_ivf_sampled" ->
      s"""WITH $sampledIvfCtes
         |SELECT query_id, neighbor_id, rank FROM sivf""".stripMargin,

    "q_ann_sampled_recall" ->
      s"""WITH $bruteCtes,
         |$sampledIvfCtes
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN sivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    // SQL replay of the srp_sig LCG: same quantize (floor(x·2²⁰)), same
    // ±1 from ((1103515245·(j·dim+d)+12345) >> 16) & 1 (operand is
    // positive, so arithmetic >> ≡ logical), same integer dot — the
    // signature is bit-identical, then banding/candidates/ranking
    // mirror the Spark plan.
    "q_ann_srp_topk" ->
      s"""WITH $srpSqlCtes
         |SELECT query_id, neighbor_id, rank FROM srp""".stripMargin,

    "q_rank_fusion" ->
      s"""WITH $ivfCtes,
         |$srpSqlCtes,
         |fl AS (SELECT query_id, neighbor_id, rank FROM ivf
         |       UNION ALL
         |       SELECT query_id, neighbor_id, rank FROM srp),
         |fs AS (SELECT query_id, neighbor_id,
         |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS score
         |  FROM fl GROUP BY 1, 2),
         |fr AS (SELECT query_id, neighbor_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, neighbor_id ASC) AS rank
         |  FROM fs)
         |SELECT query_id, neighbor_id, rank, score AS rrf_score
         |FROM fr WHERE rank <= $TOP_K""".stripMargin,

    "q_ann_srp_recall" ->
      s"""WITH $bruteCtes,
         |$srpSqlCtes
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN srp s
         |  ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    // SQL replay of PQ: quantize to the shared 2⁻²⁰ grid, build every
    // (vector, codeword, subspace) integer L2 once (pd), argmin per
    // (vector, subspace) = the codes, then ADC = summing the QUERY's pd
    // rows selected by the NEIGHBOR's codes — identical integer
    // arithmetic, so ranks hash-match.
    "q_ann_pq_topk" ->
      s"""WITH $pqCtes,
         |ad AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(qd.dist) AS adist
         |  FROM codes c JOIN pd qd ON qd.m = c.m AND qd.k = c.k
         |  WHERE qd.vec_id < $N_QUERIES AND qd.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad)
         |SELECT query_id, neighbor_id, rank FROM r
         |WHERE rank <= $TOP_K""".stripMargin,

    "q_ann_pq_recall" ->
      s"""WITH $bruteCtes,
         |$pqCtes,
         |ad AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(qd.dist) AS adist
         |  FROM codes c JOIN pd qd ON qd.m = c.m AND qd.k = c.k
         |  WHERE qd.vec_id < $N_QUERIES AND qd.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |pqk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad) WHERE rank <= $TOP_K)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN pqk i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    "q_ann_ivfpq_recall" ->
      s"""WITH $bruteCtes,
         |$pqCtes,
         |$ivfAssignCtes,
         |ad AS (SELECT p.query_id, a.neighbor_id, sum(qd.dist) AS adist
         |  FROM probes p
         |  JOIN assigned a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id
         |  JOIN codes c ON c.vec_id = a.neighbor_id
         |  JOIN pd qd ON qd.vec_id = p.query_id
         |    AND qd.m = c.m AND qd.k = c.k
         |  GROUP BY 1, 2),
         |ipqk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad) WHERE rank <= $TOP_K)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN ipqk i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    // IVF-PQ: the IVF assignment/probe CTEs select WHICH rows are
    // scored; the PQ codes CTEs say HOW — adist sums the QUERY's pd
    // rows at the CANDIDATE's codes, over probed cells only.
    "q_ann_ivfpq_topk" ->
      s"""WITH $pqCtes,
         |$ivfAssignCtes,
         |ad AS (SELECT p.query_id, a.neighbor_id, sum(qd.dist) AS adist
         |  FROM probes p
         |  JOIN assigned a ON p.cell = a.cell
         |    AND p.query_id <> a.neighbor_id
         |  JOIN codes c ON c.vec_id = a.neighbor_id
         |  JOIN pd qd ON qd.vec_id = p.query_id
         |    AND qd.m = c.m AND qd.k = c.k
         |  GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad)
         |SELECT query_id, neighbor_id, rank FROM r
         |WHERE rank <= $TOP_K""".stripMargin,

    // SQL replay of the fitted-codebook PQ: slice per subspace, one
    // quantized-Lloyd iteration per (m) — the kmeansCtes shape with m
    // added to every key — then quantize the fitted codewords and run
    // the same pd/codes/ADC pipeline against them.
    "q_ann_pq_kmeans" -> pqKmeansSql(sampled = false),

    // the same pipeline with the Lloyd update over the hash-sampled
    // training slice (seeds stay the full corpus's first PQ_K vectors —
    // the q_ann_ivf_sampled convention)
    "q_ann_pq_sampled" -> pqKmeansSql(sampled = true),

    // SQL replay of rp_project: same quantize grid and LCG as the
    // srp_sig oracle above, minus the sign threshold — the summed
    // integer dot IS the output component.
    "q_rp_project" ->
      s"""WITH sqv AS (SELECT vec_id, pos - 1 AS d, dim,
         |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
         |  FROM (SELECT vec_id, len(embedding) AS dim,
         |               generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM embeddings))
         |SELECT vec_id, CAST(t.j AS INT) AS pos,
         |  CAST(sum(q * (CASE WHEN ((1103515245 * (CAST(t.j AS BIGINT)
         |      * dim + d) + 12345) >> 16) & 1 = 1
         |    THEN 1 ELSE -1 END)) AS BIGINT) AS comp
         |FROM sqv, range(0, $RP_DIMS) t(j)
         |GROUP BY vec_id, pos""".stripMargin,

    "q_ann_recall" ->
      s"""WITH $bruteCtes,
         |$ivfCtes
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN ivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    "q_ann_nprobe_sweep" -> {
      // cells ranked once to the deepest rung; per-rung scored/recall
      // CTEs are integer re-filters on probe rank — the same superset
      // rewrite as the Spark side
      val rungCtes = NPROBE_LADDER.map { p =>
        s"""sc_$p AS (SELECT pr.query_id, a.neighbor_id,
           |    row_number() OVER (PARTITION BY pr.query_id
           |      ORDER BY list_cosine_similarity(pr.qvec, a.cvec) DESC,
           |        a.neighbor_id ASC) AS rank
           |  FROM pranks pr JOIN assigned a ON pr.cell = a.cell
           |  WHERE pr.prn <= $p AND pr.query_id <> a.neighbor_id),
           |rc_$p AS (SELECT b.query_id,
           |    CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1
           |      ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
           |  FROM brute b LEFT JOIN (SELECT query_id, neighbor_id
           |      FROM sc_$p WHERE rank <= $TOP_K) s
           |    ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val rungSelects = NPROBE_LADDER.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS nprobe,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(recall_pct) * 100 // count(*) AS BIGINT)
           |    AS macro_recall_bp,
           |  CAST(min(recall_pct) AS BIGINT) AS min_recall_pct,
           |  (SELECT count(*) FROM sc_$p) AS n_scanned
           |FROM rc_$p""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bruteCtes,
         |cent AS (SELECT vec_id AS cell, embedding AS centroid
         |         FROM embeddings WHERE vec_id < $N_CELLS),
         |assigned AS (SELECT vec_id AS neighbor_id, cvec, cell FROM (
         |  SELECT e.vec_id, e.embedding AS cvec, cent.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_distance(e.embedding, cent.centroid) ASC,
         |        cent.cell ASC) AS arn
         |  FROM embeddings e, cent) WHERE arn = 1),
         |iq AS (SELECT vec_id AS query_id, embedding AS qvec
         |       FROM embeddings WHERE vec_id < $N_QUERIES),
         |pranks AS (SELECT query_id, qvec, cell, prn FROM (
         |  SELECT iq.query_id, iq.qvec, cent.cell,
         |    row_number() OVER (PARTITION BY iq.query_id
         |      ORDER BY list_distance(iq.qvec, cent.centroid) ASC,
         |        cent.cell ASC) AS prn
         |  FROM iq, cent) WHERE prn <= $N_PROBE),
         |$rungCtes
         |$rungSelects""".stripMargin
    },

    "q_embedding_neardup" ->
      s"""WITH $embNearDupCtes
         |SELECT vec_a, vec_b FROM evp""".stripMargin,

    "q_embedding_clusters" ->
      s"""WITH RECURSIVE $embNearDupCtes,
         |ee AS (SELECT vec_a AS src, vec_b AS dst FROM evp
         |       UNION SELECT vec_b, vec_a FROM evp),
         |reach AS (SELECT src AS id, src AS r FROM ee
         |          UNION
         |          SELECT reach.id, ee.dst FROM reach
         |            JOIN ee ON ee.src = reach.r),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM cc GROUP BY cluster_id)
         |SELECT cc.id AS vec_id, cc.cluster_id, csz.cluster_sz
         |FROM cc JOIN csz USING (cluster_id)""".stripMargin,

    "q_dbscan" ->
      s"""WITH RECURSIVE ${blockedPairCtes(DBSCAN_EPS)},
         |ee AS (SELECT vec_a AS src, vec_b AS dst FROM evp
         |       UNION SELECT vec_b, vec_a FROM evp),
         |deg AS (SELECT src, count(*) AS d FROM ee GROUP BY src),
         |core AS (SELECT src AS id FROM deg
         |         WHERE d >= ${DBSCAN_MIN_PTS - 1}),
         |cce AS (SELECT ee.src, ee.dst FROM ee
         |  JOIN core c1 ON ee.src = c1.id
         |  JOIN core c2 ON ee.dst = c2.id),
         |reach AS (SELECT src AS id, src AS r FROM cce
         |          UNION
         |          SELECT reach.id, cce.dst FROM reach
         |            JOIN cce ON cce.src = reach.r),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |corecl AS (SELECT core.id,
         |    coalesce(cc.cluster_id, core.id) AS cluster_id
         |  FROM core LEFT JOIN cc ON cc.id = core.id),
         |bordercl AS (SELECT ee.src AS id,
         |    min(corecl.cluster_id) AS cluster_id
         |  FROM ee JOIN corecl ON ee.dst = corecl.id
         |  WHERE ee.src NOT IN (SELECT id FROM core)
         |  GROUP BY ee.src)
         |SELECT e.vec_id,
         |  CASE WHEN corecl.id IS NOT NULL THEN 'core'
         |       WHEN bordercl.id IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role,
         |  coalesce(corecl.cluster_id, bordercl.cluster_id,
         |           CAST(-1 AS BIGINT)) AS cluster_id
         |FROM e
         |LEFT JOIN corecl ON corecl.id = e.vec_id
         |LEFT JOIN bordercl ON bordercl.id = e.vec_id""".stripMargin,

    "q_kcenter_seeds" -> {
      val rows = (1 until KCENTER_K).map(t =>
        s"UNION ALL SELECT CAST($t AS BIGINT), (SELECT sid FROM ks$t), " +
          s"(SELECT d2 FROM ks$t)").mkString("\n")
      s"""WITH $kcenterCtes
         |SELECT CAST(0 AS BIGINT) AS rank,
         |  (SELECT sid FROM ks0) AS vec_id,
         |  CAST(0 AS BIGINT) AS sel_d2
         |$rows""".stripMargin
    },

    "q_kcenter_coverage" -> kcenterCoverageSql(kcenterCtes),

    "q_kcenter_sampled" -> kcenterCoverageSql(kcenterSampledCtes),

    "q_cluster_purity" ->
      s"""WITH RECURSIVE $embNearDupCtes,
         |ee AS (SELECT vec_a AS src, vec_b AS dst FROM evp
         |       UNION SELECT vec_b, vec_a FROM evp),
         |reach AS (SELECT src AS id, src AS r FROM ee
         |          UNION
         |          SELECT reach.id, ee.dst FROM reach
         |            JOIN ee ON ee.src = reach.r),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM cc GROUP BY cluster_id),
         |wl AS (SELECT cc.id, cc.cluster_id, csz.cluster_sz, emb.label
         |  FROM cc JOIN csz USING (cluster_id)
         |  JOIN embeddings emb ON emb.vec_id = cc.id % $DUP_OFFSET),
         |pl AS (SELECT cluster_id, cluster_sz, label, count(*) AS c
         |  FROM wl GROUP BY 1, 2, 3),
         |mj AS (SELECT cluster_id, cluster_sz, label, c FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY c DESC, label ASC) AS rn FROM pl)
         |  WHERE rn = 1)
         |SELECT cluster_id, cluster_sz, label AS majority_label,
         |  CAST(c AS BIGINT) AS n_majority,
         |  CAST(c * 10000 // cluster_sz AS BIGINT) AS purity_bp
         |FROM mj""".stripMargin,

    "q_semdedup" ->
      s"""WITH RECURSIVE $embNearDupCtes,
         |ee AS (SELECT vec_a AS src, vec_b AS dst FROM evp
         |       UNION SELECT vec_b, vec_a FROM evp),
         |reach AS (SELECT src AS id, src AS r FROM ee
         |          UNION
         |          SELECT reach.id, ee.dst FROM reach
         |            JOIN ee ON ee.src = reach.r),
         |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM cc GROUP BY cluster_id),
         |mem AS (SELECT cc.id AS vec_id, cc.cluster_id, csz.cluster_sz
         |  FROM cc JOIN csz USING (cluster_id)),
         |qvs AS (SELECT e.vec_id, CAST(i AS INT) AS pos,
         |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
         |      * 1024.0 + 0.5) AS BIGINT) AS qv
         |  FROM e, unnest(range(0, len(embedding))) AS u(i)),
         |mq AS (SELECT mem.vec_id, mem.cluster_id, mem.cluster_sz,
         |    qvs.pos, qvs.qv
         |  FROM mem JOIN qvs ON qvs.vec_id = mem.vec_id),
         |sm AS (SELECT cluster_id, pos, CAST(sum(qv) AS BIGINT) AS sq
         |  FROM mq GROUP BY 1, 2),
         |ky AS (SELECT mq.cluster_id, mq.cluster_sz, mq.vec_id,
         |    CAST(sum(mq.qv * sm.sq) AS HUGEINT) AS dot0,
         |    CAST(sum(mq.qv * mq.qv) AS HUGEINT) AS na2,
         |    CAST(sum(sm.sq * sm.sq) AS HUGEINT) AS nc2
         |  FROM mq JOIN sm ON sm.cluster_id = mq.cluster_id
         |    AND sm.pos = mq.pos
         |  GROUP BY 1, 2, 3),
         |kk AS (SELECT cluster_id, cluster_sz, vec_id,
         |    CASE WHEN na2 = 0 OR nc2 = 0 THEN CAST(0 AS BIGINT)
         |      WHEN dot0 < 0 THEN
         |        CAST(-((dot0 * dot0 * 1000000) // (na2 * nc2))
         |          AS BIGINT)
         |      ELSE CAST((dot0 * dot0 * 1000000) // (na2 * nc2)
         |        AS BIGINT)
         |    END AS key_ppm FROM ky),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY key_ppm ASC, vec_id ASC) AS rn FROM kk)
         |SELECT cluster_id, cluster_sz, vec_id AS keep_vec_id,
         |  key_ppm AS keep_cos2_ppm, cluster_sz - 1 AS n_dropped
         |FROM rk WHERE rn = 1""".stripMargin,

    "q_mmr_diversify" -> {
      def cos2(dot: String, na: String, nb: String): String =
        s"""CASE WHEN $na = 0 OR $nb = 0 THEN CAST(0 AS BIGINT)
           |      WHEN $dot < 0 THEN CAST(-(($dot * $dot * 1000000)
           |        // ($na * $nb)) AS BIGINT)
           |      ELSE CAST(($dot * $dot * 1000000) // ($na * $nb)
           |        AS BIGINT) END""".stripMargin
      val rounds = (2 to MMR_K).map { r =>
        s"""rem$r AS (SELECT c.query_id, c.cand_id, c.rel FROM mcand c
           |  WHERE NOT EXISTS (SELECT 1 FROM selu${r - 1} s
           |    WHERE s.query_id = c.query_id
           |      AND s.cand_id = c.cand_id)),
           |ms$r AS (SELECT m.query_id, m.cand_id, m.rel,
           |    max(p.sim) AS ms
           |  FROM rem$r m JOIN mps p ON p.query_id = m.query_id
           |    AND p.a = m.cand_id
           |  JOIN selu${r - 1} s ON s.query_id = p.query_id
           |    AND s.cand_id = p.b
           |  GROUP BY 1, 2, 3),
           |pick$r AS (SELECT query_id, cand_id,
           |    CAST(7 * rel - 3 * ms AS BIGINT) AS score FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY 7 * rel - 3 * ms DESC, cand_id ASC) AS rn
           |    FROM ms$r) WHERE rn = 1),
           |selu$r AS (SELECT * FROM selu${r - 1} UNION ALL
           |  SELECT query_id, cand_id, $r AS rank, score FROM pick$r)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH qcq AS (SELECT vec_id, CAST(i AS INT) AS pos,
         |    CAST(floor(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
         |      * 1024.0 + 0.5) AS BIGINT) AS qv
         |  FROM embeddings, unnest(range(0, len(embedding))) AS u(i)),
         |mnorm AS (SELECT vec_id, CAST(sum(qv * qv) AS HUGEINT) AS n2
         |  FROM qcq GROUP BY 1),
         |mdot AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         |    CAST(sum(c.qv * q.qv) AS HUGEINT) AS dot
         |  FROM qcq c JOIN qcq q ON q.pos = c.pos
         |  WHERE q.vec_id < $N_QUERIES AND c.vec_id <> q.vec_id
         |  GROUP BY 1, 2),
         |mrel AS (SELECT query_id, cand_id,
         |    ${cos2("dot", "nq.n2", "nc.n2")} AS rel
         |  FROM mdot JOIN mnorm nq ON nq.vec_id = mdot.query_id
         |  JOIN mnorm nc ON nc.vec_id = mdot.cand_id),
         |mcand AS (SELECT query_id, cand_id, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cand_id ASC) AS rn FROM mrel)
         |  WHERE rn <= $MMR_C),
         |mpd AS (SELECT ca.query_id, ca.cand_id AS a, cb.cand_id AS b,
         |    CAST(sum(x.qv * y.qv) AS HUGEINT) AS dot
         |  FROM mcand ca JOIN mcand cb ON cb.query_id = ca.query_id
         |    AND cb.cand_id <> ca.cand_id
         |  JOIN qcq x ON x.vec_id = ca.cand_id
         |  JOIN qcq y ON y.vec_id = cb.cand_id AND y.pos = x.pos
         |  GROUP BY 1, 2, 3),
         |mps AS (SELECT query_id, a, b,
         |    ${cos2("dot", "na.n2", "nb.n2")} AS sim
         |  FROM mpd JOIN mnorm na ON na.vec_id = mpd.a
         |  JOIN mnorm nb ON nb.vec_id = mpd.b),
         |pick1 AS (SELECT query_id, cand_id,
         |    CAST(7 * rel AS BIGINT) AS score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cand_id ASC) AS rn FROM mcand)
         |  WHERE rn = 1),
         |selu1 AS (SELECT query_id, cand_id, 1 AS rank, score
         |  FROM pick1),
         |$rounds
         |SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, score
         |FROM selu$MMR_K""".stripMargin
    },

    "q_ann_twolevel_cells" -> coarseFineCellsSql,

    // the joined strategy must reproduce the descent bit-for-bit, so
    // it faces the IDENTICAL replay — one oracle, two physical plans
    "q_ann_joined_cells" -> coarseFineCellsSql,

    "q_ann_dim_ladder" -> {
      // prefix-sim rank per rung over the same bq×bc cross as brute;
      // per-rung recall joins the full-dim truth exactly like the
      // nprobe sweep's rung CTEs
      val rungCtes = DIM_LADDER.map { d =>
        s"""dsc_$d AS (SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY list_cosine_similarity(qvec[1:$d], cvec[1:$d]) DESC,
           |        neighbor_id ASC) AS rank
           |  FROM bq, bc WHERE query_id <> neighbor_id),
           |drc_$d AS (SELECT b.query_id,
           |    CAST(sum(CASE WHEN s.neighbor_id IS NOT NULL THEN 1
           |      ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
           |  FROM brute b LEFT JOIN (SELECT query_id, neighbor_id
           |      FROM dsc_$d WHERE rank <= $TOP_K) s
           |    ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      val rungSelects = DIM_LADDER.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dims,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(recall_pct) * 100 // count(*) AS BIGINT)
           |    AS macro_recall_bp,
           |  CAST(min(recall_pct) AS BIGINT) AS min_recall_pct
           |FROM drc_$d""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bruteCtes,
         |$rungCtes
         |$rungSelects""".stripMargin
    },

    "q_ann_mrr" ->
      s"""WITH $bruteCtes,
         |$ivfCtes
         |SELECT b.query_id, b.neighbor_id AS true_nn,
         |  CAST(COALESCE(i.rank, 0) AS BIGINT) AS found_rank,
         |  CAST(CASE WHEN i.rank IS NULL THEN 0
         |    ELSE 10000 // i.rank END AS BIGINT) AS rr_bp
         |FROM brute b LEFT JOIN ivf i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |WHERE b.rank = 1""".stripMargin,

    "q_hubness" ->
      s"""WITH $bruteCtes
         |SELECT neighbor_id, count(*) AS n_lists,
         |  CAST(min(rank) AS BIGINT) AS best_rank
         |FROM brute GROUP BY neighbor_id""".stripMargin,

    "q_top_eigvec" -> eigSql,

    "q_anisotropy_ratio" ->
      s"""WITH $eigCtes,
         |ur AS (SELECT qc.vec_id, CAST(sum(qc.q * vf.v) AS HUGEINT) AS u
         |  FROM qc JOIN v$EIG_ITERS vf USING (pos) GROUP BY 1),
         |a AS (SELECT count(*) AS n_vecs, sum(u * u) AS num FROM ur),
         |t AS (SELECT CAST(sum(q * q) AS HUGEINT) AS trace FROM qc),
         |vs AS (SELECT count(*) AS dims,
         |    CAST(sum(v * v) AS HUGEINT) AS den FROM v$EIG_ITERS)
         |SELECT CAST(a.n_vecs AS BIGINT) AS n_vecs,
         |  CAST(vs.dims AS BIGINT) AS dims,
         |  CAST(a.num * vs.dims * 10000 // (vs.den * t.trace) AS BIGINT)
         |    AS anisotropy_bp
         |FROM a, t, vs""".stripMargin,

    // ADC coarse top-RERANK_C (the q_ann_pq_topk pipeline with the
    // wider cut), then exact cosine re-rank of only those candidates
    "q_ann_pq_rerank" ->
      s"""WITH $pqCtes,
         |ad AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(qd.dist) AS adist
         |  FROM codes c JOIN pd qd ON qd.m = c.m AND qd.k = c.k
         |  WHERE qd.vec_id < $N_QUERIES AND qd.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |rcand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad) WHERE rank <= $RERANK_C),
         |rr AS (SELECT rc.query_id, rc.neighbor_id,
         |    row_number() OVER (PARTITION BY rc.query_id
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |        DESC, rc.neighbor_id ASC) AS rank
         |  FROM rcand rc
         |  JOIN embeddings q ON q.vec_id = rc.query_id
         |  JOIN embeddings n ON n.vec_id = rc.neighbor_id)
         |SELECT query_id, neighbor_id, rank FROM rr
         |WHERE rank <= $TOP_K""".stripMargin,

    "q_ann_rerank_recall" ->
      s"""WITH $bruteCtes,
         |$pqCtes,
         |ad AS (SELECT qd.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    sum(qd.dist) AS adist
         |  FROM codes c JOIN pd qd ON qd.m = c.m AND qd.k = c.k
         |  WHERE qd.vec_id < $N_QUERIES AND qd.vec_id <> c.vec_id
         |  GROUP BY 1, 2),
         |rcand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY adist ASC, neighbor_id ASC) AS rank
         |  FROM ad) WHERE rank <= $RERANK_C),
         |rrk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT rc.query_id, rc.neighbor_id,
         |    row_number() OVER (PARTITION BY rc.query_id
         |      ORDER BY list_cosine_similarity(q.embedding, n.embedding)
         |        DESC, rc.neighbor_id ASC) AS rank
         |  FROM rcand rc
         |  JOIN embeddings q ON q.vec_id = rc.query_id
         |  JOIN embeddings n ON n.vec_id = rc.neighbor_id)
         |  WHERE rank <= $TOP_K)
         |SELECT b.query_id,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 100 // $TOP_K AS BIGINT) AS recall_pct
         |FROM brute b LEFT JOIN rrk i
         |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |GROUP BY b.query_id""".stripMargin,

    // integer-grid assignment replay: first-k centroid panels via
    // cell < k, exact integer L2² per (vector, centroid) pair
    "q_kmeans_elbow" ->
      s"""WITH eqv AS (SELECT vec_id, pos - 1 AS d,
         |    CAST(floor(CAST(v AS DOUBLE) * 1024.0 + 0.5) AS BIGINT) AS q
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM embeddings)),
         |ed AS (SELECT v.vec_id, c.vec_id AS cell,
         |    CAST(sum((v.q - c.q) * (v.q - c.q)) AS BIGINT) AS d2
         |  FROM eqv v JOIN eqv c ON v.d = c.d
         |    AND c.vec_id < ${ELBOW_KS.max}
         |  GROUP BY 1, 2),
         |ek AS (SELECT kk FROM unnest([${ELBOW_KS.mkString(", ")}]) AS t(kk)),
         |em AS (SELECT d.vec_id, k.kk AS k, min(d2) AS d2
         |  FROM ed d JOIN ek k ON d.cell < k.kk
         |  GROUP BY 1, 2)
         |SELECT k, count(*) AS n_vectors,
         |  CAST(sum(d2) AS BIGINT) AS inertia
         |FROM em GROUP BY 1""".stripMargin,

    // offset-grid centroid replay: sum/count per (label, dim) with the
    // +1024 shift keeping the integer mean floor-division exact
    "q_silhouette" ->
      s"""WITH sq AS (SELECT vec_id, pos - 1 AS d,
         |    CAST(floor(CAST(v AS DOUBLE) * 1024.0 + 0.5) AS BIGINT) AS q
         |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM embeddings)),
         |sc AS (SELECT vec_id AS cell, d, q AS cq FROM sq
         |       WHERE vec_id < $N_CELLS),
         |sd AS (SELECT v.vec_id, c.cell,
         |    CAST(sum((v.q - c.cq) * (v.q - c.cq)) AS BIGINT) AS d2
         |  FROM sq v JOIN sc c ON v.d = c.d
         |  GROUP BY 1, 2),
         |sr AS (SELECT vec_id, cell, d2,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2 ASC, cell ASC) AS rn
         |  FROM sd),
         |sab AS (SELECT a.vec_id, a.cell, a.d2 AS a2, b.d2 AS b2
         |  FROM sr a JOIN sr b ON a.vec_id = b.vec_id
         |    AND a.rn = 1 AND b.rn = 2),
         |ssc AS (SELECT cell,
         |    CASE WHEN b2 = 0 THEN CAST(0 AS BIGINT)
         |         ELSE (b2 - a2) * 1000000 // b2 END AS s_ppm FROM sab)
         |SELECT cell, count(*) AS n_members,
         |  CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm,
         |  CAST(sum(s_ppm) // count(*) AS BIGINT) AS mean_s_ppm
         |FROM ssc GROUP BY cell""".stripMargin,

    "q_label_outliers" ->
      s"""WITH loq AS (SELECT vec_id, label, pos - 1 AS d,
         |    CAST(floor(CAST(v AS DOUBLE) * 1024.0 + 0.5) AS BIGINT)
         |      + 1024 AS q
         |  FROM (SELECT vec_id, label,
         |               generate_subscripts(embedding, 1) AS pos,
         |               unnest(embedding) AS v FROM embeddings)),
         |loc AS (SELECT label, d,
         |    CAST(sum(q) AS BIGINT) // count(*) AS cv
         |  FROM loq GROUP BY 1, 2),
         |lod AS (SELECT q.vec_id, q.label,
         |    CAST(sum((q.q - c.cv) * (q.q - c.cv)) AS BIGINT) AS d2
         |  FROM loq q JOIN loc c ON q.label = c.label AND q.d = c.d
         |  GROUP BY 1, 2),
         |lor AS (SELECT label, vec_id, d2,
         |    row_number() OVER (PARTITION BY label
         |      ORDER BY d2 DESC, vec_id ASC) AS rank
         |  FROM lod)
         |SELECT label, vec_id, rank, d2 FROM lor
         |WHERE rank <= $OUT_K""".stripMargin
  )

  /** The k-center oracle chain: kq = the 2⁻¹⁰ quantized long-form
    * corpus; ks0 = min vec_id; then per round t, kd_t = d² of every
    * point to the newest seed, km_t = running min-d² to the seed set,
    * ks_t = the maximin argmax (ORDER BY d2 DESC, vec_id ASC LIMIT 1)
    * — the [[kcenterFit]] loop unrolled exactly.
    */
  /** The shared coverage rollup over whichever seed chain is supplied
    * (full-fit or slice-fit): assign every kq point to its nearest
    * seed (d2 ASC, rank ASC ties) and aggregate per seed.
    */
  private def kcenterCoverageSql(ctes: String): String =
    s"""WITH $ctes,
       |$kcenterAssignCtes
       |SELECT rank AS seed_rank, count(*) AS n_members,
       |  max(d2) AS max_d2, CAST(sum(d2) AS BIGINT) AS sum_d2
       |FROM kassign WHERE rn = 1 GROUP BY 1""".stripMargin

  /** The q_stream_novelty oracle: the full-fit seed chain, every
    * corpus point assigned to its nearest seed (d2 ASC, rank ASC),
    * and the cover-radius quartile band against the final maximin r²
    * — the batch ground truth the streaming scorer must reproduce.
    */
  private[graft] def streamNoveltySql: String = {
    val r2 = s"(SELECT d2 FROM ks${KCENTER_K - 1})"
    s"""WITH $kcenterCtes,
       |$kcenterAssignCtes
       |SELECT vec_id, rank AS nearest_rank, d2,
       |  CAST(CASE WHEN d2 > $r2 THEN 4
       |    ELSE least(3, (4 * d2) // greatest($r2, 1)) END
       |    AS BIGINT) AS band
       |FROM kassign WHERE rn = 1""".stripMargin
  }

  /** ka/kdist/kassign: every kq point's distance to every fitted seed
    * and the (d2 ASC, rank ASC) nearest assignment — the shared
    * assignment chain of the coverage rollups and the novelty scorer.
    */
  private def kcenterAssignCtes: String = {
    val all = (s"SELECT CAST(0 AS BIGINT) AS rank, sid FROM ks0" +:
      (1 until KCENTER_K).map(t =>
        s"SELECT CAST($t AS BIGINT), sid FROM ks$t"))
      .mkString("\n  UNION ALL ")
    s"""ka AS ($all),
       |kdist AS (SELECT a.vec_id, s.rank,
       |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
       |  FROM kq a, ka s, kq b
       |  WHERE b.vec_id = s.sid AND a.d = b.d
       |  GROUP BY 1, 2),
       |kassign AS (SELECT vec_id, rank, d2,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2 ASC, rank ASC) AS rn
       |  FROM kdist)""".stripMargin
  }

  private def kcenterCtes: String = kcenterCtesOver("kq", "")

  /** [[kcenterCtes]] with the FIT restricted to the deterministic
    * md5-bucket slice (kqf) — the q_kcenter_sampled twin; coverage
    * consumers still read the full kq.
    */
  private def kcenterSampledCtes: String =
    kcenterCtesOver("kqf",
      s"""kqf AS (SELECT * FROM kq
         |  WHERE ${Dedup.hash32Sql(KC_SAMPLE_SEED,
             "CAST(vec_id AS VARCHAR)")} % 100 < $KC_SAMPLE_PCT),"""
        .stripMargin)

  private def kcenterCtesOver(fit: String, extraCte: String): String = {
    val rounds = (1 until KCENTER_K).map { t =>
      val minD2 = if (t == 1) "d.d2"
        else "CASE WHEN d.d2 < m.d2 THEN d.d2 ELSE m.d2 END"
      val joinPrev = if (t == 1) ""
        else s" JOIN km${t - 1} m ON d.vec_id = m.vec_id"
      s"""kd$t AS (SELECT a.vec_id,
         |    CAST(sum((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS d2
         |  FROM $fit a JOIN kq b ON a.d = b.d
         |    AND b.vec_id = (SELECT sid FROM ks${t - 1})
         |  GROUP BY 1),
         |km$t AS (SELECT d.vec_id, $minD2 AS d2
         |  FROM kd$t d$joinPrev),
         |ks$t AS (SELECT vec_id AS sid, d2 FROM km$t
         |  ORDER BY d2 DESC, vec_id ASC LIMIT 1)""".stripMargin
    }.mkString(",\n")
    s"""kq AS (SELECT vec_id, pos - 1 AS d,
       |    CAST(floor(CAST(v AS DOUBLE) * 1024.0 + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |        unnest(embedding) AS v FROM embeddings)),
       |$extraCte
       |ks0 AS (SELECT min(vec_id) AS sid FROM $fit),
       |$rounds""".stripMargin
  }

  /** q_top_eigvec oracle: EIG_ITERS integer power iterations unrolled
    * as chained CTEs — HUGEINT raw sums, sign-split truncating division
    * for the max-abs rescale, same arithmetic as the Spark loop.
    */
  /** CTE chain through `v{EIG_ITERS}(pos, v)` — the unrolled integer
    * power iteration shared by the eigvec and anisotropy oracles.
    */
  private def eigCtes: String = {
    // one half-step: raw HUGEINT sum keyed by `key`, then the sign-split
    // max-abs rescale emitting column `outCol`
    def half(out: String, key: String, joinTab: String, joinKey: String,
             joinCol: String, outCol: String): String =
      s"""${out}r AS (SELECT qc.$key, CAST(sum(qc.q * $joinTab.$joinCol)
         |    AS HUGEINT) AS r
         |  FROM qc JOIN $joinTab USING ($joinKey) GROUP BY 1),
         |${out}m AS (SELECT greatest(max(abs(r)), 1) AS m FROM ${out}r),
         |$out AS (SELECT $key, CAST(CASE WHEN r < 0
         |    THEN -((-r) * 1048576 // m)
         |    ELSE r * 1048576 // m END AS BIGINT) AS $outCol
         |  FROM ${out}r, ${out}m)""".stripMargin
    val iters = (1 to EIG_ITERS).map { i =>
      half(s"u$i", "vec_id", s"v${i - 1}", "pos", "v", "u") + ",\n" +
        half(s"v$i", "pos", s"u$i", "vec_id", "u", "v")
    }.mkString(",\n")
    s"""qc AS (SELECT vec_id, pos - 1 AS pos,
       |    CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT) AS q
       |  FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       |        unnest(embedding) AS v FROM embeddings)),
       |v0 AS (SELECT DISTINCT pos, CAST(1048576 AS BIGINT) AS v FROM qc),
       |$iters""".stripMargin
  }

  private def eigSql: String =
    s"""WITH $eigCtes
       |SELECT pos, v AS comp FROM v$EIG_ITERS""".stripMargin

  /** CTE chain ending in `evp(vec_a, vec_b)` — the cell-blocked,
    * cosine-verified near-dup pairs over the duplicate-augmented
    * corpus; shared by q_embedding_neardup and q_embedding_clusters.
    */
  private def embNearDupCtes: String = blockedPairCtes(NEARDUP_THRESHOLD)

  /** CTE chain ending in `evp(vec_a, vec_b)` — the cell-blocked,
    * cosine-≥-threshold pairs over the duplicate-augmented corpus; the
    * SQL twin of [[blockedCosinePairs]], shared by the near-dup family
    * (NEARDUP_THRESHOLD) and q_dbscan (DBSCAN_EPS).
    */
  private def blockedPairCtes(threshold: Double): String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |           UNION ALL
       |           SELECT vec_id + $DUP_OFFSET, embedding FROM embeddings
       |           WHERE vec_id < $DUP_COPIES),
       |nc AS (SELECT greatest($MIN_CELLS, CAST(floor(sqrt(count(*))) AS BIGINT)) AS n_cells
       |       FROM e),
       |cent AS (SELECT vec_id AS cell, embedding AS centroid
       |         FROM embeddings, nc WHERE vec_id < n_cells),
       |assigned AS (SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, cent.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_distance(e.embedding, cent.centroid) ASC, cent.cell ASC) AS rn
       |  FROM e, cent) WHERE rn = 1),
       |evp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM assigned a JOIN assigned b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= $threshold)"""
      .stripMargin
}
