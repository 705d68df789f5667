package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Training-data text operators over the `documents` table: stats,
  * quality, language-ID, fingerprints, and the dedup family (exact,
  * MinHash signatures, LSH candidate pairs, SimHash, exact Jaccard).
  *
  * Every query here is oracle-checked: the DuckDB SQL twins (including
  * the MinHash/SimHash signatures) are generated programmatically so
  * Spark and SQL stay structurally in lock-step.
  */
object TextQueries {

  private val K = 3            // shingle size
  private val NUM_HASHES = 16  // minhash signature width
  private val BANDS = 4        // LSH bands (rows per band = 4)
  private val MAX_DF = 100     // shingle document-frequency cut (jaccard)
  private val THRESH = 60      // jaccard threshold, percent
  private val MAX_HAMMING = 3  // simhash near-dup hamming radius
  /** Porter-lite suffix stripper over a token column named `tok` —
    * shared VERBATIM by the Spark expr and the DuckDB oracle (LIKE +
    * substr only; no regex, no lookbehind). Minimum-stem guards keep
    * short tokens intact; '%ss' is exempt from the plural rule
    * ("class" stays "class").
    */
  private val STEM_CASE =
    """CASE
      | WHEN length(tok) >= 6 AND tok LIKE '%ing'
      |   THEN substr(tok, 1, length(tok) - 3)
      | WHEN length(tok) >= 5 AND (tok LIKE '%ed' OR tok LIKE '%es'
      |     OR tok LIKE '%ly')
      |   THEN substr(tok, 1, length(tok) - 2)
      | WHEN length(tok) >= 4 AND tok LIKE '%s' AND tok NOT LIKE '%ss'
      |   THEN substr(tok, 1, length(tok) - 1)
      | ELSE tok END""".stripMargin

  // q_hard_negatives floor, pct. 0 = "any nonzero shingle overlap" (the
  // verify join already drops pure signature-collision pairs): on this
  // corpus planted near-dups are high-similarity copies, so the whole
  // rejected-candidate tail sits under ~3 % Jaccard — a textbook
  // [40, 60) band would be empty. Production corpora with a real
  // similarity continuum raise this to taste.
  private val HN_LO = 0
  private val CONTAIN_T = 90   // containment threshold, percent
  private val ABLATION_THRESHOLDS = Seq(50, 60, 70, 80, 90) // dedup ablation ladder
  private val TUNING_BANDS = Seq(1, 2, 4, 8, 16) // q_lsh_tuning band splits
  private val PR_ITERS = 5     // q_pagerank_centrality power iterations
  private val LPA_ITERS = 3    // q_label_propagation synchronous rounds
  private val PREFIX_K = 8     // q_prefix_dup shared-header token width
  private val CURR_SEED = 31   // q_curriculum_order within-band hash
  private val BPE_SAMPLE_SEED = 71    // q_bpe_sampled trainer slice
  private val BPE_SAMPLE_PCT = 25     // ~25 % of the corpus trains
  private val BPE_SAMPLED_MERGES = 6  // merges the sampled gate learns
  private val CURR_SHARDS = 4  // q_curriculum_order shards per band
  val LOGIT_FIT_ITERS = 16        // q_logit_fit GD steps (oracle-unrolled)
  // z-cache sizing: ~4M ≈ 50 B rows per partition ≈ 200 MB (guide §2.2
  // band); the descent scans this cache iters+3 times, so its
  // partition count is derived from DATA SIZE, not the core count
  val LOGIT_PART_ROWS = 4000000L
  private val LOGIT_FIT_SLOPE = 1000000L  // q_logit_fit hard-sigmoid scale:
                                          // p_ppm = clamp(5e5 + s div SLOPE)
  private val LOGIT_FIT_ZCLAMP = 20000L   // q_logit_fit winsorized z bound
                                          // (±20 sd — keeps every BIGINT
                                          // product provably in range)
  private[operators] val LOGIT_SAMPLE_SEED = 83      // q_logit_fit_sampled trainer slice
  private[operators] val LOGIT_SAMPLE_PCT = 25      // ~25 % of the corpus fits
  val MAXCOV_K = 8     // q_maxcover_docs: greedy picks
  val MAXCOV_V = 100   // q_maxcover_docs: coverage vocabulary
  val MAXCOV_CAP = 1   // q_maxcover_quota: max picks per source
  val MAXCOV_SAMPLE_SEED = 59 // q_maxcover_sampled fit slice
  val MAXCOV_SAMPLE_PCT = 25  // ~25 % of the corpus fits
  val UNC_K = 16       // q_uncertainty_sample: labeling-queue size
  val REFIT_K = 64     // q_logit_refit: labeling budget fed back
  private val MIN_RUN = 12     // dup-span floor: spans >= 14 tokens, past chance-collision runs
  private val VOCAB_V = 10     // vocab size for the OOV-coverage signal
  private val MIN_COOC = 5     // co-occurrence support floor (PMI table)
  private val MAX_LEV = 10     // edit-distance near-dup radius (80-char prefix)
  private val LEV_PREFIX = 80  // chars of prefix the edit distance sees
  private val LEV_BLOCK = 64   // chars per length-bucket blocking key
  private val KCORE_K = 2      // q_kcore minimum corroborating degree
  private val KCORE_ROUNDS = 3 // q_kcore fixed peel rounds (oracle-unrolled)
  private val GROWTH_BUCKETS = 10 // q_vocab_growth arrival-order deciles
  private val ZIPF_TOP = 64    // q_zipf_slope head width (fit window)
  private val WEDGE_CAP = 16   // q_link_prediction center-degree cap
  private val AFF_MIN_SUPPORT = 5 // q_source_term_affinity tf floor
  private val AFF_TOP = 5      // q_source_term_affinity terms per source
  private val AFF_TOP_HEADROOM = 3 // extra heap slots absorb h collisions
  private val BM25_K1_C = 120  // q_bm25_topk k1 = 1.2 in centiunits
  private val BM25_B_C = 75    // q_bm25_topk b = 0.75 in centiunits
  private val BM25_TOP = 20    // q_bm25_topk result size
  private val BM25_QUERY = Seq("spark", "vector", "window", "merge")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── token/char statistics (integers only → hash-stable) ────────────
    "q_text_stats" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      d.select(col("doc_id"),
        length(col("text")).as("n_chars"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"),
        TextFunctions.alphaCount(col("text")).as("n_alpha"),
        TextFunctions.punctCount(col("text")).as("n_punct"),
        TextFunctions.stopwordCount(col("text")).as("n_stopwords"))
    },

    // ── P3/P4 parity: explode (Generate) + aggregate ────────────────────
    "q_explode_tokens" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text"))))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
    },

    // ── quality scoring (integer bands) ─────────────────────────────────
    "q_quality_score" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
    },

    // ── language ID (marker-token argmax heuristic) ─────────────────────
    "q_lang_id" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"))
    },

    // ── curation funnel: the keep/drop verdict a training-data pipeline
    // actually emits — exact-dup survivor + length floor + quality band
    // + language gate composed into ONE first-failing-rule verdict.
    // Every signal is a zero-shuffle projection; the only shuffles are
    // the fingerprint window (keyed by fp — high cardinality, no
    // funnel) feeding dup_rank. At 100 TB this is a map pipeline plus
    // one hash exchange on the content fingerprint.
    "q_curation_funnel" -> { (s, dir) =>
      curationFunnel(Tables.load(s, dir, "documents"))
    },

    // ── document fingerprint (md5 of normalized text) ───────────────────
    "q_fingerprint" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
    },

    // ── rolling-hash fingerprint (order-sensitive integer fold) ─────────
    "q_rolling_hash" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.rollingHash(col("text")).as("rh"))
    },

    // ── array-function family: slice/distinct/reverse/contains over the
    // in-row token array (F-family breadth; all codegen'd built-ins)
    "q_array_ops" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0) // match the oracle's toks CTE
        .select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          size(array_distinct(col("toks"))).as("n_distinct"),
          concat_ws(" ", slice(col("toks"), 1, 5)).as("head5"),
          concat_ws(" ", reverse(slice(col("toks"), 1, 3))).as("rev3"),
          array_contains(col("toks"), "spark").as("has_spark"))
    },

    // ── exact dedup groups by content hash ──────────────────────────────
    "q_dedup_exact_text" -> { (s, dir) =>
      Dedup.exactGroups(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    // ── MinHash signatures (16 hashes over 3-shingles) ──────────────────
    "q_minhash_sig" -> { (s, dir) =>
      Dedup.minhashSignatures(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES)
    },

    // ── MinHash LSH candidate pairs (4 bands × 4 rows) ──────────────────
    "q_minhash_lsh_pairs" -> { (s, dir) =>
      Dedup.minhashCandidatePairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS)
    },

    // ── SimHash 60-bit fingerprints ─────────────────────────────────────
    "q_simhash" -> { (s, dir) =>
      Dedup.simhash60(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    // ── exact n-gram Jaccard near-dup pairs (integer thresholding) ──────
    "q_jaccard_pairs" -> { (s, dir) =>
      Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, MAX_DF, THRESH)
    },

    // ── near-subset detection by containment (quote-inclusion dups) ─────
    "q_containment_pairs" -> { (s, dir) =>
      Dedup.containmentPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, MAX_DF, CONTAIN_T)
    },

    // ── scale path: LSH candidates, exact Jaccard on candidates only ────
    "q_lsh_verified_dups" -> { (s, dir) =>
      Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
    },

    // ── hard negatives: the rejected-candidate band ────────────────────
    // (see Dedup.lshBandPairs — candidates the dedup run looked at and
    // rejected below THRESH, floored at any nonzero overlap: the
    // review-queue sample and the contrastive hard-negative mine)
    "q_hard_negatives" -> { (s, dir) =>
      Dedup.lshBandPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS, HN_LO, THRESH)
    },

    // ── prefix-filtering similarity join (All-Pairs/PPJoin, EXACT) ──────
    // The third member of the pair-generation family: jaccardPairs
    // (df-capped inverted index), lshVerifiedPairs (probabilistic), and
    // this — exact AND candidate-bounded. The oracle is the naive
    // all-pairs join, so the hash gate checks the prefix-filtering
    // completeness theorem end-to-end.
    "q_prefix_filter_pairs" -> { (s, dir) =>
      Dedup.prefixFilterPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, THRESH)
    },

    // ── LSH banding tuning curve (candidates vs verified per config) ───
    "q_lsh_tuning" -> { (s, dir) =>
      Dedup.lshTuning(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, TUNING_BANDS, THRESH)
    },

    // ── MinHash estimator error distribution (calibration) ─────────────
    "q_minhash_accuracy" -> { (s, dir) =>
      Dedup.minhashAccuracy(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS)
    },

    // ── LSH recall vs exact ground truth (measure, don't guess) ─────────
    "q_lsh_recall" -> { (s, dir) =>
      Dedup.lshRecall(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
    },

    // ── dedup ablation curve (pairs/docs/tokens removed per threshold) ──
    "q_dedup_ablation" -> { (s, dir) =>
      Dedup.dedupAblation(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, ABLATION_THRESHOLDS)
    },

    // ── longest duplicated span per doc (exact-substring-dedup signal) ──
    "q_dup_span" -> { (s, dir) =>
      Dedup.dupSpans(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, MIN_RUN)
    },

    // ── duplicated-span token coverage (the removal volume) ─────────────
    "q_dup_span_coverage" -> { (s, dir) =>
      Dedup.dupSpanCoverage(Tables.load(s, dir, "documents"),
        "doc_id", "text", K)
    },

    // ── sketch-estimated Jaccard for candidate pairs ────────────────────
    // Signature-only similarity triage: rank LSH candidates by MinHash
    // slot agreement (an unbiased Jaccard estimator) WITHOUT touching
    // shingle sets again. At 100 TB this is the cheap middle tier
    // between banding (recall) and exact verify (precision): the join
    // payload is numHashes longs per side, not a posting list.
    "q_minhash_est" -> { (s, dir) =>
      Dedup.estimatedJaccardPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS)
    },

    // ── b-bit MinHash vs full-slot estimate (see Dedup.bbitEstimatedPairs)
    "q_bbit_minhash" -> { (s, dir) =>
      Dedup.bbitEstimatedPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS)
    },

    // ── edit-distance near-dup pairs (blocked levenshtein) ──────────────
    // The classic record-linkage shape: never all-pairs — block on
    // (lang, length div 64) so candidate volume is Σ blockᵢ², then run
    // the quadratic-cost levenshtein only inside blocks and only on an
    // 80-char prefix (cost capped per pair regardless of doc length).
    // Blocking is a recall heuristic by design: a pair straddling a
    // length-bucket boundary is missed — the price of never shipping
    // O(n²) comparisons. One shuffle on the block key; DuckDB has the
    // same `levenshtein`, so the oracle is exact.
    //
    // r17: the per-pair DP is the BOUNDED 3-arg `levenshtein(l, r, k)`
    // (Spark 3.5+): a banded DP that costs O(k·len) instead of
    // O(len²) and returns -1 as soon as the distance provably exceeds
    // k. Row-identical to the unbounded form under this query's
    // `lev <= MAX_LEV` filter — kept pairs get the exact distance,
    // dropped pairs read -1 and are dropped by the same predicate —
    // so the oracle SQL (unbounded levenshtein + the same filter) is
    // unchanged. At LEV_PREFIX=80, MAX_LEV=10 that is ~6400 → ~1700
    // DP cells per candidate pair, on every pair the blocks emit.
    "q_edit_distance_pairs" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          expr(s"length(text) div $LEV_BLOCK").as("lb"),
          lower(substring(col("text"), 1, LEV_PREFIX)).as("pfx"))
      val a = d.as("a")
      val b = d.as("b")
      a.join(b, col("a.lang") === col("b.lang") &&
          col("a.lb") === col("b.lb") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.pfx"), col("b.pfx"), MAX_LEV).cast("long")
            .as("lev"))
        .filter(col("lev") >= 0 && col("lev") <= MAX_LEV)
    },

    // ── vocabulary coverage / OOV rate under a frequency-built vocab ────
    // Tokenizer-engineering signal: build the top-V corpus vocabulary by
    // frequency, then measure each document's out-of-vocabulary token
    // share in basis points. Top-V selection is orderBy+limit —
    // TakeOrderedAndProject keeps a V-bounded heap per partition and
    // never globally sorts the distinct-term table (at web scale that
    // table is 10⁸–10⁹ rows; a rank window over it would funnel into one
    // sort partition). The V-row vocab broadcasts to a map-side
    // membership probe; the only corpus-sized shuffle is the doc-keyed
    // aggregation.
    "q_vocab_coverage" -> { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term").asc)
        .limit(VOCAB_V)
        .select(col("term"), lit(1).as("iv"))
      toks.join(broadcast(vocab), Seq("term"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1).otherwise(0)).as("n_oov"))
        .withColumn("oov_bp", expr("n_oov * 10000 div n_tokens"))
    },

    // ── corpus-rarity quality score (LM-filter proxy, integer-exact) ────
    // CCNet-style language-model filtering ranks documents by how
    // "surprising" their tokens are under a corpus model; this is the
    // integer-exact analogue: rarity(token) = totalTokens div count(token)
    // (inverse frequency), per-doc score = mean token rarity. Common-word
    // boilerplate scores low, rare-token text scores high. Two
    // vocabulary-bounded aggregates + one broadcast join back to the
    // token stream — the term table is tiny at any corpus size, so the
    // only corpus-sized shuffle is the per-doc aggregation keyed by
    // doc_id (high cardinality, no funnel).
    "q_rarity_score" -> { (s, dir) =>
      val toks = Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      val tc = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
      val total = tc.agg(sum(col("c")).as("total"))
      toks.join(broadcast(tc), "term")
        .crossJoin(broadcast(total))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(expr("total div c")).as("rarity_sum"))
        .select(col("doc_id"), col("n_tokens"),
          expr("rarity_sum div n_tokens").as("rarity"))
    },

    // ── SimHash near-dup retrieval: byte-banded candidates + hamming ────
    "q_simhash_neardup" -> { (s, dir) =>
      Dedup.simhashNearDupPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", MAX_HAMMING)
    },

    // ── incremental-ingestion dedup: new batch vs existing corpus ───────
    // The shape a daily pipeline actually runs: classify each INCOMING
    // document (hash bucket ≥ 90 stands in for "today's batch") against
    // the EXISTING corpus (bucket < 90) — exact_dup (fingerprint already
    // present), near_dup (LSH-verified pair with a corpus doc), or new.
    // At 100 TB the corpus side of both probes is pre-computed state
    // (fingerprint table + signature table, maintained incrementally);
    // the per-batch cost is the batch's projections plus joins bounded
    // by band collisions — nothing rescans the corpus text.
    "q_incremental_dedup" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val withB = d.select(col("doc_id"), col("text"),
        Curation.hashBucket(col("doc_id")).as("bkt"))
      val batch = withB.filter(col("bkt") >= 90)
      val corpus = withB.filter(col("bkt") < 90)
      val fpB = batch.select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val fpC = corpus.select(
        TextFunctions.fingerprint(col("text")).as("fp")).distinct()
      val exact = fpB.join(fpC, Seq("fp"), "left_semi")
        .select(col("doc_id")).withColumn("is_exact", lit(1))
      val pairs = Dedup.lshVerifiedPairs(d, "doc_id", "text",
        K, NUM_HASHES, BANDS, THRESH)
      val corpusIds = corpus.select(col("doc_id").as("cid"))
      val near = pairs.join(corpusIds, col("doc_a") === col("cid"))
        .select(col("doc_b").as("doc_id"))
        .union(pairs.join(corpusIds, col("doc_b") === col("cid"))
          .select(col("doc_a").as("doc_id")))
        .distinct().withColumn("is_near", lit(1))
      batch.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left_outer")
        .join(near, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("is_exact") === 1, lit("exact_dup"))
            .when(col("is_near") === 1, lit("near_dup"))
            .otherwise(lit("new")).as("verdict"))
    },

    // ── near-dup CLUSTERS: pairs closed into connected components ──────
    // The actionable form of the dedup output — see [[Clusters]]; the
    // oracle replays the fixpoint as a recursive reachability CTE.
    "q_dup_clusters" -> { (s, dir) =>
      Clusters.memberTable(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", K, NUM_HASHES, BANDS, THRESH))
    },

    // ── shingle document-frequency histogram (log₂ buckets) ────────────
    // The measured distribution behind every posting-list cost claim in
    // the dedup tier: how many shingles have df in [2^b, 2^(b+1)), how
    // much posting mass they carry, and the heaviest df. The
    // prefix-filter/inverted-index economics (pair volume ≈
    // Σ posting², df-caps, stopword-shingle exclusion) are exactly a
    // statement about this histogram's tail — this query lets a run
    // CHECK that statement on its own corpus before trusting the tier.
    //
    // 100 TB posture: one shingle pass (in-row-distinct explode, same
    // as the Jaccard family), one shingle-keyed count, then a rollup on
    // the ~64-row bucket table. The log₂ bucket is integer-exact via
    // binary-string length — no float log to disagree across engines.
    "q_shingle_df_histogram" -> { (s, dir) =>
      Dedup.docShingles(Tables.load(s, dir, "documents"),
          "doc_id", "text", K)
        .select(Dedup.shingleHash(col("shingle")).as("g"))
        .groupBy(col("g")).agg(count(lit(1)).as("df"))
        .select((length(bin(col("df"))) - 1).cast("long").as("df_bucket"),
          col("df"))
        .groupBy(col("df_bucket"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(col("df")).as("n_postings"),
          max(col("df")).as("max_df"))
    },

    // ── dedup census: cluster-size histogram + singleton row ───────────
    // The one-screen duplication report a curation run opens with: for
    // each cluster size, how many clusters and docs; singletons (docs
    // in NO near-dup cluster) appear as the size-1 row so the histogram
    // partitions the whole corpus — n_docs sums to the document count,
    // and Σ (sz−1)·n_clusters is exactly the drop-list size.
    //
    // 100 TB posture: one aggregate over the member table (bounded by
    // dup volume, not corpus), plus two single-row counts attached by
    // the constant-row pattern; no new corpus pass beyond the shared
    // LSH pipeline the cluster family already prices.
    "q_cluster_stats" -> { (s, dir) =>
      val members = Clusters.memberTable(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", K, NUM_HASHES, BANDS, THRESH))
      val hist = members.groupBy(col("cluster_sz"))
        .agg(countDistinct(col("cluster_id")).as("n_clusters"),
          count(lit(1)).as("n_docs"))
      val singles = Tables.load(s, dir, "documents")
        .agg(count(lit(1)).as("total"))
        .crossJoin(members.agg(count(lit(1)).as("inc")))
        .select(lit(1L).as("cluster_sz"),
          (col("total") - col("inc")).as("n_clusters"),
          (col("total") - col("inc")).as("n_docs"))
      hist.select(col("cluster_sz").cast("long").as("cluster_sz"),
          col("n_clusters"), col("n_docs"))
        .unionByName(singles)
    },

    // ── cross-source EXACT shingle-overlap matrix ──────────────────────
    // For every source pair: exact distinct-shingle intersection and
    // Jaccard (basis points) — the ground truth that VALIDATES
    // q_source_similarity's mergeable-MinHash estimates, the way
    // q_lsh_recall validates banding and q_ann_recall validates IVF.
    // At 100 TB you run the sketch version incrementally and this
    // exact version on a sampled slice to calibrate it. The
    // (source, shingle) distinct table is vocab-bounded × |sources|;
    // self-join posting lists are ≤ |sources| per shingle, so pair
    // volume is Σ ≤ vocab·|sources|², never corpus-sized.
    "q_source_overlap" -> { (s, dir) =>
      val sg = Tables.load(s, dir, "documents")
        .select(col("source"),
          TextFunctions.tokens(lower(col("text"))).as("toks"))
        .filter(size(col("toks")) >= K)
        .select(col("source"), explode(array_distinct(
          TextFunctions.shinglesFromTokens(col("toks"), K))).as("sh"))
        .select(col("source"), Dedup.shingleHash(col("sh")).as("g"))
        .distinct()
      val cached = graft.CacheRegistry.persist(sg)
      val sz = cached.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      cached.as("a").join(cached.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(sz.select(col("source").as("source_a"),
          col("sz").as("sz_a")), "source_a")
        .join(sz.select(col("source").as("source_b"),
          col("sz").as("sz_b")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          col("sz_a"), col("sz_b"),
          expr("n_shared * 10000 div (sz_a + sz_b - n_shared)")
            .as("jaccard_bp"))
    },

    // ── quality-score × near-duplication calibration ───────────────────
    // Are near-duplicates concentrated in low-quality bands? The
    // answer decides whether dedup and quality filtering are redundant
    // or complementary (a flat dup_rate_bp across bands ⇒ they remove
    // DIFFERENT documents and you need both). "Duplicated" = appears
    // in an exact Jaccard-threshold pair (the prefix-filter ground
    // truth); the flag joins back on id and folds per quality band —
    // the same scorer q_quality_score gates.
    "q_quality_vs_dup" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val pairs = Dedup.prefixFilterPairs(d, "doc_id", "text", K, THRESH)
      val dupIds = pairs.select(col("doc_a").as("doc_id"))
        .union(pairs.select(col("doc_b").as("doc_id")))
        .distinct()
        .withColumn("is_dup", lit(1L))
      d.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .join(dupIds, Seq("doc_id"), "left")
        .groupBy(col("quality"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
        .select(col("quality"), col("n_docs"), col("n_dup_docs"),
          expr("n_dup_docs * 10000 div n_docs").as("dup_rate_bp"))
    },

    // ── END-TO-END dedup pipeline summary (the composition, one row) ───
    // What a user actually runs: exact dedup (content-hash survivors)
    // → LSH-then-verify near-dup pairs restricted to exact survivors →
    // cluster resolution → one survivor per cluster → final corpus
    // size in docs and tokens. Every stage is the already-oracle-
    // checked operator; this query pins that the COMPOSITION holds
    // together (id flow, survivor filters, cluster removal) against a
    // DuckDB replay of the whole pipeline. Restricting near-dup work
    // to exact survivors is the documented ordering contract from
    // [[Dedup]] — exact-dup clusters would otherwise quadratically
    // inflate every band bucket.
    "q_dedup_pipeline" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val fp = Dedup.exactGroups(d, "doc_id", "text")
      val surv = fp.select(col("keep_id").as("doc_id"))
      // restrict the INPUT docs, not the output pairs — band candidates
      // and per-pair verify are unaffected by removing non-survivors,
      // but their postings leaving the buckets is what keeps the LSH
      // tier priced at the deduplicated corpus (see DedupPlan.pairs)
      val pairs = Dedup.lshVerifiedPairs(
          d.join(surv, Seq("doc_id"), "left_semi"), "doc_id", "text",
          K, NUM_HASHES, BANDS, THRESH)
        .select("doc_a", "doc_b")
      val cc = Clusters.connectedComponents(pairs, "doc_a", "doc_b")
      val removedNear = cc.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      val finalDocs = surv.join(removedNear, Seq("doc_id"), "left_anti")
      val tok = d.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"))
      d.agg(count(lit(1)).as("n_docs"))
        .crossJoin(fp.agg(count(lit(1)).as("n_exact_survivors")))
        .crossJoin(removedNear.agg(count(lit(1)).as("n_near_removed")))
        .crossJoin(finalDocs.join(tok, "doc_id")
          .agg(count(lit(1)).as("n_final"),
            coalesce(sum(col("t")), lit(0L)).as("tokens_final")))
        .select(col("n_docs"),
          (col("n_docs") - col("n_exact_survivors")).as("n_exact_removed"),
          col("n_near_removed"), col("n_final"), col("tokens_final"))
    },

    // ── the SHARED dedup plan, priced as ONE query ──────────────────────
    // q_dup_clusters / q_cluster_survivors / q_golden_record /
    // q_dedup_pipeline each re-derive the LSH→verify→CC pipeline because
    // the gate prices every query standalone. Production does not: it
    // builds [[DedupPlan]] once and answers all four questions from the
    // persisted pair/member tables. This query IS that composition —
    // one plan, four consumer sections union'd into a tall
    // (section, c1..c6) board — so the bench records the production
    // economics of the shared path next to the standalone prices, and
    // the hash gate pins that sharing changes NO answer. Sections use
    // the plan's exact-survivor-restricted clustering (the documented
    // ordering contract), which the oracle replays once in SQL.
    "q_dedup_plan_board" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val plan = DedupPlan(d, "doc_id", "text",
        K, NUM_HASHES, BANDS, THRESH)
      val quality = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val attrs = d.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        col("n_chars"), col("lang"))
      def pad(df: DataFrame, section: String,
              cols: Seq[String]): DataFrame = {
        val cs = cols.map(c => col(c).cast("long")) ++
          Seq.fill(6 - cols.size)(lit(null).cast("long"))
        df.select(lit(section).as("section") +:
          cs.zipWithIndex.map { case (c, i) => c.as(s"c${i + 1}") }: _*)
      }
      pad(plan.members, "member",
          Seq("doc_id", "cluster_id", "cluster_sz"))
        .unionByName(pad(plan.survivors(quality), "survivor",
          Seq("cluster_id", "keep_id", "keep_quality", "n_members")))
        .unionByName(pad(plan.goldenRecords(attrs), "golden",
          Seq("cluster_id", "survivor_id", "n_members", "max_quality",
            "max_chars", "n_langs")))
        .unionByName(pad(plan.summary, "summary",
          Seq("n_docs", "n_exact_removed", "n_near_removed", "n_final",
            "tokens_final")))
    },

    // ── one survivor per cluster by (quality desc, id asc) ──────────────
    // The keep/drop decision a curation pipeline executes: struct-min
    // argmax per cluster (map-side combinable), quality from the same
    // scorer q_quality_score checks.
    "q_cluster_survivors" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      Clusters.survivors(
        Dedup.lshVerifiedPairs(docs, "doc_id", "text",
          K, NUM_HASHES, BANDS, THRESH),
        docs.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality")))
    },

    // ── repetition filter signal (duplicate n-gram fraction) ────────────
    // The classic quality rule for generated/boilerplate text: what
    // share of a document's 3-grams is its single most repeated 3-gram?
    // (A high share ⇒ templated/looping text.) Two keyed aggregations —
    // (doc, gram) counts then per-doc max/sum — both keyed by doc_id
    // (high cardinality, no funnel); integer percent output.
    "q_repetition" -> { (s, dir) =>
      val grams = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("toks"))
        // filter on the cheap token count, BEFORE the shingle build (the
        // same pushdown-pathology guard as Dedup.shingleArrays)
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"),
          explode(TextFunctions.shinglesFromTokens(col("toks"), K))
            .as("gram"))
      grams.groupBy(col("doc_id"), col("gram"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_grams"), max(col("c")).as("max_gram"))
        .withColumn("rep_pct", expr("max_gram * 100 div n_grams"))
    },

    // ── TF-IDF-style keyword extraction, integer arithmetic only ────────
    // score = tf * 1e6 / df (integer division): rarity-weighted term
    // ranking with none of the float-log cross-engine drift. Two
    // shuffles: term-frequency agg, then document-frequency agg joined
    // back (broadcast-sized); top-3 via window keyed by doc_id (high
    // cardinality — no funnel).
    "q_top_terms" -> { (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df_, "term")
        // `div`, not `/`: Column./ promotes to double; both engines
        // floor-divide positive longs identically
        .withColumn("score", expr("tf * 1000000 div df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rank"))
    },

    // ── greedy max-coverage selection (submodular subset selection) ────
    // The facility-location/coverage primitive of data-subset
    // selection: greedily pick the K documents that together cover the
    // most of the top-V-df 3-word shingles — each round takes the doc
    // with the largest MARGINAL gain (new shingles only), the
    // 1−1/e-approximate greedy rule. Shingles, not tokens: the fixture
    // (and any natural corpus) has a stopword-dense token head a
    // single doc trivially covers, while the shingle head is what
    // actually distinguishes content. Deterministic: gain DESC,
    // doc_id ASC ties; V and K bounded so the covered set is
    // driver-held (≤ V strings). Output: one row per pick (rank,
    // doc_id, gain = new shingles it added, n_covered = cumulative
    // coverage); stops early if the vocabulary is exhausted. The
    // DuckDB twin unrolls the identical greedy rounds as chained CTEs
    // ([[maxcoverCtes]]).
    //
    // 100 TB posture: ONE shingle-explode pass (per-doc dedup IN-ROW
    // via array_distinct — no corpus-wide distinct shuffle) builds the
    // doc-shingle table restricted to the broadcast V-shingle
    // vocabulary (map-side semi-join); each greedy round is one keyed
    // aggregate over that V-bounded projection ending in a global
    // max-of-struct — no windows over corpus tables, no data-scale
    // collects (the argmax row carries its ≤V-shingle set).
    "q_maxcover_docs" -> { (s, dir) =>
      maxCoverage(Tables.load(s, dir, "documents"),
        "doc_id", "text", MAXCOV_K, MAXCOV_V)
    },

    // ── quota'd max-coverage (partition-matroid greedy) ─────────────────
    // The balanced-selection variant a real curation run ships: the
    // same greedy coverage objective, but a source may contribute at
    // most CAP picks — the partition-matroid constraint under which
    // greedy keeps a 1/2 approximation (Fisher-Nemhauser-Wolsey).
    // Sources that hit their cap leave the candidate pool; everything
    // else (marginal gains, ties, early stop) is q_maxcover_docs.
    // Output adds the pick's source. Driver state: the covered set
    // (≤ V strings) + per-source pick counts (≤ |sources| ints).
    "q_maxcover_quota" -> { (s, dir) =>
      maxCoverageQuota(Tables.load(s, dir, "documents"),
        "doc_id", "text", "source", MAXCOV_K, MAXCOV_V, MAXCOV_CAP)
    },

    // ── slice-fitted max-coverage: the 100 TB posture of the greedy ────
    // q_maxcover_docs' one corpus-linear term is the shingle-explode +
    // df pass that builds the vocabulary and the V-restricted
    // projection. This variant fits BOTH on the deterministic
    // md5-bucket slice (the q_bpe_sampled / q_kcenter_sampled recipe):
    // vocabulary, projection, and all greedy rounds touch ~25 % of the
    // corpus; the full corpus is then scanned exactly ONCE, restricted
    // in-row to the ≤V covered shingles, to score what the picks are
    // TRULY worth corpus-wide (cov_pairs_full = cumulative distinct
    // (doc, shingle) incidences covered — the weighted-coverage audit
    // that makes the sampling trade visible). Early stop, tie rules,
    // and driver state are q_maxcover_docs'.
    "q_maxcover_sampled" -> { (s, dir) =>
      maxCoverageSampled(Tables.load(s, dir, "documents"),
        "doc_id", "text", MAXCOV_K, MAXCOV_V,
        MAXCOV_SAMPLE_SEED, MAXCOV_SAMPLE_PCT)
    },

    // ── BPE merge-step statistic: adjacent-pair frequency table ─────────
    // The first step of byte-pair-encoding training: count every
    // ADJACENT token pair across the corpus (with multiplicity — this is
    // NOT the distinct-shingle table the dedup family uses). One
    // Generate + one hash aggregate with map-side combine; the pair
    // vocabulary is bounded by (token vocab)², so the shuffle is tiny
    // regardless of corpus size — the argmax of this table is the pair a
    // BPE trainer would merge next.
    "q_bpe_pairs" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(TextFunctions.tokens(lower(col("text"))).as("t"))
        // guard: sequence(0, -1) DESCENDS in Spark — never build pairs
        // from <2-token docs
        .filter(size(col("t")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(t) - 2)," +
            " i -> concat(t[i], ' ', t[i + 1]))")).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n_occurrences"))
    },

    // ── SAMPLED-FIT BPE trainer: fit on a hash slice, apply corpus-wide ─
    // The production tokenizer-training shape (the q_ann_ivf_sampled
    // recipe applied to [[Bpe]]): the merge table is LEARNED on a
    // deterministic md5-bucket slice of the corpus (tokenizer training
    // saturates in the low-GB range — the full-corpus per-round pair
    // count is the one corpus-linear term, pure training machinery),
    // then [[Bpe.applyMerges]] re-tokenizes the FULL corpus with the
    // learned table — nMerges nested in-row folds, zero shuffle. The
    // gate pins both halves: (rank, merge_left, merge_right,
    // n_occurrences) is the slice-trained merge table (argmax replay,
    // deterministic under the count-desc/left/right tiebreak), and
    // n_units_corpus counts each merged unit in the final FULL-corpus
    // tokenization (0 when a later merge consumed it) — the corpus-wide
    // apply under the same hash. At 100 TB the slice percentage becomes
    // an absolute row cap (PERF.md's sampled-BPE record measures that
    // posture); the gate pins the mechanism, not the knob.
    "q_bpe_sampled" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), lower(col("text")).as("text"))
      val slice = docs.filter(
        Curation.hashBucket(col("doc_id"), BPE_SAMPLE_SEED)
          < BPE_SAMPLE_PCT)
      val mergesDf = Bpe.train(slice, "doc_id", "text", BPE_SAMPLED_MERGES)
      // the merge table is driver-sized by construction (≤ nMerges
      // rows) — collecting it is how applyMerges receives its folds
      val merges = mergesDf.collect()
        .sortBy(_.getAs[Long]("rank"))
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right")))
        .toSeq
      val units = docs
        .select(explode(Bpe.applyMerges(
          TextFunctions.tokens(col("text")), merges)).as("unit"))
        .groupBy(col("unit")).agg(count(lit(1)).as("n_units"))
      mergesDf.toDF("rank", "merge_left", "merge_right", "n_occurrences")
        .join(units,
          concat_ws(" ", col("merge_left"), col("merge_right"))
            === col("unit"), "left")
        .select(col("rank"), col("merge_left"), col("merge_right"),
          col("n_occurrences"),
          coalesce(col("n_units"), lit(0L)).as("n_units_corpus"))
    },

    // ── percentile-rank normalization of quality scores ─────────────────
    // Rank-normalize the raw quality score into corpus percentile basis
    // points (integer cume_dist): the form threshold policies are
    // written against ("drop the bottom 20 %"), stable across corpora
    // with different raw-score distributions. The cumulative window
    // runs over the DISTINCT-value table (quality has ≤ a handful of
    // band values — bounded regardless of corpus size); docs join the
    // tiny percentile map by broadcast.
    "q_quality_percentile" -> { (s, dir) =>
      val qd = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
      val wCum = Window.orderBy(col("quality"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = qd.agg(count(lit(1)).as("tot"))
      val pct = qd.groupBy(col("quality")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wCum))
        .crossJoin(broadcast(tot))
        .select(col("quality"), expr("cum * 10000 div tot").as("pct_bp"))
      qd.join(broadcast(pct), "quality")
        .select(col("doc_id"), col("quality"), col("pct_bp"))
    },

    // ── PMI-style token co-occurrence (collocation mining) ──────────────
    // The association table behind phrase/collocation detection:
    // within-doc DISTINCT token pairs, scored by the PMI interior ratio
    // P(a,b)/(P(a)·P(b)) = n_ab·n_docs / (n_a·n_b), scaled ×10⁶ in
    // integer math (no float log drift). The pair table is bounded by
    // vocab² and df-floored (n_ab ≥ 5); the per-doc pair build is a
    // doc-keyed self-join — each side is the distinct-token explode,
    // so group sizes are per-doc vocab, not doc length. At real corpus
    // scale the same df-cap machinery as the Jaccard family bounds the
    // explode.
    "q_pmi_cooccur" -> { (s, dir) =>
      val dt = Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.tokens(lower(col("text"))))).as("tok"))
      val dfq = dt.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val nd = dt.agg(countDistinct(col("doc_id")).as("n_docs"))
      dt.as("a").join(dt.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
        .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= MIN_COOC)
        .join(broadcast(dfq.select(col("tok").as("tok_a"),
          col("n").as("n_a"))), "tok_a")
        .join(broadcast(dfq.select(col("tok").as("tok_b"),
          col("n").as("n_b"))), "tok_b")
        .crossJoin(broadcast(nd))
        .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          expr("n_ab * n_docs * 1000000 div (n_a * n_b)").as("pmi_score"))
    },

    // ── cross-document duplicated n-gram coverage ───────────────────────
    // The corpus-level twin of q_repetition (which is within-doc): what
    // share of a document's DISTINCT 3-grams also appears in at least
    // one OTHER document? This is the per-doc signal behind exact-
    // substring dedup policies ("drop spans duplicated across the
    // corpus"): high coverage ⇒ the doc is mostly boilerplate shared
    // with the rest of the crawl. Same inverted-index economics as the
    // Jaccard family — one gram-keyed df aggregate, one gram-keyed join
    // back, one doc-keyed fold; gram-table size is bounded by distinct
    // shingles, never by pair volume. Integer basis points.
    "q_dup_ngram_coverage" -> { (s, dir) =>
      dupNgramCoverage(Tables.load(s, dir, "documents"),
        "doc_id", "text", K)
    },

    // ── corpus bigram-LM surprisal score (LM-filter proxy) ──────────────
    // The CCNet/KenLM quality-filter shape with the LM trained ON the
    // corpus itself: per adjacent token pair, conditional surprisal
    // ≈ 1/p(w2|w1) = n(w1·)/n(w1,w2), scaled ×10⁶ in integer math; a
    // document's score is the mean over its bigram positions. Fluent
    // (common-continuation) text scores low, rare-continuation text
    // high — the ranking a perplexity filter acts on, with zero float
    // log drift. The model tables are vocab-bounded (pairs ≤ vocab²)
    // and broadcast; the only corpus-sized shuffle is the doc-keyed
    // fold.
    "q_bigram_lm_score" -> { (s, dir) =>
      bigramLmScores(Tables.load(s, dir, "documents"), "doc_id", "text")
    },

    // ── Pareto frontier (skyline) of quality vs length, per language ────
    // The curation trade-off surface: which (quality, n_tokens) points
    // are not dominated — within their language — by a document at
    // least as good on both axes and strictly better on one? The O(n²)
    // NOT-EXISTS definition (the oracle) collapses to two windows over
    // the DISTINCT-point table: a point is on the frontier iff it holds
    // the max token count within its (lang, quality) band AND beats the
    // max over all strictly higher bands of its lang. The point table
    // is bounded by |langs| × |quality bands| × |distinct lengths|
    // regardless of corpus size, so the range window runs over a
    // broadcast-scale input — the raw rows only ever see one hash
    // aggregate.
    "q_skyline" -> { (s, dir) =>
      Curation.skyline(
        Tables.load(s, dir, "documents")
          .select(col("lang"),
            TextFunctions.qualityScore(col("text")).as("quality"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
        Seq("lang"), "quality", "n_tokens", "n_docs")
    },

    // ── dataset card: one-row corpus profile ────────────────────────────
    // The summary block every dataset release ships: volume, language/
    // source breadth, exact-duplicate mass, and mean quality — one
    // aggregate pass (countDistinct expands to a couple of shuffles,
    // all over a single-row result; integer mean via div). The per-doc
    // signals reuse the same fingerprint/quality/token definitions the
    // dedup and curation queries bind to, so the card cannot drift
    // from the pipeline it summarizes.
    "q_corpus_card" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          TextFunctions.tokenCount(col("text")).as("toks"),
          col("lang"), col("source"), col("n_chars"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"),
          expr("sum(quality) div count(1)").as("mean_quality"))
    },

    // ── language-ID confusion matrix (classifier evaluation) ────────────
    // The labeled corpus doubles as a validation set for the langId
    // heuristic: cross-tab declared language × predicted language.
    // Off-diagonal mass IS the classifier's error profile — the number
    // a pipeline watches before trusting lang gates (the curation
    // funnel's unknown_lang rule binds to this same predictor). One
    // zero-shuffle projection + a |langs|²-bounded aggregate.
    "q_lang_confusion" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
    },

    // ── source-level content similarity from MERGEABLE MinHash sketches ─
    // The cross-source contamination question ("are crawl A and crawl B
    // the same content?") answered WITHOUT a shingle join: each doc's
    // zero-shuffle minhash signature folds into its source's by
    // per-slot MIN — min is associative/commutative/idempotent, so the
    // source sketch is exactly the sketch of the source's shingle-set
    // UNION, buildable incrementally per ingest batch (the same
    // mergeable-state pattern as the HLL profile, but integer-exact
    // and hence hash-gated). Pairwise estimated Jaccard = matching
    // slots; the pair table is |sources|², the sketch table
    // |sources|×16 longs.
    "q_source_similarity" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val srcSigs = Dedup
        .minhashSignatures(d, "doc_id", "text", K, NUM_HASHES)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(min(col("mh0")).as("mh0"),
          (1 until NUM_HASHES).map(i => min(col(s"mh$i")).as(s"mh$i")): _*)
      val a = srcSigs.select(col("source").as("src_a") +:
        (0 until NUM_HASHES).map(i => col(s"mh$i").as(s"a$i")): _*)
      val b = srcSigs.select(col("source").as("src_b") +:
        (0 until NUM_HASHES).map(i => col(s"mh$i").as(s"b$i")): _*)
      a.crossJoin(b).filter(col("src_a") < col("src_b"))
        .withColumn("n_match",
          (0 until NUM_HASHES).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
            .reduce(_ + _))
        .withColumn("est_jaccard_pct",
          expr(s"n_match * 100 div $NUM_HASHES"))
        .select(col("src_a"), col("src_b"), col("n_match"),
          col("est_jaccard_pct"))
    },

    // ── vocabulary head-coverage curve (Zipf diagnostic) ────────────────
    // What share of all token occurrences do the top-k terms cover, at
    // a ladder of k? The curve is how corpus reports quantify
    // "head-heaviness" (near-Zipf text ⇒ ~log growth; flat synthetic
    // vocab ⇒ linear). One vocab-bounded frequency aggregate; the top-50
    // head is orderBy+limit (TakeOrdered — per-partition heaps, no
    // global sort of the distinct-term table), and only those ≤50 rows
    // feed the rank + cumulative window; integer basis points.
    "q_head_coverage" -> { (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text"))))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("n"))
      val tot = tf.agg(sum(col("n")).as("t"))
      val head = tf.orderBy(col("n").desc, col("term").asc).limit(50)
      val w = Window.orderBy(col("n").desc, col("term").asc)
      val wCum = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      head.withColumn("k", row_number().over(w))
        .withColumn("cum", sum(col("n")).over(wCum))
        .filter(col("k").isin(1, 2, 5, 10, 20, 50))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("cum").as("cum_tokens"),
          expr("cum * 10000 div t").as("coverage_bp"))
    },

    // ── per-document n-gram novelty in ingest order ─────────────────────
    // The marginal-contribution metric dedup ablations rank documents
    // by: what share of a doc's distinct 3-grams had never appeared in
    // any EARLIER doc (smaller doc_id = earlier ingest)? A doc full of
    // already-seen grams is redundant no matter how good it looks in
    // isolation. Same inverted-index economics as q_dup_ngram_coverage
    // with min(doc_id) standing in for the df count — the gram table
    // is the bound, never pair volume.
    "q_ngram_novelty" -> { (s, dir) =>
      val sh = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("toks"))
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.shinglesFromTokens(col("toks"), K))).as("gram"))
      val firsts = sh.groupBy(col("gram"))
        .agg(min(col("doc_id")).as("first_id"))
      sh.join(firsts, "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_id") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
    },

    // ── duplicate concentration per source ──────────────────────────────
    // The curation diagnostic behind source-level policy ("this crawl
    // is 40 % boilerplate — downweight it"): per source, how many of
    // its docs belong to a corpus-wide exact-duplicate group? One
    // fingerprint aggregate + one join back + one source-keyed fold;
    // integer basis points. Pairs naturally with q_mixture_weights —
    // dup_bp is the first correction a mixing plan applies.
    "q_dup_rate_by_source" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("source"),
          TextFunctions.fingerprint(col("text")).as("fp"))
      val fpc = d.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      d.join(fpc, "fp")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("c") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("dup_bp", expr("n_dup_docs * 10000 div n_docs"))
    },

    // ── TF-IDF-weighted document similarity pairs ───────────────────────
    // The WEIGHTED tier of the dedup family: Jaccard treats all
    // shingles equally, but near-dup policy often wants rare terms to
    // count more — so weight each (doc, term) by tf·(1000 div df) and
    // threshold on weighted DICE similarity 2·⟨a,b⟩/(‖a‖²+‖b‖²). Dice,
    // not cosine: Cauchy–Schwarz bounds it to [0,1] like cosine, but
    // it is LINEAR in the integer products — no square roots, and no
    // dot² that would overflow a BIGINT in one engine and promote to
    // int128 in the other. Same inverted-index economics as
    // q_jaccard_pairs (df-capped postings, candidate volume Σ df²);
    // the threshold compares pre-division (exact in both engines).
    "q_tfidf_pairs" -> { (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= MAX_DF) // df cap bounds posting lists
      val w = tf.join(dfq, "term")
        .withColumn("w", expr("tf * (1000 div df)"))
      val norms = w.groupBy(col("doc_id"))
        .agg(sum(expr("w * w")).as("nrm"))
      w.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
        .join(w.select(col("term"), col("doc_id").as("doc_b"),
          col("w").as("wb")), "term")
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(expr("wa * wb")).as("dot"))
        .join(norms.select(col("doc_id").as("doc_a"),
          col("nrm").as("na")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"),
          col("nrm").as("nb")), "doc_b")
        .filter(expr(s"dot * 20000 >= ${THRESH * 100} * (na + nb)"))
        .withColumn("dice_bp", expr("dot * 20000 div (na + nb)"))
        .select(col("doc_a"), col("doc_b"), col("dot"), col("dice_bp"))
    },

    // ── golden-record merge per duplicate cluster ───────────────────────
    // What a pipeline DOES with resolved clusters: one merged record
    // per cluster — the survivor id (quality desc, id asc — the same
    // struct-min argmax q_cluster_survivors pins) plus best-of fields
    // merged ACROSS members (max quality, max length, distinct langs).
    // One aggregate over the member table; cluster count ≪ doc count.
    "q_golden_record" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Clusters.memberTable(
        Dedup.lshVerifiedPairs(d, "doc_id", "text",
          K, NUM_HASHES, BANDS, THRESH))
        .join(d.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"),
          col("n_chars"), col("lang")), "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(struct((lit(1000) - col("quality")).as("nq"),
            col("doc_id").as("id"))).as("best"),
          max(col("quality")).as("max_quality"),
          max(col("n_chars")).as("max_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .select(col("cluster_id"), col("best.id").as("survivor_id"),
          col("n_members"), col("max_quality"), col("max_chars"),
          col("n_langs"))
    },

    // ── blocklist / pattern redaction (PII-scrub machinery) ─────────────
    // The standard scrub stage of a training pipeline: a rule list of
    // (name, regex) patterns is applied per document; output = redacted
    // length + per-rule hit counts. Pure projection — zero shuffle, and
    // the regexes are RE2-safe (no lookaround) so the DuckDB oracle runs
    // them verbatim. The email rule matches nothing on this corpus (the
    // text is synthetic); it is the PII shape a real corpus needs and
    // costs one codegen'd regex pass.
    "q_blocklist_redact" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val red = regexp_replace(
        regexp_replace(col("text"), TextFunctions.emailPattern, "[PII]"),
        TextFunctions.blocklistPattern, "[REDACTED]")
      d.select(col("doc_id"),
        size(regexp_extract_all(col("text"),
          lit(TextFunctions.blocklistPattern), lit(0))).as("n_blocklist"),
        size(regexp_extract_all(col("text"),
          lit(TextFunctions.emailPattern), lit(0))).as("n_email"),
        length(red).as("clean_chars"),
        length(col("text")).as("raw_chars"))
    },

    // ── train/eval split leakage via near-dup pairs ─────────────────────
    // The contamination check q_decontaminate can't do: decontamination
    // finds EXACT shared n-grams against a benchmark, while leakage is
    // about NEAR-duplicates straddling the train/valid/test boundary —
    // a test doc whose 80 %-Jaccard twin sits in train is leaked even
    // if no single 13-gram survived verbatim. Composition: the verified
    // LSH pair table × the SAME hash-split rule q_train_test_split
    // derives, folded to a (split_a ≤ split_b) matrix with pair counts
    // and summed Jaccard severity. The diagonal rows (train-train)
    // price ordinary in-split duplication; off-diagonal mass is the
    // leak. 100 TB posture: split labels are a projection on the pair
    // table (bounded by dup volume), so the only corpus-scale work is
    // the LSH pipeline the dedup tier already prices.
    "q_split_leakage" -> { (s, dir) =>
      val sa = Curation.splitLabel(col("doc_a"))
      val sb = Curation.splitLabel(col("doc_b"))
      Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
        .select(least(sa, sb).as("split_a"),
          greatest(sa, sb).as("split_b"),
          expr("n_common * 10000 div (sz_a + sz_b - n_common)")
            .as("jac_bp"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jac_bp")).as("sum_jac_bp"))
    },

    // ── linear quality classifier (fixed-weight logit score) ───────────
    // The fasttext-style quality-classifier SHAPE with a fixed,
    // documented weight vector: four integer features in basis points
    // (length saturation, stopword rate, punctuation rate, type/token
    // ratio), one dot product in centipoints, thresholded into
    // keep/review/drop. Differs from q_quality_score's rule bands: this
    // is the continuous-score form whose weights a real deployment
    // swaps for learned ones — the engine-side contract (featurize →
    // broadcast weights → score → gate) is what's being pinned. Pure
    // one-pass projection, zero shuffle, integer-exact.
    "q_quality_logit" -> { (s, dir) =>
      // clamp at 0 BEFORE div: Spark div truncates toward zero while
      // DuckDB // floors — they only agree on non-negative operands
      qualityBp(s, dir)
        .select(col("doc_id"), col("len_bp"), col("stop_bp"),
          col("punct_bp"), col("uniq_bp"),
          expr("greatest(0, 3 * len_bp + 4 * stop_bp - 2 * punct_bp" +
            " + 2 * uniq_bp) div 10").as("logit_cp"))
        .withColumn("verdict",
          when(col("logit_cp") >= 1750, lit("keep"))
            .when(col("logit_cp") >= 1550, lit("review"))
            .otherwise(lit("drop")))
    },

    // ── quality-filter TRAINER: batch GD on the logit, integer-exact ───
    // The learned completion of q_quality_logit (whose doc reads "the
    // weights a real deployment swaps for learned ones"): distill the
    // hand rule into a trained linear filter. Labels are the hand
    // rule's own keep verdict, so the trainer must RECOVER a separating
    // plane it never sees — train accuracy climbing from the 85.6 %
    // one-step plane to 91.0 % at 16 steps (29.2 % base rate) is the
    // descent demonstrably working, gate-visible in the output row.
    // Full mechanics in [[logitFit]]; the oracle unrolls the identical
    // 16 steps as chained CTEs.
    "q_logit_fit" -> { (s, dir) => logitFit(s, dir, sampled = false) },

    // ── margin-based uncertainty sampling (active learning) ────────────
    // The labeling queue the trained filter implies: the K documents
    // whose model score sits CLOSEST to the decision boundary (|s|
    // minimal — the margin rule) are the ones a human label improves
    // the most. Fit = the q_logit_fit trainer; scoring = the model
    // constants in-row (the q_stream_quality forward pass); selection
    // = TakeOrderedAndProject on (|score| ASC, doc_id ASC) — k rows,
    // never a full sort. Output (rank, doc_id, score_m).
    "q_uncertainty_sample" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      // one persisted feature projection serves the fit AND the queue
      // scoring pass (plan-match cache substitution; r16 — see
      // q_model_registry for the pattern)
      graft.CacheRegistry.persist(qualityBpOf(docs))
      marginQueue(docs, fitQualityModel(docs), UNC_K)
    },

    // ── sampled-fit trainer: the 100 TB posture of q_logit_fit ─────────
    // The same recipe the sampled IVF/PQ/BPE trainers follow: fit
    // (scaler means/sds AND all 16 gradient steps) on the deterministic
    // md5-bucket slice, then score the FULL corpus with the slice-
    // fitted model — at scale the slice percentage becomes an absolute
    // row cap and the trainer's cost decouples from corpus size
    // entirely (16 slice scans + one corpus scoring scan). n_fit rows
    // trained; n_correct/n_total is full-corpus accuracy.
    "q_logit_fit_sampled" -> { (s, dir) => logitFit(s, dir, sampled = true) },

    // ── the closed active-learning loop: fit → queue → label → refit ───
    // q_logit_fit_sampled trains on the 25 % slice; q_uncertainty_sample
    // says which unseen docs are worth labeling. This gate CLOSES the
    // loop: the REFIT_K most uncertain out-of-slice docs are labeled
    // (by the standing hand rule) and the filter is refit on
    // slice ∪ queue — one retrain round of margin-based active
    // learning, with both models' full-corpus accuracy in the output
    // so the value of the labeling budget is measured, not assumed
    // (`improved` asserts the refit strictly beats the slice model).
    "q_logit_refit" -> { (s, dir) => logitRefit(s, dir) },

    // ── PageRank centrality over the near-dup graph ────────────────────
    // Which member of a duplicate cluster is the CANONICAL one? Degree
    // (q_cluster_survivors uses quality) treats a hub linked to many
    // near-identical variants the same as a chain end; PageRank is the
    // standard centrality answer. Fixed PR_ITERS power iterations of
    // integer PageRank (damping 85/100, ranks in ppm of the uniform
    // start) over the symmetric verified-pair edge list. All arithmetic
    // is BIGINT floor division on positives, so the engines agree bit
    // for bit; the oracle unrolls the same iterations as chained CTEs.
    //
    // 100 TB posture: the edge list is bounded by dup volume, persisted
    // once (one job per iteration, O(PR_ITERS) rounds like the CC
    // fixpoint); each round is edge ⋈ rank + a dst-keyed sum — shuffle
    // keyed by doc id, never corpus-wide — and the rank table parquet-
    // round-trips per round, so plans stay iteration-local (see
    // [[Clusters.pageRank]] for the measured blowup this avoids).
    "q_pagerank_centrality" -> { (s, dir) =>
      Clusters.pageRank(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", K, NUM_HASHES, BANDS, THRESH),
        "doc_a", "doc_b", PR_ITERS)
    },

    // ── communities on the near-dup graph (majority-vote labels) ───────
    // [[Clusters.labelPropagation]] over the same verified pair list the
    // CC/survivor/PageRank family shares — the over-merge diagnostic:
    // where q_dup_clusters fuses two dense groups across a thin bridge,
    // LPA's majority vote keeps them apart. Deterministic synchronous
    // rounds (count-then-min tie-break, all integer); the oracle unrolls
    // the identical rounds as chained CTEs.
    "q_label_propagation" -> { (s, dir) =>
      val members = Clusters.labelPropagation(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", K, NUM_HASHES, BANDS, THRESH),
        "doc_a", "doc_b", LPA_ITERS)
      val sz = members.groupBy(col("community"))
        .agg(count(lit(1)).as("community_sz"))
      members.join(sz, "community")
        .select(col("id").as("doc_id"), col("community"),
          col("community_sz"))
    },

    // ── triangle count + local clustering on the near-dup graph ────────
    // How CLIQUE-LIKE each doc's neighborhood is: triangles distinguish
    // "20 rewrites of one template" (dense, high clustering — safe to
    // collapse) from "a chain of pairwise-similar drafts" (triangle-free
    // — collapsing loses ends). Per node: degree, triangle membership
    // count, and the local clustering coefficient in basis points.
    //
    // 100 TB posture: DEGREE-ORDERED orientation — each canonical edge
    // points from its (degree, id)-smaller endpoint, wedges are
    // generated only at a triangle's smallest vertex, so wedge volume is
    // Σ out-deg² with out-degrees bounded by √|E| (the classic
    // arboricity bound) instead of raw Σ deg² — the hub that breaks the
    // naive wedge join never pivots. Each triangle is enumerated exactly
    // once, then its three corners are exploded back for per-node
    // counts; every join is an equi-join on node ids.
    "q_triangle_clustering" -> { (s, dir) =>
      Clusters.triangleClustering(
          Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, NUM_HASHES, BANDS, THRESH),
          "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
    },

    // ── normalization-aware exact dedup ────────────────────────────────
    // Exact dedup AFTER canonicalization (lowercase, strip every
    // non-alphanumeric, collapse runs of spaces) — the cheap tier that
    // catches trivially-reformatted copies byte-exact dedup misses.
    // Per surviving group: the min-id survivor, the group size, and how
    // many RAW byte-distinct variants the normalization merged (the
    // measured win over q_dedup_exact_text). One projection + one
    // fingerprint-keyed aggregate; the fingerprint is the shared 60-bit
    // md5 prefix, so the shuffle carries 8-byte keys, not document text.
    "q_normalize_dedup" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("raw_h"),
          Dedup.shingleHash(trim(regexp_replace(regexp_replace(
            lower(col("text")), "[^a-z0-9 ]", ""), " +", " ")))
            .as("norm_h"))
        .groupBy(col("norm_h"))
        .agg(min(col("doc_id")).as("survivor_doc_id"),
          count(lit(1)).as("group_sz"),
          countDistinct(col("raw_h")).as("n_raw_variants"))
    },

    // ── shared-prefix (boilerplate header) detection ───────────────────
    // Docs opening with the SAME first-k tokens — the shape scraped
    // boilerplate (licence headers, navigation chrome, template
    // preambles) takes in a web corpus. Groups of ≥2 docs sharing an
    // 8-token prefix, with the min-id exemplar: the report a curation
    // run reads before writing a prefix-strip rule. One slice projection
    // + one hash-keyed aggregate — the prefix travels as its 60-bit
    // hash, and the HAVING-style size filter runs post-aggregate, so
    // the exchange is corpus-rows × 8 bytes, once.
    "q_prefix_dup" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= PREFIX_K)
        .select(col("doc_id"),
          Dedup.shingleHash(array_join(slice(col("t"), 1, PREFIX_K), " "))
            .as("prefix_h"))
        .groupBy(col("prefix_h"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("doc_id")).as("exemplar_doc_id"))
        .filter(col("n_docs") >= 2)
    },

    // ── tokenizer fertility by language ────────────────────────────────
    // Subwords-per-word in basis points plus chars-per-word — the
    // numbers a tokenizer owner reads per language before committing a
    // vocab (high fertility = the language is being shredded). Uses the
    // shared whitespace-word and BPE-ish subword counters, so the ratio
    // is consistent with q_text_stats by construction. One projection +
    // one |langs|-row aggregate; guards divide-by-zero on empty slices.
    "q_token_fertility" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"), length(col("text")).as("n_chars"),
          TextFunctions.tokenCount(col("text")).cast("long").as("toks"),
          TextFunctions.subwordCount(col("text")).cast("long").as("subs"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_words"),
          sum(col("subs")).as("n_subwords"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          expr("CASE WHEN n_words = 0 THEN NULL " +
            "ELSE n_subwords * 10000 div n_words END").as("fertility_bp"),
          expr("CASE WHEN n_words = 0 THEN NULL " +
            "ELSE n_chars * 100 div n_words END").as("chars_per_word_c"))
    },

    // ── curriculum training order: quality bands, sharded within ───────
    // The quality-first training order a curriculum schedule consumes:
    // docs bucketed into quality bands (q div 10, high band first at
    // read time), sharded within each band by an independent hash, and
    // positioned within (band, shard) by a second hash application.
    // Same NO-global-sort posture as q_epoch_shuffle: the only window
    // is partitioned by (band, shard) — shard count scales with the
    // corpus in production (pinned at 4 here for the oracle), so every
    // window partition is corpus/(bands·shards) and materializes as the
    // shard writer's sortWithinPartitions order.
    "q_curriculum_order" -> { (s, dir) =>
      val h = Dedup.hash32(CURR_SEED, col("doc_id").cast("string"))
      val w = Window.partitionBy(col("band"), col("shard"))
        .orderBy(col("h").asc, col("doc_id").asc)
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).cast("long").as("q"),
          h.as("h"))
        .withColumn("band", expr("q div 10"))
        .withColumn("shard", col("h") % CURR_SHARDS)
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("band"), col("shard"), col("pos"))
    },

    // ── per-edge triangle support on the near-dup graph ────────────────
    // The truss/bridge read of what q_triangle_clustering reports per
    // NODE: an edge with support 0 (no third doc adjacent to both ends)
    // is a thin bridge — the exact edge to cut before CC collapses two
    // dense rewrite groups through one accidental pairwise match. Same
    // degree-ordered orientation as the triangle query (wedge volume
    // arboricity-bounded), each triangle enumerated once then exploded
    // back onto its three id-canonical edges. All integer/boolean.
    "q_edge_support" -> { (s, dir) =>
      Clusters.edgeSupport(
          Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, NUM_HASHES, BANDS, THRESH),
          "doc_a", "doc_b")
        .select(col("u").as("doc_a"), col("v").as("doc_b"),
          col("support"), col("is_bridge"))
    },

    // ── k-core of the near-dup graph (fixed-round peel) ────────────────
    // The dense center that survives stripping pendant vertices and
    // chain ends: docs whose duplication ≥ KCORE_K independent
    // neighbors corroborate — the high-confidence collapse set, vs the
    // full CC membership that q_dup_clusters reports. Fixed KCORE_ROUNDS
    // so the oracle unrolls identical rounds as chained CTEs; per round
    // one symmetric-edge ⋈ alive semi-join + one dst-keyed count, alive
    // set parquet-round-tripped (multiply referenced per round).
    "q_kcore" -> { (s, dir) =>
      Clusters.kCore(
          Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, NUM_HASHES, BANDS, THRESH),
          "doc_a", "doc_b", KCORE_K, KCORE_ROUNDS)
        .select(col("id").as("doc_id"), col("core_degree"))
    },

    // ── degree distribution of the near-dup graph ──────────────────────
    // The one-glance shape diagnostic a dedup run reads before trusting
    // its banding: a power-law-ish tail says template families; a spike
    // at high degree says a band collapsed (too-coarse LSH) and the
    // pair volume downstream is about to explode. Two keyed aggregates
    // over the pair list — output rows bounded by max degree.
    "q_degree_hist" -> { (s, dir) =>
      val vp = Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
        "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
      vp.select(col("doc_a").as("x"))
        .union(vp.select(col("doc_b").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    },

    // ── stopword-ratio profile by language ─────────────────────────────
    // The per-language read of the quality model's stopword feature in
    // isolation: corpora where the English stopword list fires at a
    // high rate in a NON-English slice are mislabeled or code-switched
    // — the audit a lang-routing stage runs before trusting `lang`.
    // One projection + one |langs|-row aggregate, ppm integers.
    "q_stopword_profile" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          TextFunctions.tokenCount(col("text")).cast("long").as("toks"),
          TextFunctions.stopwordCount(col("text")).cast("long").as("stops"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(col("stops")).as("n_stopwords"))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("n_stopwords"),
          expr("CASE WHEN n_tokens = 0 THEN NULL " +
            "ELSE n_stopwords * 1000000 div n_tokens END").as("stop_ppm"))
    },

    // ── vocabulary growth curve (Heaps-law read, k-gram types) ─────────
    // New distinct k-gram shingle types contributed by each decile of
    // the corpus in doc-id (arrival) order, plus the cumulative type
    // count: the curve flattening early says the corpus has gone stale
    // (new data recombines what the old data already said — same signal
    // family as q_ngram_novelty but decile-bucketed and one-glance).
    // First-occurrence is a shingle-keyed min over the shared distinct
    // (doc, shingle) table; the only window is ≤ GROWTH_BUCKETS rows.
    "q_vocab_growth" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val firstSeen = docs
        .select(col("doc_id"), TextFunctions.tokens(lower(col("text")))
          .as("toks"))
        .filter(size(col("toks")) >= K)
        .select(col("doc_id"), explode(array_distinct(
          TextFunctions.shinglesFromTokens(col("toks"), K))).as("gram"))
        .groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      firstSeen.crossJoin(broadcast(n))
        .select(expr(s"first_doc * $GROWTH_BUCKETS div n_docs")
          .as("decile"))
        .groupBy(col("decile")).agg(count(lit(1)).as("new_terms"))
        .withColumn("cum_vocab", sum(col("new_terms")).over(w))
    },

    // ── token inflation by source (near-dup collapse basis) ────────────
    // Per source: how many tokens the raw slice claims vs what survives
    // collapsing LSH-verified clusters to their min-id member — the
    // "token inflation" a mixture-weight owner must correct for before
    // weighting sources by raw size (a source that is 30 % rewrites of
    // itself is smaller than it looks). Survivorship is doc_id ==
    // cluster_id on the shared member table; singletons survive by
    // definition (left join, null cluster).
    "q_dedup_inflation" -> { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val members = Clusters.memberTable(
          Dedup.lshVerifiedPairs(docs, "doc_id", "text",
            K, NUM_HASHES, BANDS, THRESH))
        .select(col("doc_id"), col("cluster_id"))
      docs.select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("toks"))
        .join(members, Seq("doc_id"), "left_outer")
        .withColumn("keep",
          col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept_docs"),
          sum(when(col("keep"), col("toks")).otherwise(0L))
            .as("kept_tokens"))
        .withColumn("inflation_bp",
          expr("CASE WHEN kept_tokens = 0 THEN NULL " +
            "ELSE n_tokens * 10000 div kept_tokens END"))
    },

    // ── character-class profile by language ────────────────────────────
    // Alpha/digit/whitespace/punct composition per lang slice in ppm —
    // the one-glance encoding-health readout (a lang slice that is 30 %
    // digits is tables, not prose; punct spikes are markup leakage).
    // Four codegen'd regex passes + one |langs|-row aggregate.
    "q_char_class_profile" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("n"),
          TextFunctions.alphaCount(col("text")).cast("long").as("alpha"),
          length(regexp_replace(col("text"), "[^0-9]", ""))
            .cast("long").as("digit"),
          length(regexp_replace(col("text"), "[^\\s]", ""))
            .cast("long").as("space"),
          TextFunctions.punctCount(col("text")).cast("long").as("punct"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_chars"),
          sum(col("alpha")).as("a"), sum(col("digit")).as("g"),
          sum(col("space")).as("w"), sum(col("punct")).as("p"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          expr("CASE WHEN n_chars = 0 THEN NULL " +
            "ELSE a * 1000000 div n_chars END").as("alpha_ppm"),
          expr("CASE WHEN n_chars = 0 THEN NULL " +
            "ELSE g * 1000000 div n_chars END").as("digit_ppm"),
          expr("CASE WHEN n_chars = 0 THEN NULL " +
            "ELSE w * 1000000 div n_chars END").as("space_ppm"),
          expr("CASE WHEN n_chars = 0 THEN NULL " +
            "ELSE p * 1000000 div n_chars END").as("punct_ppm"))
    },

    // ── degree assortativity of the near-dup graph ─────────────────────
    // Do high-degree docs pair with other high-degree docs (assortative,
    // template families meshing together) or with low-degree ones
    // (disassortative hub-and-spoke — one canonical doc plus scattered
    // copies)? Reported as q_correlation's engine-exact shape: the sign
    // and the SQUARED Pearson coefficient in ppm over the symmetrized
    // (du, dv) edge ends — integer sufficient statistics through
    // DECIMAL(38,0), no sqrt, no floats. Sums are dup-graph-bounded
    // (Σd² ≤ |E|·dmax with arboricity-bounded dmax), far inside the
    // DECIMAL(38) headroom q_correlation proves at 20k rows.
    "q_assortativity" -> { (s, dir) =>
      // the pair table feeds three plan positions (the edge scan and
      // both degree joins); truncate it ([[Fixpoint]]) so the LSH chain
      // is analyzed and EXECUTED once, not per position
      val vp = Fixpoint.truncate(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
          .select("doc_a", "doc_b"),
        graft.CacheRegistry.scratch("assort_pairs"))
      val sym = vp.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(vp.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val ends = sym
        .join(deg.select(col("src").as("s1"), col("d").as("du")),
          col("src") === col("s1"))
        .join(deg.select(col("src").as("s2"), col("d").as("dv")),
          col("dst") === col("s2"))
        .select(col("du"), col("dv"))
      ends.agg(count(lit(1)).as("cnt"),
          sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
          sum(expr("du * dv")).as("sxy"),
          sum(expr("du * du")).as("sxx"),
          sum(expr("dv * dv")).as("syy"))
        .selectExpr(("CAST(cnt AS DECIMAL(38,0)) AS cnt" +:
          Seq("sx", "sy", "sxy", "sxx", "syy")
            .map(c => s"CAST($c AS DECIMAL(38,0)) AS $c")): _*)
        .selectExpr("CAST(cnt AS BIGINT) AS n_dir_edges",
          "CAST(sx AS BIGINT) AS sum_deg",
          "CAST(sxy AS BIGINT) AS sum_dudv",
          """CASE WHEN (cnt*sxy - sx*sy) > 0 THEN CAST(1 AS BIGINT)
            |     WHEN (cnt*sxy - sx*sy) < 0 THEN CAST(-1 AS BIGINT)
            |     ELSE CAST(0 AS BIGINT) END AS assort_sign""".stripMargin,
          """CASE WHEN ((cnt*sxx - sx*sx) * (cnt*syy - sy*sy)) = 0
            |     THEN CAST(NULL AS BIGINT)
            |     ELSE CAST(((cnt*sxy - sx*sy) * (cnt*sxy - sx*sy)
            |       * 1000000) div ((cnt*sxx - sx*sx) * (cnt*syy - sy*sy))
            |       AS BIGINT) END AS assort2_ppm""".stripMargin)
    },

    // ── Zipf slope of the term-frequency head (log₂-log₂ fit, ppm) ─────
    // Does the corpus obey Zipf's law? Least-squares slope of
    // (⌊log₂ rank⌋, ⌊log₂ freq⌋) over the top-ZIPF_TOP terms — a
    // natural corpus sits near −10⁶ ppm (slope −1); a template-stamped
    // or boilerplate-heavy crawl flattens the head (slope → 0), and a
    // spam corpus with one runaway token steepens it. Integer-exact
    // cross-engine: the log₂ floor is binary-string length − 1 (the
    // q_shingle_df_histogram idiom — no float log), the moments are
    // tiny (n ≤ 64, x ≤ 6), and the ONE negative division is
    // sign-split in the oracle so DuckDB's floor `//` matches Spark's
    // truncating `div` (the q_top_eigvec convention). Head selection
    // is orderBy+limit (TakeOrdered — no global window); the only
    // window ranks ≤ ZIPF_TOP rows.
    "q_zipf_slope" -> { (s, dir) =>
      val tf = Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(explode(TextFunctions.tokens(lower(col("text"))))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
      val head = tf.orderBy(col("c").desc, col("term").asc)
        .limit(ZIPF_TOP)
      val w = Window.orderBy(col("c").desc, col("term").asc)
      head.withColumn("r", row_number().over(w))
        .select((length(bin(col("r"))) - 1).cast("long").as("x"),
          (length(bin(col("c"))) - 1).cast("long").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
          sum(expr("x * x")).as("sxx"))
        .selectExpr("CAST(n AS BIGINT) AS n_terms",
          """CASE WHEN (n*sxx - sx*sx) = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST((n*sxy - sx*sy) * 1000000
            |    div (n*sxx - sx*sx) AS BIGINT)
            |END AS slope_ppm""".stripMargin)
    },

    // ── distance-2 link prediction on the SimHash near-dup graph ───────
    // The "which pair sits one notch outside the radius" audit: every
    // NON-adjacent doc pair sharing ≥ 1 SimHash near-dup neighbor,
    // scored by common neighbors, resource-allocation Σ 10⁶ div deg(w)
    // (the integral Adamic–Adar), and neighborhood Jaccard. The
    // SimHash graph is the right input because Hamming balls are NOT
    // transitive — A~B and B~C puts A,C within 2·radius but often
    // outside the pair cut, exactly the near-miss a re-verify queue
    // wants ranked (the Jaccard-verified graph is transitively closed
    // on this corpus: its wedge set is empty by construction). Wedge
    // volume is capped at the center (deg ≤ WEDGE_CAP — a collapsed
    // hub predicts nothing and would dominate the join); the cap is
    // part of the operator contract and the oracle applies it
    // identically. See Clusters.linkPrediction.
    "q_link_prediction" -> { (s, dir) =>
      Clusters.linkPrediction(
          Dedup.simhashNearDupPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", MAX_HAMMING),
          "doc_a", "doc_b", WEDGE_CAP)
        .select(col("u").as("doc_a"), col("v").as("doc_b"),
          col("cn"), col("ra_ppm"), col("jaccard_bp"))
    },

    // ── cluster diversity: source/lang spread inside dup clusters ──────
    // Is a near-dup cluster one site re-posting itself, or the same
    // content SYNDICATED across sources (and languages)? Per cluster:
    // member count, distinct sources, distinct langs, and a
    // cross_source flag — cross-source clusters are the ones whose
    // collapse changes mixture weights (q_dedup_inflation prices the
    // aggregate; this names the clusters). Member table from the
    // shared CC fixpoint, attrs by one id-keyed join, per-cluster
    // distinct counts bounded by cluster size.
    "q_cluster_diversity" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val members = Clusters.memberTable(
        Dedup.lshVerifiedPairs(d, "doc_id", "text", K, NUM_HASHES,
          BANDS, THRESH))
      members
        .join(d.select(col("doc_id"), col("source"), col("lang")),
          "doc_id")
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("cross_source", col("n_sources") > 1)
    },

    // ── detector agreement: LSH-verified vs winnow-match pair sets ─────
    // Do the whole-doc detector (MinHash-LSH + exact-Jaccard verify)
    // and the partial-overlap detector (shared winnow fingerprints)
    // find the SAME pairs? One row: pairs both find, pairs only each
    // finds, and the pair-set Jaccard in bp. lsh-only = overall-similar
    // docs with no long shared run (paraphrase-shaped); winnow-only =
    // docs sharing a ≥6-token run inside otherwise-different text
    // (quotation/boilerplate) — the two tails are different REMOVAL
    // decisions, which is why a curation stack runs both. Full-outer
    // join of two dup-bounded pair tables, one fold.
    "q_detector_agreement" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val l = Dedup.lshVerifiedPairs(d, "doc_id", "text", K,
          NUM_HASHES, BANDS, THRESH)
        .select(col("doc_a"), col("doc_b"))
        .withColumn("in_lsh", lit(1))
      val wm = Winnow.matches(d)
        .select(col("doc_a"), col("doc_b"))
        .withColumn("in_win", lit(1))
      l.join(wm, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(when(col("in_lsh").isNotNull && col("in_win").isNotNull,
            1L).otherwise(0L)).as("n_both"),
          sum(when(col("in_lsh").isNotNull && col("in_win").isNull,
            1L).otherwise(0L)).as("n_lsh_only"),
          sum(when(col("in_lsh").isNull && col("in_win").isNotNull,
            1L).otherwise(0L)).as("n_winnow_only"))
        .withColumn("agreement_bp", expr(
          """CASE WHEN n_both + n_lsh_only + n_winnow_only = 0
            |  THEN CAST(NULL AS BIGINT)
            |  ELSE n_both * 10000
            |    div (n_both + n_lsh_only + n_winnow_only)
            |END""".stripMargin))
    },

    // ── Jaccard threshold sweep (the "how aggressive" dedup knob) ──────
    // What each cut of the similarity threshold would do: for rungs
    // 50/60/70/80 %, the surviving pair count and how many distinct
    // docs those pairs touch — the measured curve behind choosing
    // THRESH, next to q_lsh_tuning's banding curve. Superset rewrite
    // (the q_ann_nprobe_sweep convention): ONE inverted-index pass
    // builds the uncut pair table, each rung is an integer re-filter
    // on the same derived j_bp — both engines compare the identical
    // floored basis points, so rung membership is exact.
    "q_jaccard_threshold_sweep" -> { (s, dir) =>
      val p = graft.CacheRegistry.persist(
        Dedup.jaccardPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, MAX_DF, 0)
          .withColumn("j_bp",
            expr("n_common * 10000 div (sz_a + sz_b - n_common)")))
      val sw = p
        .select(explode(array(lit(50), lit(60), lit(70), lit(80)))
          .as("threshold_pct"), col("doc_a"), col("doc_b"),
          col("j_bp"))
        .filter(col("j_bp") >= col("threshold_pct") * 100)
      val pairsPerRung = sw.groupBy(col("threshold_pct"))
        .agg(count(lit(1)).as("n_pairs"))
      val docsPerRung = sw
        .select(col("threshold_pct"),
          explode(array(col("doc_a"), col("doc_b"))).as("d"))
        .groupBy(col("threshold_pct"))
        .agg(countDistinct(col("d")).as("n_docs"))
      pairsPerRung.join(docsPerRung, "threshold_pct")
    },

    // ── cross-language near-dup matrix ─────────────────────────────────
    // Near-dup pairs bucketed by their endpoints' LANGUAGE labels —
    // off-diagonal mass is either translated boilerplate (the same
    // template stamped across locales, a real multilingual-corpus
    // hazard) or lang-ID noise on near-identical docs; both need a
    // different fix than ordinary dedup. Pairs from the shared
    // verified-LSH table, labels attached by two id-keyed broadcast
    // lookups on the lang projection; output bounded by |langs|².
    // Language pair is canonicalized (least, greatest) so (en, fr)
    // and (fr, en) fold together.
    "q_crosslang_dup" -> { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val vp = Dedup.lshVerifiedPairs(d, "doc_id", "text", K,
        NUM_HASHES, BANDS, THRESH)
      val langs = d.select(col("doc_id"), col("lang"))
      vp.join(langs.toDF("doc_a", "lang_a"), "doc_a")
        .join(langs.toDF("doc_b", "lang_b"), "doc_b")
        .select(least(col("lang_a"), col("lang_b")).as("lang_1"),
          greatest(col("lang_a"), col("lang_b")).as("lang_2"))
        .groupBy(col("lang_1"), col("lang_2"))
        .agg(count(lit(1)).as("n_pairs"))
    },

    // ── hapax rate + type/token ratio by source ────────────────────────
    // Vocabulary health per source: the share of terms occurring
    // EXACTLY once in that source (hapax legomena — high = rich/noisy
    // long tail, collapsing = template-stamped output) and the
    // type/token ratio, both in bp. The complement of q_vocab_growth's
    // arrival-order read: per-source and frequency-resolved. One
    // (source, term) aggregate — inverted-index economics — then a
    // |sources|-row rollup.
    "q_hapax_rate" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("source"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
        .groupBy(col("source"), col("term"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .select(col("source"), col("n_types"), col("n_tokens"),
          col("n_hapax"),
          expr("n_hapax * 10000 div n_types").as("hapax_bp"),
          expr("n_types * 10000 div n_tokens").as("type_token_bp"))
    },

    // ── Newman modularity of the near-dup partitions (CC vs LPA) ───────
    // THE number that says whether a clustering respects the graph:
    // Q = Σ_c [e_in(c)/m − (d_c/2m)²], here in basis points via the
    // single-division identity (4m·Σe_in − Σd_c²)·10⁴ div (4m²) — one
    // truncating division, DECIMAL(38,0)/HUGEINT, sign-split in the
    // oracle because a worse-than-random partition goes negative. Both
    // partitions of the SAME verified-pair graph are scored: CC (where
    // e_in = m BY CONSTRUCTION — every edge lives inside its
    // component, so the row pins the 1 − Σ(d_c/2m)² identity) and LPA
    // (which can cut bridges, so its e_in < m prices what the cut
    // bought). The audit a cluster owner reads before choosing which
    // partition drives the drop list.
    //
    // 100 TB posture: labels come from the existing bounded-lineage
    // fixpoint/round loops; the scoring pass is two node-keyed joins
    // (edge ⋈ label twice) + |communities|-bounded aggregates.
    "q_modularity" -> { (s, dir) =>
      val vp = graft.CacheRegistry.persist(
        Dedup.lshVerifiedPairs(Tables.load(s, dir, "documents"),
            "doc_id", "text", K, NUM_HASHES, BANDS, THRESH)
          .select(col("doc_a").cast("long").as("doc_a"),
            col("doc_b").cast("long").as("doc_b")))
      // both loops consume the SAME symmetric edge list — materialize
      // (truncate + co-locate + cache) it once, not once per loop (r16)
      val (edges, nEdges) = Clusters.sharedSymEdges(vp, "doc_a", "doc_b")
      val cc = Clusters.connectedComponentsOnEdges(edges,
        edgeCount = Some(nEdges))
      val lpa = Clusters.labelPropagationOnEdges(edges, LPA_ITERS,
        edgeCount = Some(nEdges))
      Clusters.modularityOf(vp,
          cc.select(col("id"), col("cluster_id")), "cc")
        .unionByName(Clusters.modularityOf(vp,
          lpa.select(col("id"), col("community")), "lpa"))
    },

    // ── BM25 ranked retrieval (integer contract, top-20) ───────────────
    // The lexical-search counterpart of the ANN family: Okapi BM25 over
    // a fixed query-term panel, k1 = 1.2, b = 0.75, with every factor
    // integral so both engines rank identically — idf as the floor-log₂
    // bit length of 2N/(2df+1) (the Robertson idf's integer image, same
    // binary-string idiom as q_zipf_slope), length normalization via
    // len·N div total_len (avgdl never materialized as a float), and
    // the tf saturation tf·(100+k1)·100 div (tf·100 + k1·norm div 100)
    // in basis points. All divisions positive → truncate ≡ floor.
    //
    // 100 TB posture: the ONLY corpus-sized work is the token explode
    // (shared shape with q_text_stats); tf rows are filtered to the
    // query panel BEFORE the doc-keyed aggregate, df/stats are
    // broadcast one-row/|Q|-row tables, and the final cut is
    // orderBy+limit (TakeOrdered — no global window).
    "q_bm25_topk" -> { (s, dir) =>
      val toks = graft.CacheRegistry.persist(
        Tables.load(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            explode(TextFunctions.tokens(lower(col("text"))))
              .as("term")))
      val dlen = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("len"))
      val stats = dlen.agg(count(lit(1)).as("nd"), sum(col("len")).as("tl"))
      val tf = toks.filter(col("term").isin(BM25_QUERY: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), "term")
        .join(dlen, "doc_id")
        .crossJoin(broadcast(stats))
        .withColumn("idf_bits",
          (length(bin(greatest(lit(1L),
            expr("nd * 2 div (2 * df + 1)")))) - 1).cast("long"))
        .withColumn("norm_c",
          expr(s"100 - $BM25_B_C + ($BM25_B_C * len * nd) div tl"))
        .withColumn("part_bp", expr(
          s"(tf * ${100 + BM25_K1_C} * 100)" +
            s" div (tf * 100 + ($BM25_K1_C * norm_c) div 100)"))
        .groupBy(col("doc_id"))
        .agg(sum(expr("idf_bits * part_bp")).as("score"),
          count(lit(1)).as("n_terms_hit"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(BM25_TOP)
    },

    // ── stemming vocabulary collapse (suffix-stripper) ─────────────────
    // The light deterministic stemmer every lexical pipeline runs
    // before indexing (a Porter-lite: ing/ed/es/ly/s with minimum-stem
    // guards), measured by what it actually buys — per language, the
    // distinct-type count before vs after and the collapse in bp. The
    // stemmer is ONE shared CASE chain (LIKE + substr — identical
    // semantics in both engines, no regex lookbehind), so the oracle
    // runs the very same rule text. One tokenize + one lang-keyed
    // two-distinct aggregate.
    "q_stemmed_vocab" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("lang"),
          explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
        .withColumn("stem", expr(STEM_CASE))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_types"),
          countDistinct(col("stem")).as("n_stem_types"))
        .withColumn("collapse_bp",
          expr("(n_types - n_stem_types) * 10000 div n_types"))
    },

    // ── Simpson token-concentration index (repeated-token mass) ────────
    // The lexical-diversity complement of q_repetition (3-gram repeat
    // SHARE) and q_hapax_rate (per-SOURCE type/token): per DOCUMENT, the
    // probability two tokens drawn without replacement are equal —
    // Σ c·(c−1) · 10⁶ div (n·(n−1)) over the doc's token counts. A
    // low-diversity (spammy/templated) doc scores high; the measure is
    // length-unbiased (unlike raw TTR, which shrinks with n), which is
    // why diversity filters prefer it. Integer-exact end to end, so the
    // hash gate holds; n ≤ 10⁴ tokens keeps c·(c−1)·10⁶ ≪ 2⁶³.
    //
    // 100 TB posture: one tokenize + two doc-keyed aggregates — the
    // shuffle key is doc_id, partial aggregation is map-side, and no
    // cross-document state exists at all (corpus-linear).
    "q_simpson_diversity" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextFunctions.tokens(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs"))
        .filter(col("n_tokens") >= 2)
        .select(col("doc_id"), col("n_tokens"),
          expr("rep_pairs * 1000000 div (n_tokens * (n_tokens - 1))")
            .as("simpson_ppm"))
    },

    // ── readability shape (syllable-proxy profile) ─────────────────────
    // Flesch-style INPUTS as exact integer per-doc rates: the vowel-RUN
    // count is the standard syllable proxy ('[aeiouy]+' matches —
    // alternation-free, RE2-safe, so the oracle runs the identical
    // pattern), and the two rates every readability formula combines —
    // syllables/word (ppm) and letters/word (centi) — are emitted as
    // integer ratios instead of a float grade, keeping the hash gate
    // exact and letting the consumer apply whichever formula's
    // coefficients it wants. The corpus has no sentence punctuation
    // (verified: zero '[.!?]' matches at sf0.01), so words/sentence is
    // deliberately NOT emitted — it would be the constant n_words.
    //
    // 100 TB posture: a single projection over the scan — no shuffle,
    // no join, whole-stage codegen end to end.
    "q_readability" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_words"),
          size(regexp_extract_all(lower(col("text")),
            lit("[aeiouy]+"), lit(0))).cast("long").as("n_syll"),
          TextFunctions.alphaCount(col("text")).cast("long").as("n_alpha"))
        .filter(col("n_words") >= 1)
        .select(col("doc_id"), col("n_words"), col("n_syll"),
          expr("n_syll * 1000000 div n_words").as("spw_ppm"),
          expr("n_alpha * 100 div n_words").as("lpw_centi"))
    },

    // ── Cohen's kappa between the lang label and the lang-ID heuristic ─
    // The one-number chance-corrected summary of q_lang_confusion's
    // matrix — raw agreement flatters any labeler when one class
    // dominates; kappa subtracts the agreement two independent labelers
    // with these MARGINS would reach by luck. Emitted as
    // kappa_ppm = (N·agree − Σ row·col)·10⁶ div (N² − Σ row·col):
    // every product runs in DECIMAL(38,0) (HUGEINT on the oracle side)
    // because N² and Σ row_k·col_k pass int64 at ~3.04e9 docs — plain
    // bigint would WRAP silently under ANSI-off while DuckDB throws —
    // and only the final ppm (|kappa_ppm| ≤ 10⁶, always int64-safe) is
    // cast back down. Truncating division toward zero is identical in
    // Spark `div` and DuckDB `//`, so the negative-kappa case (worse
    // than chance) divides the same in both engines. Exact up to
    // N < 10¹⁶ (then N²·10⁶ hits the DECIMAL(38) ceiling). A one-class
    // degenerate corpus makes the denominator 0 — guarded to NULL on
    // both sides (Spark would NULL, DuckDB would throw).
    //
    // 100 TB posture: one corpus-keyed confusion aggregate (|langs|²
    // rows), then every margin/total is a broadcast-scale fold.
    "q_labeler_kappa" -> { (s, dir) =>
      // the |langs|²-row confusion table feeds FOUR aggregates (row
      // margins, col margins, total, agree) — persist it or each one
      // re-derives the corpus scan + marker scoring (measured ~3× the
      // q_lang_confusion cost unpersisted)
      val cm = graft.CacheRegistry.persist(
        Tables.load(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n")))
      val rows = cm.groupBy(col("lang")).agg(sum(col("n")).as("row_n"))
      val cols = cm.groupBy(col("lang_pred"))
        .agg(sum(col("n")).as("col_n"))
      val pe = rows.join(cols, rows("lang") === cols("lang_pred"))
        .agg(coalesce(
          sum(expr("CAST(row_n AS DECIMAL(38,0)) * col_n")),
          lit(0).cast("decimal(38,0)")).as("pe_raw"))
      cm.agg(sum(col("n")).as("n_docs"),
          sum(when(col("lang") === col("lang_pred"), col("n"))
            .otherwise(0L)).as("agree_n"))
        .crossJoin(broadcast(pe))
        .select(col("n_docs"), col("agree_n"),
          expr("""CASE
            WHEN CAST(n_docs AS DECIMAL(38,0)) * n_docs - pe_raw = 0
            THEN NULL
            ELSE (CAST(n_docs AS DECIMAL(38,0)) * agree_n - pe_raw)
                   * 1000000
                 div (CAST(n_docs AS DECIMAL(38,0)) * n_docs - pe_raw)
            END""").as("kappa_ppm"))
    },

    // ── per-class precision/recall/F1 of the lang-ID heuristic ─────────
    // Completes the labeler-eval trio (q_lang_confusion's matrix,
    // q_labeler_kappa's one-number chance correction) with the
    // per-CLASS readout: tp/fp/fn per language and the three rates in
    // bp — F1 computed as the exact single division 2·tp·10⁴ div
    // (2·tp + fp + fn), never the bp-rounded P/R composition. Classes
    // are the UNION of true and predicted labels (a class never
    // predicted still reports recall; a hallucinated class reports
    // precision 0). All counts from one confusion aggregate; margins
    // are |langs|-row folds joined full-outer then zero-filled.
    "q_labeler_prf" -> { (s, dir) =>
      val cm = graft.CacheRegistry.persist(
        Tables.load(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred"))
          .groupBy(col("lang"), col("lang_pred"))
          .agg(count(lit(1)).as("n")))
      val tp = cm.filter(col("lang") === col("lang_pred"))
        .select(col("lang").as("cls"), col("n").as("tp"))
      val actual = cm.groupBy(col("lang").as("cls"))
        .agg(sum(col("n")).as("n_actual"))
      val predicted = cm.groupBy(col("lang_pred").as("cls"))
        .agg(sum(col("n")).as("n_predicted"))
      actual.join(predicted, Seq("cls"), "full_outer")
        .join(tp, Seq("cls"), "left_outer")
        .na.fill(0L, Seq("n_actual", "n_predicted", "tp"))
        .select(col("cls"), col("n_actual"), col("n_predicted"),
          col("tp"),
          (col("n_predicted") - col("tp")).as("fp"),
          (col("n_actual") - col("tp")).as("fn"))
        .withColumn("precision_bp", expr(
          "CASE WHEN n_predicted = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE tp * 10000 div n_predicted END"))
        .withColumn("recall_bp", expr(
          "CASE WHEN n_actual = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE tp * 10000 div n_actual END"))
        .withColumn("f1_bp", expr(
          "CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE 2 * tp * 10000 div (2 * tp + fp + fn) END"))
    },

    // ── distinctive terms per source (association lift top-5) ──────────
    // "What makes this crawl different" — the source-profiling readout
    // behind mixture decisions: per source, the AFF_TOP terms most
    // over-represented vs the corpus, by lift c_st·N / (c_s·c_t) in bp
    // (monotone with PMI; DECIMAL(38,0)/HUGEINT products so no width
    // cliff), support-floored at AFF_MIN_SUPPORT so rare-term noise
    // can't top the list. The per-source cut is a k-capped
    // bounded_topk — NO window over the (source, term) table, which is
    // vocab-sized at 100 TB. Ranking contract (both engines): order by
    // (least(lift_bp, 2⁵³) DESC, h ASC, term ASC). The saturation
    // matters because bounded_topk scores in double: every integer
    // ≤ 2⁵³ is exact in double, so the Spark heap and the oracle's
    // BIGINT sort agree bit-for-bit; above 2⁵³ (reachable at corpus
    // scale: lift_bp ≈ N·10⁴·c_st/(c_s·c_t) passes 9·10¹⁵ once
    // N ≳ 10¹² with floor-support terms) both engines saturate and
    // fall to the hash/term tie-break instead of silently diverging on
    // double rounding. The topk payload is the term's 60-bit hash;
    // AFF_TOP_HEADROOM extra candidates absorb in-source hash
    // collisions, and the join-back re-ranks the ≤ (k+headroom)-row
    // candidate set per source with the FULL (lift, h, term) order —
    // a bounded window — so a collision can neither fan a rank out to
    // two terms nor push a true top-5 term below the cut. (Residual
    // epsilon: two distinct terms in one source agreeing on BOTH the
    // saturated lift and all 60 hash bits could under-fill the heap;
    // that needs an exact (lift, h) double collision inside one
    // source.)
    "q_source_term_affinity" -> { (s, dir) =>
      // the (source, term) tf table feeds three consumers (margins ×2 +
      // the scored join) — persist it or each re-runs the tokenize
      val st = graft.CacheRegistry.persist(
        Tables.load(s, dir, "documents")
          .select(col("source"),
            explode(TextFunctions.tokens(lower(col("text")))).as("term"))
          .groupBy(col("source"), col("term"))
          .agg(count(lit(1)).as("c_st")))
      val srcTot = st.groupBy(col("source")).agg(sum(col("c_st")).as("c_s"))
      val termTot = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
      val tot = srcTot.agg(sum(col("c_s")).as("n_total"))
      val scored = graft.CacheRegistry.persist(
        st.filter(col("c_st") >= AFF_MIN_SUPPORT)
          .join(broadcast(srcTot), "source")
          .join(termTot, "term")
          .crossJoin(broadcast(tot))
          .withColumn("h", Dedup.shingleHash(col("term")))
          .withColumn("lift_bp", expr(
            "CAST(c_st AS DECIMAL(38,0)) * n_total * 10000" +
              " div (CAST(c_s AS DECIMAL(38,0)) * c_t)"))
          // saturate at 2^53 BEFORE the double cast: exact in double,
          // same constant the oracle least()s against
          .withColumn("lift_sat", least(col("lift_bp"),
            lit(9007199254740992L))))
      val cand = scored
        .groupBy(col("source"))
        .agg(expr("bounded_topk(CAST(-lift_sat AS DOUBLE), h, " +
          s"${AFF_TOP + AFF_TOP_HEADROOM})").as("top"))
        .select(col("source"), explode(col("top.n")).as("h"))
      // candidate set is ≤ (AFF_TOP + headroom + collisions) rows per
      // source — the re-rank window is bounded by construction, and
      // ranking on (lift_sat, h, term) makes a collision pair land on
      // distinct ranks exactly like the oracle's row_number
      val w = Window.partitionBy(col("source"))
        .orderBy(col("lift_sat").desc, col("h").asc, col("term").asc)
      scored.join(broadcast(cand), Seq("source", "h"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= AFF_TOP)
        .select(col("source"), col("term"), col("c_st"),
          col("lift_bp"), col("rank"))
    }
  )

  /** The q_dup_ngram_coverage body over any (id, text) table: per doc,
    * how many of its distinct k-gram shingles appear in ≥2 documents
    * (count + basis points). Inverted-index economics: one gram-keyed
    * df aggregate, one gram-keyed join back, one doc-keyed fold.
    */
  def dupNgramCoverage(docs: DataFrame, id: String, text: String,
                       k: Int = 3): DataFrame = {
    val sh = docs
      .select(col(id), TextFunctions.tokens(lower(col(text))).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col(id), explode(array_distinct(
        TextFunctions.shinglesFromTokens(col("toks"), k))).as("gram"))
    // (doc, gram) is distinct ⇒ count(*) per gram IS document frequency
    val dfreq = sh.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, "gram")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("coverage_bp", expr("n_shared * 10000 div n_grams"))
  }

  /** The q_bigram_lm_score body over any (id, text) table: integer
    * bigram-LM surprisal proxy (mean 10⁶·n(w1·)/n(w1,w2) per doc) with
    * the model trained on the corpus itself. Model tables are
    * vocab-bounded and broadcast.
    */
  def bigramLmScores(docs: DataFrame, id: String,
                     text: String): DataFrame = {
    val bi = docs
      .select(col(id), TextFunctions.tokens(lower(col(text))).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col(id), explode(expr(
        "transform(sequence(0, size(t) - 2), i -> " +
          "struct(t[i] AS w1, concat(t[i], ' ', t[i + 1]) AS pair))"))
        .as("bg"))
      .select(col(id), col("bg.w1").as("w1"), col("bg.pair").as("pair"))
    val model = bi.groupBy(col("pair")).agg(count(lit(1)).as("n_pair"))
    val ctx = bi.groupBy(col("w1")).agg(count(lit(1)).as("n_ctx"))
    bi.join(broadcast(model), "pair")
      .join(broadcast(ctx), "w1")
      .withColumn("sup", expr("n_ctx * 1000000 div n_pair"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("sup")).as("surprisal_sum"))
      .withColumn("lm_score", expr("surprisal_sum div n_bigrams"))
  }

  /** The q_curation_funnel body over any (doc_id, text) table:
    * (doc_id, verdict) with verdict ∈ {duplicate, too_short,
    * low_quality, unknown_lang, keep}, first failing rule wins.
    * Duplicate = any non-first doc (by id) of an exact normalized-text
    * fingerprint group.
    */
  def curationFunnel(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.fingerprint(col("text")).as("fp"))
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id").asc)
    base.withColumn("dup_rank", row_number().over(w))
      .select(col("doc_id"),
        when(col("dup_rank") > 1, lit("duplicate"))
          .when(col("n_tokens") < 10, lit("too_short"))
          .when(col("quality") < 40, lit("low_quality"))
          .when(col("lang_pred") === "und", lit("unknown_lang"))
          .otherwise(lit("keep")).as("verdict"))
  }

  // ─── DuckDB oracle twins ──────────────────────────────────────────────

  /** tokens CTE: lowercased whitespace tokens per doc. */
  /** DuckDB replay of the sampled-fit BPE trainer (q_bpe_sampled) —
    * the argmax-per-round loop UNROLLED into BPE_SAMPLED_MERGES CTE
    * rounds. Token lists ride as SENTINEL STRINGS — each unit
    * wrapped in chr(31) ("U" below) and abutted, `U tok U U tok U ...`
    * — safe because the corpus holds no control chars and whitespace
    * tokenization can never emit one. Applying a merge is then ONE
    * left-to-right non-overlapping `replace` of `U l U U r U` with
    * `U l-space-r U` (the merged unit joins with a space) — byte-for-byte
    * the greedy first-wins fold [[Bpe.applyMerge]] runs (verified on
    * the [a,a,a] overlap case). Each round: split back to a list,
    * count adjacent pairs, deterministic argmax (count DESC, left,
    * right; the n >= 2 floor is the trainer's early stop — an empty
    * top CTE leaves the corpus untouched via the LEFT JOIN, exactly
    * the exhausted-trainer fixpoint), apply to BOTH the training slice
    * (st_k) and the full corpus (ft_k). The final SELECT joins the
    * merge table to the full-corpus unit counts.
    */
  private lazy val bpeSampledSql: String = {
    val U = "chr(31)"
    val slicePred =
      s"AND ${Dedup.hash32Sql(BPE_SAMPLE_SEED, "CAST(doc_id AS VARCHAR)")} % 100 < $BPE_SAMPLE_PCT"
    def toksSrc(pred: String) =
      s"""SELECT doc_id, $U || array_to_string(t, $U||$U) || $U AS s FROM (
         |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0 $pred)""".stripMargin
    def applyCte(src: String, k: Int) =
      s"""$src${k + 1} AS (SELECT doc_id, CASE WHEN t.l IS NOT NULL THEN
         |    replace(s, $U||t.l||$U||$U||t.r||$U, $U||t.l||' '||t.r||$U)
         |    ELSE s END AS s
         |  FROM $src$k LEFT JOIN top$k t ON TRUE)""".stripMargin
    val rounds = (0 until BPE_SAMPLED_MERGES).flatMap { k =>
      Seq(
        s"""tk$k AS (SELECT doc_id, string_split(trim(s, $U), $U||$U) AS t
           |  FROM st$k)""".stripMargin,
        s"""pairs$k AS (SELECT t[CAST(i AS INT)] AS l,
           |    t[CAST(i + 1 AS INT)] AS r, count(*) AS n
           |  FROM tk$k, unnest(range(1, len(t))) AS u(i)
           |  WHERE len(t) >= 2 GROUP BY 1, 2)""".stripMargin,
        s"""top$k AS (SELECT l, r, n FROM pairs$k WHERE n >= 2
           |  ORDER BY n DESC, l ASC, r ASC LIMIT 1)""".stripMargin,
        applyCte("st", k),
        applyCte("ft", k))
    }
    val mergeUnion = (0 until BPE_SAMPLED_MERGES)
      .map(k => s"SELECT ${k + 1} AS rank, l, r, n FROM top$k")
      .mkString("\n  UNION ALL ")
    val ctes =
      Seq(s"st0 AS (${toksSrc(slicePred)})", s"ft0 AS (${toksSrc("")})") ++
        rounds ++ Seq(
        s"merges AS ($mergeUnion)",
        s"""uc AS (SELECT unit, count(*) AS n_units FROM (
           |    SELECT unnest(string_split(trim(s, $U), $U||$U)) AS unit
           |    FROM ft$BPE_SAMPLED_MERGES) GROUP BY 1)""".stripMargin)
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT CAST(m.rank AS BIGINT) AS rank, m.l AS merge_left,
       |  m.r AS merge_right, CAST(m.n AS BIGINT) AS n_occurrences,
       |  COALESCE(uc.n_units, 0) AS n_units_corpus
       |FROM merges m LEFT JOIN uc ON uc.unit = m.l || ' ' || m.r""".stripMargin
  }

  private val toksCte =
    """toks AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0)""".stripMargin

  /** Greedy max-coverage selection (the q_maxcover_docs body, generic):
    * pick the k docs that together cover the most of the top-v-df
    * 3-word shingles, each round taking the largest MARGINAL gain
    * (gain DESC, id ASC ties). Returns one row per pick (rank, idCol,
    * gain, n_covered); stops early when the vocabulary is exhausted.
    * The covered set is driver-held (≤ v strings); each round is one
    * keyed aggregate over the v-restricted doc-shingle projection
    * ending in a global max-of-struct.
    *
    * Precondition: ONE row per document — duplicate `idCol` rows would
    * double-count that doc's shingles in both the vocabulary df and
    * the per-round gains (dedupe upstream if the frame comes from a
    * fan-out join).
    */
  def maxCoverage(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", k: Int = MAXCOV_K,
                  v: Int = MAXCOV_V): DataFrame = {
    import docs.sparkSession.implicits._
    maxcoverGreedy(docs, idCol, textCol, k, v)
      .map { case (rank, id, gain, ncov, _) => (rank, id, gain, ncov) }
      .toDF("rank", idCol, "gain", "n_covered")
  }

  /** The shared greedy core of [[maxCoverage]] and
    * [[maxCoverageSliced]]: top-v-df vocabulary over `docs`, the
    * in-row V-restricted doc-shingle projection, then up to k greedy
    * rounds. Returns one tuple per pick:
    * (rank, id, gain, n_covered, the pick's newly covered tokens) —
    * the added-token sets let the sliced form score true coverage
    * without re-deriving the rounds. One loop body so the tie rule
    * (gain DESC, id ASC via max-of-struct with negated id) and the
    * early stop can never drift between the public forms.
    */
  private def maxcoverGreedy(docs: DataFrame, idCol: String,
                             textCol: String, k: Int, v: Int)
      : Vector[(Long, Long, Long, Long, Set[String])] = {
    // ONE persisted shingle projection feeds BOTH the vocabulary pass
    // and the V-restricted projection (r17, guide §5 cache-vs-
    // recompute: the regex tokenize + sliding-window shingle build is
    // the expensive per-row term, and both passes need the full
    // shingle array per row anyway — caching it halves the
    // corpus-linear work; at scale MEMORY_AND_DISK spills and the
    // cache is released with the plan like every dedup index here)
    val shf = graft.CacheRegistry.persist(
      docs.select(col(idCol).cast("long").as("doc_id"),
          TextFunctions.shingles(col(textCol), K).as("sh")))
    val vocab = maxcoverVocabFromShingled(shf, v)
    // second pass over the CACHED shingles: restrict IN-ROW against
    // the ≤v-string vocab literal (typedlit — corpus text never
    // reaches SQL-string land), so the explode emits only vocabulary
    // hits and no join runs; array_intersect's contract already
    // de-duplicates, so no array_distinct is needed here (the vocab
    // pass keeps its own — df counts distinct docs per shingle)
    val dt = graft.CacheRegistry.persist(
      shf.select(col("doc_id"),
          explode(array_intersect(col("sh"), typedlit(vocab))).as("tok")))
    var covered = Set.empty[String]
    var picks = Vector.empty[(Long, Long, Long, Long, Set[String])]
    var done = false
    for (t <- 0 until k if !done) {
      val cand = if (covered.isEmpty) dt
        else dt.filter(!col("tok").isInCollection(covered))
      val r = cand.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("gain"), collect_set(col("tok")).as("ts"))
        .agg(max(struct(col("gain"),
          (lit(-1L) * col("doc_id")).as("nid"), col("ts"))).as("m"))
        .head().getStruct(0)
      if (r == null) done = true
      else {
        val added = r.getSeq[String](2).toSet
        covered ++= added
        picks :+= ((t.toLong, -r.getLong(1), r.getLong(0),
          covered.size.toLong, added))
      }
    }
    picks
  }

  /** The top-v-df shingle vocabulary as a driver list (≤ v strings —
    * the bounded collect the in-row restriction literal rides on);
    * shared by [[maxCoverage]] and [[maxCoverageQuota]].
    */
  private def maxcoverVocabFromShingled(shingled: DataFrame,
                                        v: Int): Seq[String] =
    shingled.select(explode(array_distinct(col("sh"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok").asc).limit(v)
      .collect().map(_.getString(0)).toSeq

  /** [[maxCoverage]] under a partition-matroid constraint: at most
    * `cap` picks per `srcCol` value (greedy keeps a 1/2 approximation
    * under a matroid). Returns (rank, idCol, srcCol, gain, n_covered).
    */
  def maxCoverageQuota(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", srcCol: String = "source",
                       k: Int = MAXCOV_K, v: Int = MAXCOV_V,
                       cap: Int = MAXCOV_CAP): DataFrame = {
    // same shared shingle cache as [[maxcoverGreedy]] (r17)
    val shf = graft.CacheRegistry.persist(
      docs.select(col(idCol).cast("long").as("doc_id"),
          col(srcCol).as("src"),
          TextFunctions.shingles(col(textCol), K).as("sh")))
    val vocab = maxcoverVocabFromShingled(shf, v)
    val dt = graft.CacheRegistry.persist(
      shf.select(col("doc_id"), col("src"),
          explode(array_intersect(col("sh"), typedlit(vocab))).as("tok")))
    var covered = Set.empty[String]
    var srcCnt = Map.empty[String, Int]
    var out = Vector.empty[(Long, Long, String, Long, Long)]
    var done = false
    for (t <- 0 until k if !done) {
      val full = srcCnt.filter(_._2 >= cap).keys.toSeq
      var cand = dt
      if (covered.nonEmpty)
        cand = cand.filter(!col("tok").isInCollection(covered))
      if (full.nonEmpty)
        cand = cand.filter(!col("src").isInCollection(full))
      val r = cand.groupBy(col("doc_id"), col("src"))
        .agg(count(lit(1)).as("gain"), collect_set(col("tok")).as("ts"))
        .agg(max(struct(col("gain"),
          (lit(-1L) * col("doc_id")).as("nid"), col("src"),
          col("ts"))).as("m"))
        .head().getStruct(0)
      if (r == null) done = true
      else {
        val src = r.getString(2)
        covered ++= r.getSeq[String](3)
        srcCnt = srcCnt.updated(src, srcCnt.getOrElse(src, 0) + 1)
        out :+= ((t.toLong, -r.getLong(1), src, r.getLong(0),
          covered.size.toLong))
      }
    }
    import docs.sparkSession.implicits._
    out.toDF("rank", idCol, srcCol, "gain", "n_covered")
  }

  /** Slice-fitted greedy max-coverage (the q_maxcover_sampled body,
    * generic): vocabulary + V-restricted projection + greedy rounds
    * all run on the deterministic hash slice (`hash(idCol) % 100 <
    * pct`); ONE full-corpus pass then scores the picks' true worth —
    * cov_pairs_full = cumulative count of distinct (doc, shingle)
    * incidences corpus-wide whose shingle the picks have covered
    * (the per-token full dfs are collected once, ≤ v rows, and
    * cumulated on the driver from each round's added tokens).
    * Output: (rank, idCol, gain, n_covered, cov_pairs_full); gain and
    * n_covered are slice-relative, cov_pairs_full is corpus-relative.
    *
    * 100 TB posture: the corpus-linear explode+df pass shrinks to the
    * slice; the full corpus is touched by exactly one in-row-restricted
    * projection + tok-keyed count (≤ v distinct keys — a broadcast-size
    * aggregate). Same precondition as [[maxCoverage]]: one row per doc.
    */
  def maxCoverageSampled(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text", k: Int = MAXCOV_K,
                         v: Int = MAXCOV_V, seed: Int = MAXCOV_SAMPLE_SEED,
                         pct: Int = MAXCOV_SAMPLE_PCT): DataFrame =
    maxCoverageSliced(docs, idCol, textCol, k, v,
      Curation.hashBucket(col(idCol), seed) < pct)

  /** [[maxCoverageSampled]] under an arbitrary boolean fit gate — the
    * generic form a 100 TB run calls with an ABSOLUTE row budget
    * (e.g. a mod-10⁴ hash under 2500/m on a ×m corpus keeps the fit
    * slice constant-size while the corpus grows; the gated percent
    * form is the fixed-fraction special case). Only the one
    * true-coverage scoring pass ever touches the full corpus.
    */
  def maxCoverageSliced(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, v: Int,
                        sliceGate: org.apache.spark.sql.Column): DataFrame = {
    val picks = maxcoverGreedy(docs.filter(sliceGate), idCol, textCol, k, v)
    val covered = picks.iterator.flatMap(_._5).toSet
    // the ONE full-corpus pass: distinct (doc, tok) incidences per
    // covered token (array_intersect dedups in-row — the mcd contract)
    val dfMap: Map[String, Long] =
      if (covered.isEmpty) Map.empty
      else docs.select(explode(array_intersect(
          TextFunctions.shingles(col(textCol), K),
          typedlit(covered.toSeq.sorted))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    var run = 0L
    val out = picks.map { case (rank, id, gain, ncov, added) =>
      run += added.iterator.map(dfMap.getOrElse(_, 0L)).sum
      (rank, id, gain, ncov, run)
    }
    import docs.sparkSession.implicits._
    out.toDF("rank", idCol, "gain", "n_covered", "cov_pairs_full")
  }

  /** The q_maxcover_docs oracle chain: mcd = distinct doc-shingle
    * pairs, mcv = the top-V-df shingle vocabulary (df DESC, tok ASC),
    * mdt = the restricted pair table; then per greedy round t, mg_t =
    * marginal
    * gain per doc against the covered set, mc_t = the argmax pick
    * (gain DESC, doc_id ASC LIMIT 1), mcov_t = covered ∪ the pick's
    * terms — the engine loop unrolled exactly. An exhausted round
    * yields an empty mc_t and its final-select row vanishes, matching
    * the engine's early stop.
    */
  private def maxcoverCtes: String =
    // MATERIALIZED throughout: each round references the previous
    // covered set, so inlined CTEs would re-expand the whole prefix
    // per round (the 2^rounds plan blow-up, DuckDB edition)
    s"""$maxcoverBaseCtes,
       |${maxcoverRoundCtes("mg", "mc", "mcov", "mdt")}""".stripMargin

  /** The unrolled greedy rounds shared by the plain and sampled
    * max-coverage oracles, prefix-parameterized exactly like
    * [[logitChain]]: per round t, `<g>t` = marginal gain per doc
    * against the covered set, `<c>t` = the argmax pick (gain DESC,
    * doc_id ASC LIMIT 1), `<cov>t` = covered ∪ the pick's terms, all
    * over the V-restricted pair table `dt`. One template so a
    * tie-rule or early-stop change can never drift between the twins.
    */
  private def maxcoverRoundCtes(g: String, c: String, cov: String,
                                dt: String): String =
    (0 until MAXCOV_K).map { t =>
      val notCovered = if (t == 0) ""
        else s" WHERE tok NOT IN (SELECT tok FROM $cov${t - 1})"
      val covPrev = if (t == 0) ""
        else s"SELECT tok FROM $cov${t - 1} UNION "
      s"""$g$t AS MATERIALIZED (SELECT doc_id, count(*) AS gain
         |  FROM $dt$notCovered GROUP BY 1),
         |$c$t AS MATERIALIZED (SELECT doc_id, gain FROM $g$t
         |  ORDER BY gain DESC, doc_id ASC LIMIT 1),
         |$cov$t AS MATERIALIZED (${covPrev}SELECT tok FROM $dt
         |  WHERE doc_id = (SELECT doc_id FROM $c$t))""".stripMargin
    }.mkString(",\n")

  /** The shared doc-shingle base of the max-coverage twins: mcd =
    * distinct doc-shingle pairs, mcv = the top-V-df vocabulary,
    * mdt = the V-restricted pair table.
    */
  private def maxcoverBaseCtes: String =
    s"""$shinglesCte,
       |mcd AS (SELECT doc_id, shingle AS tok FROM sh),
       |mcv AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM mcd
       |  GROUP BY 1 ORDER BY df DESC, tok ASC LIMIT $MAXCOV_V)),
       |mdt AS MATERIALIZED (SELECT d.doc_id, d.tok
       |  FROM mcd d JOIN mcv USING (tok))""".stripMargin

  /** The q_maxcover_sampled oracle chain: smcd = the hash-slice's
    * doc-shingle pairs, smcv/sdt = slice vocabulary and restricted
    * projection, greedy rounds identical to [[maxcoverCtes]] but over
    * sdt, then fdf = full-corpus df per FINALLY-covered token — the
    * one full-corpus term, feeding each round's cumulative
    * cov_pairs_full.
    */
  private def maxcoverSampledCtes: String = {
    val gate = s"${Dedup.hash32Sql(MAXCOV_SAMPLE_SEED,
      "CAST(doc_id AS VARCHAR)")} % 100 < $MAXCOV_SAMPLE_PCT"
    val rounds = maxcoverRoundCtes("sg", "sc", "scv", "sdt")
    s"""$shinglesCte,
       |mcd AS (SELECT doc_id, shingle AS tok FROM sh),
       |smcd AS (SELECT doc_id, tok FROM mcd WHERE $gate),
       |smcv AS (SELECT tok FROM (SELECT tok, count(*) AS df FROM smcd
       |  GROUP BY 1 ORDER BY df DESC, tok ASC LIMIT $MAXCOV_V)),
       |sdt AS MATERIALIZED (SELECT d.doc_id, d.tok
       |  FROM smcd d JOIN smcv USING (tok)),
       |$rounds,
       |fdf AS MATERIALIZED (SELECT tok, count(*) AS df FROM mcd
       |  WHERE tok IN (SELECT tok FROM scv${MAXCOV_K - 1})
       |  GROUP BY 1)""".stripMargin
  }

  /** The q_maxcover_quota oracle chain: the same greedy rounds under a
    * partition-matroid constraint — a source whose picks reached CAP
    * leaves the candidate pool (qex_t, recomputed from the picks so
    * far), everything else identical to [[maxcoverCtes]].
    */
  private def maxcoverQuotaCtes: String = {
    val rounds = (0 until MAXCOV_K).map { t =>
      val notCovered = if (t == 0) ""
        else s" AND m.tok NOT IN (SELECT tok FROM qcov${t - 1})"
      val covPrev = if (t == 0) ""
        else s"SELECT tok FROM qcov${t - 1} UNION "
      val exCte = if (t == 0) ""
        else {
          val picks = (0 until t).map(i => s"SELECT doc_id FROM qc$i")
            .mkString(" UNION ALL ")
          s"""qex$t AS MATERIALIZED (SELECT d.source FROM ($picks) p
             |  JOIN mqd d USING (doc_id)
             |  GROUP BY 1 HAVING count(*) >= $MAXCOV_CAP),""".stripMargin
        }
      val exPred = if (t == 0) ""
        else s" AND d.source NOT IN (SELECT source FROM qex$t)"
      s"""${exCte}qg$t AS MATERIALIZED (SELECT m.doc_id, d.source,
         |    count(*) AS gain
         |  FROM mdt m JOIN mqd d USING (doc_id)
         |  WHERE 1 = 1$notCovered$exPred
         |  GROUP BY 1, 2),
         |qc$t AS MATERIALIZED (SELECT doc_id, source, gain FROM qg$t
         |  ORDER BY gain DESC, doc_id ASC LIMIT 1),
         |qcov$t AS MATERIALIZED (${covPrev}SELECT tok FROM mdt
         |  WHERE doc_id = (SELECT doc_id FROM qc$t))""".stripMargin
    }.mkString(",\n")
    s"""$maxcoverBaseCtes,
       |mqd AS (SELECT doc_id, source FROM documents),
       |$rounds""".stripMargin
  }

  /** distinct (doc_id, shingle) CTE over k=3 word shingles. */
  private val shinglesCte =
    s"""$toksCte,
       |sh AS (SELECT DISTINCT doc_id,
       |    array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ') AS shingle
       |  FROM toks, unnest(range(1, len(t) - ${K - 2})) AS u(i)
       |  WHERE len(t) >= $K)""".stripMargin

  /** 60-bit-hashed shingle CTE — twin of Dedup.hashedShingles. */
  private val hashedShinglesCte =
    s"""$shinglesCte,
       |shh AS (SELECT doc_id, ${Dedup.shingleHashSql("shingle")} AS shingle
       |  FROM sh)""".stripMargin

  // One md5 per shingle reduced mod p, then the affine mins — same
  // integer arithmetic as Dedup.affine, so signatures hash-match exactly.
  private def minhashSelect: String =
    (0 until NUM_HASHES)
      .map(i => s"min(${Dedup.affineSql(i, "hm")}) AS mh$i")
      .mkString(", ")

  // no leading WITH: q_dup_clusters prepends WITH RECURSIVE (the
  // keyword covers the whole CTE list; non-recursive members are fine)
  private val sigCte =
    s"""$shinglesCte,
       |hm AS (SELECT doc_id, ${Dedup.hash32Sql(0, "shingle")} % ${Dedup.P} AS hm FROM sh),
       |sig AS (SELECT doc_id, $minhashSelect FROM hm GROUP BY doc_id)""".stripMargin

  /** CTE chain through `vp(doc_a, doc_b, n_common, sz_a, sz_b)` — the
    * LSH-then-verify near-dup pairs (twin of [[Dedup.lshVerifiedPairs]]),
    * shared by q_lsh_verified_dups and the cluster queries built on it.
    */
  /** CTE chain through `common(doc_a, doc_b, n_common)` + `sizes` —
    * the PRE-threshold LSH-verified counts, shared by the vp chain and
    * the q_hard_negatives boundary band.
    */
  private val lshCountedCtes =
    s"""$sigCte,
       |shh AS (SELECT doc_id, ${Dedup.shingleHashSql("shingle")} AS shingle
       |  FROM sh),
       |bands AS (${(0 until BANDS).map(bandSelect).mkString("\n UNION ALL\n ")}),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
       |common AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
       |  FROM cand c
       |  JOIN shh a ON a.doc_id = c.doc_a
       |  JOIN shh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY 1, 2)""".stripMargin

  private val lshVerifiedCtes =
    s"""$lshCountedCtes,
       |vp AS (SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b
       |  FROM common
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE n_common * 100 >= $THRESH * (sa.sz + sb.sz - n_common))""".stripMargin

  /** CTE chain through `pc(doc_a, doc_b, n_common, sz_a, sz_b)` — the
    * pre-threshold exact pair counts (twin of
    * [[Dedup.invertedIndexCounts]] + withSizes), shared by
    * q_jaccard_pairs and q_containment_pairs, which differ only in the
    * integer threshold applied.
    */
  private val jaccardCoreCtes =
    s"""$hashedShinglesCte,
       |kept AS (SELECT doc_id, shingle FROM shh
       |  WHERE shingle IN (SELECT shingle FROM shh GROUP BY shingle
       |                    HAVING count(*) <= $MAX_DF)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
       |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pc AS (SELECT doc_a, doc_b, n_common, sa.sz AS sz_a, sb.sz AS sz_b
       |  FROM common
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id)""".stripMargin

  /** Recursive closure CTEs over `vp`: symmetric edges → reachability →
    * `cc(id, cluster_id)` with cluster_id = min member id. DuckDB's
    * UNION recursion dedups accumulated rows, so `reach` terminates at
    * the transitive closure — the SQL twin of
    * [[graft.operators.Clusters.connectedComponents]]'s fixpoint.
    */
  private val ccCtes =
    s"""$lshVerifiedCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |      UNION SELECT doc_b, doc_a FROM vp),
       |reach AS (SELECT src AS id, src AS r FROM e
       |          UNION
       |          SELECT reach.id, e.dst FROM reach JOIN e ON e.src = reach.r),
       |cc AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** CTEs over `vp` through `tri(s, u, v)` — degree-ordered triangle
    * enumeration (each triangle exactly once), the SQL twin of the
    * orientation in [[Clusters.triangleClustering]]/[[Clusters.edgeSupport]];
    * also exposes `ce(u, v)` (canonical edges) and `deg(x, d)`.
    */
  private val triCtes =
    """ce AS (SELECT doc_a AS u, doc_b AS v FROM vp),
      |deg AS (SELECT x, count(*) AS d FROM (
      |    SELECT u AS x FROM ce UNION ALL SELECT v FROM ce)
      |  GROUP BY 1),
      |ar AS (SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND ce.u < ce.v)
      |      THEN ce.u ELSE ce.v END AS s,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND ce.u < ce.v)
      |      THEN ce.v ELSE ce.u END AS t
      |  FROM ce JOIN deg du ON du.x = ce.u JOIN deg dv ON dv.x = ce.v),
      |tri AS (SELECT e1.s, e1.t AS u, e2.t AS v
      |  FROM ar e1 JOIN ar e2 ON e1.s = e2.s AND e1.t < e2.t
      |  JOIN ce ON ce.u = least(e1.t, e2.t)
      |    AND ce.v = greatest(e1.t, e2.t))""".stripMargin

  private def bandSelect(b: Int): String = {
    val r = NUM_HASHES / BANDS
    val key = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
      .mkString(", ")
    s"SELECT doc_id, $b AS band, md5(concat_ws('-', $key)) AS bkey FROM sig"
  }

  /** CTEs through `fp(doc_id, simhash)` — the SQL twin of
    * [[Dedup.simhash60]], shared by q_simhash and q_simhash_neardup.
    * 60-bit token hash = first 15 md5 hex digits ([[Dedup.shingleHashSql]]),
    * same integer vote/assemble arithmetic as the Spark side.
    */
  private val simhashCte: String = {
    val votes = (0 until Dedup.SIMHASH_BITS).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS bit$i")
      .mkString(", ")
    val fp = (0 until Dedup.SIMHASH_BITS).map(i =>
      s"(CASE WHEN bit$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"""$toksCte,
       |dt AS (SELECT DISTINCT doc_id, tok FROM toks, unnest(t) AS u(tok)),
       |hashed AS (SELECT doc_id, ${Dedup.shingleHashSql("tok")} AS h FROM dt),
       |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  /** [[simhashCte]] extended through `snd(doc_a, doc_b, hamming)` — the
    * banded-candidate + exact-Hamming-verify pair table (twin of
    * [[Dedup.simhashNearDupPairs]]); shared by q_simhash_neardup and
    * q_link_prediction.
    */
  private val simhashNearDupCtes: String =
    s"""$simhashCte,
       |banded AS (SELECT doc_id, simhash, bands.band,
       |    (simhash >> (bands.band * ${Dedup.SIMHASH_BITS / (MAX_HAMMING + 1)})) & ${(1L << (Dedup.SIMHASH_BITS / (MAX_HAMMING + 1))) - 1} AS bkey
       |  FROM fp, (SELECT unnest(range(${MAX_HAMMING + 1})) AS band) bands),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.simhash, b.simhash)) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |snd AS (SELECT doc_a, doc_b, hamming FROM cand
       |  WHERE hamming <= $MAX_HAMMING)""".stripMargin

  private val stopwordsSql =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")
      .map(w => s"'$w'").mkString(", ")

  /** The q_logit_fit oracle: the identical 16-step descent unrolled as
    * chained CTEs — feature standardization, hard-sigmoid forward pass,
    * HUGEINT gradient sums, sign-split truncating divisions throughout.
    */
  private def logitFitSql(sampled: Boolean): String = {
    val (ctes, sFin) = logitCtes(sampled)
    val last = s"it$LOGIT_FIT_ITERS"
    s"""WITH $ctes
       |SELECT ${(0 to 4).map(j => s"$last.w$j").mkString(", ")},
       |  (SELECT CAST(sum(CASE WHEN ($sFin > 0) = (z.y = 1)
       |      THEN 1 ELSE 0 END) AS BIGINT)
       |   FROM z, $last) AS n_correct,
       |  st.n AS n_fit,
       |  (SELECT count(*) FROM z) AS n_total
       |FROM $last, st""".stripMargin
  }

  /** The q_uncertainty_sample oracle: trainer chain to the final
    * weights, per-doc margin |s| from the z rows, smallest-K by
    * (|score_m| ASC, doc_id ASC).
    */
  private[graft] def uncertaintySampleSql: String = {
    val (ctes, sFin) = logitCtes(sampled = false)
    val last = s"it$LOGIT_FIT_ITERS"
    s"""WITH $ctes,
       |usc AS (SELECT z.doc_id,
       |    CAST(CASE WHEN $sFin < 0 THEN -((-($sFin)) // 1000000)
       |      ELSE ($sFin) // 1000000 END AS BIGINT) AS score_m
       |  FROM z, $last)
       |SELECT CAST(row_number() OVER (ORDER BY abs(score_m) ASC,
       |    doc_id ASC) AS BIGINT) AS rank, doc_id, score_m
       |FROM usc
       |ORDER BY abs(score_m) ASC, doc_id ASC LIMIT $UNC_K""".stripMargin
  }

  /** The q_stream_uncertainty oracle: the trainer chain to per-doc
    * margins (the [[uncertaintySampleSql]] usc rows), the admission
    * cut = the [[UNC_K]]-th smallest (|score_m|, doc_id) row, then the
    * rows beating the cut — the set the streaming admission filter
    * must reproduce exactly (on the replayed corpus it IS the batch
    * queue, minus rank).
    */
  private[graft] def streamUncertaintySql: String = {
    val (ctes, sFin) = logitCtes(sampled = false)
    val last = s"it$LOGIT_FIT_ITERS"
    s"""WITH $ctes,
       |usc AS (SELECT z.doc_id,
       |    CAST(CASE WHEN $sFin < 0 THEN -((-($sFin)) // 1000000)
       |      ELSE ($sFin) // 1000000 END AS BIGINT) AS score_m
       |  FROM z, $last),
       |ucut AS (SELECT abs(score_m) AS thr, doc_id AS tie_id FROM usc
       |  ORDER BY abs(score_m) ASC, doc_id ASC
       |  LIMIT 1 OFFSET ${UNC_K - 1})
       |SELECT u.doc_id, u.score_m, abs(u.score_m) AS margin_m
       |FROM usc u, ucut c
       |WHERE abs(u.score_m) < c.thr
       |  OR (abs(u.score_m) = c.thr AND u.doc_id <= c.tie_id)""".stripMargin
  }

  /** The q_model_registry oracle: BOTH trainer chains (v1 = the
    * sampled-slice fit, v2 = the full fit) replayed to their final
    * weights as prefixed CTEs, each scoring the corpus rolled up by
    * verdict — the ground truth the publish → time-travel-load → serve
    * roundtrip must reproduce for BOTH versions (any loss in the
    * registry rows shifts a score and breaks the hash).
    */
  private[graft] def modelRegistrySql: String = {
    val (chainS, sS) = logitChain(logitInSl(sampled = true), "s")
    val (chainF, sF) = logitChain(logitInSl(sampled = false), "f")
    def sel(version: Int, p: String, sFin: String) =
      s"""SELECT CAST($version AS BIGINT) AS version,
         |  CASE WHEN $sFin > 0 THEN 'keep' ELSE 'drop' END AS verdict,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN $sFin < 0 THEN -((-($sFin)) // 1000000)
         |    ELSE ($sFin) // 1000000 END) AS BIGINT) AS score_sum_m
         |FROM ${p}z z, ${p}it$LOGIT_FIT_ITERS
         |GROUP BY 1, 2""".stripMargin
    s"""WITH $logitFeaturesCte,
       |$chainS,
       |$chainF
       |${sel(1, "s", sS)}
       |UNION ALL
       |${sel(2, "f", sF)}""".stripMargin
  }

  /** The q_stream_score_drift oracle: the SAMPLED trainer chain to
    * final weights, per-doc milli-scores binned on the fixed grid
    * (sign-split div `SCORE_BIN_STEP`, CASE-clamped to
    * ±`SCORE_BIN_MAX`, NULL score → sentinel −(max+1)), then the
    * slice's baseline histogram vs the full corpus's — per-bin counts
    * and ppm shares, the drift rollup the streaming monitor must
    * reproduce exactly. The slice is a subset of the corpus, so every
    * baseline bin appears among the observed and a LEFT join from the
    * observed side is total.
    */
  private[graft] def streamScoreDriftSql: String = {
    val (ctes, sFin) = logitCtes(sampled = true)
    val last = s"it$LOGIT_FIT_ITERS"
    val (step, bmax) = (SCORE_BIN_STEP, SCORE_BIN_MAX)
    val b0 = s"CASE WHEN score_m < 0 THEN -((-score_m) // $step) " +
      s"ELSE score_m // $step END"
    s"""WITH $ctes,
       |dsc AS (SELECT z.doc_id, z.in_sl,
       |    CAST(CASE WHEN $sFin < 0 THEN -((-($sFin)) // 1000000)
       |      ELSE ($sFin) // 1000000 END AS BIGINT) AS score_m
       |  FROM z, $last),
       |dbn AS (SELECT doc_id, in_sl,
       |    CASE WHEN score_m IS NULL THEN ${-(bmax + 1)} ELSE
       |      CASE WHEN b0 > $bmax THEN $bmax
       |           WHEN b0 < ${-bmax} THEN ${-bmax} ELSE b0 END END AS bin
       |  FROM (SELECT doc_id, in_sl, score_m, $b0 AS b0 FROM dsc)),
       |sdb AS (SELECT bin, count(*) AS n_base FROM dbn
       |  WHERE in_sl = 1 GROUP BY 1),
       |sdo AS (SELECT bin, count(*) AS n_obs FROM dbn GROUP BY 1),
       |sdt AS (SELECT (SELECT count(*) FROM dbn WHERE in_sl = 1) AS nb,
       |  (SELECT count(*) FROM dbn) AS nt)
       |SELECT o.bin, COALESCE(s.n_base, 0) AS n_base, o.n_obs,
       |  COALESCE(s.n_base, 0) * 1000000 // t.nb AS base_share_ppm,
       |  o.n_obs * 1000000 // t.nt AS obs_share_ppm,
       |  o.n_obs * 1000000 // t.nt -
       |    COALESCE(s.n_base, 0) * 1000000 // t.nb AS delta_ppm
       |FROM sdo o LEFT JOIN sdb s USING (bin), sdt t""".stripMargin
  }

  /** The q_stream_quality oracle: the full-corpus trainer chain
    * ([[logitCtes]]) replayed to the final weights, then ONE per-doc
    * scoring pass rolled up by verdict — the batch ground truth the
    * streaming scorer must reproduce row-set-exactly.
    */
  private[graft] def streamQualitySql: String = {
    val (ctes, sFin) = logitCtes(sampled = false)
    val last = s"it$LOGIT_FIT_ITERS"
    s"""WITH $ctes
       |SELECT CASE WHEN $sFin > 0 THEN 'keep' ELSE 'drop' END AS verdict,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN $sFin < 0 THEN -((-($sFin)) // 1000000)
       |    ELSE ($sFin) // 1000000 END) AS BIGINT) AS score_sum_m
       |FROM z, $last
       |GROUP BY 1""".stripMargin
  }

  /** The trainer CTE chain (through `it{N}` weights, `z`, `st`) plus
    * the final-weights score expression over z rows — shared by the
    * fit oracle and the streaming-scorer oracle.
    */
  private def logitCtes(sampled: Boolean): (String, String) = {
    val (chain, sFin) = logitChain(logitInSl(sampled), "")
    (s"$logitFeaturesCte,\n$chain", sFin)
  }

  /** The sampled-slice gate (1/0) the trainer oracles share. */
  private def logitInSl(sampled: Boolean): String =
    if (sampled)
      s"CASE WHEN ${Dedup.hash32Sql(LOGIT_SAMPLE_SEED,
        "CAST(doc_id AS VARCHAR)")} % 100 < $LOGIT_SAMPLE_PCT " +
        "THEN 1 ELSE 0 END"
    else "1"

  /** One complete descent as a CTE chain under name prefix `p`
    * (${p}lab/${p}st/${p}vr/${p}z/${p}it0..N/${p}g1..N — prefixing lets
    * the refit oracle run TWO descents in one query), gated by the
    * given 1/0 `inSl` expression (evaluated over the shared `f`
    * feature CTE, so it may reference doc_id and earlier CTEs).
    * Returns (chain, final-weights score expression over rows aliased
    * `z`).
    */
  private def logitChain(inSl: String, p: String): (String, String) = {
    val xs = Seq("len_bp", "stop_bp", "punct_bp", "uniq_bp")
    // winsorized z-score of feature i+1 from the m/sd CTE columns
    def zSql(i: Int): String = {
      val c = xs(i); val m = s"${p}st.m${i + 1}"; val sd = s"${p}vr.sd${i + 1}"
      s"CAST(least($LOGIT_FIT_ZCLAMP, greatest(-$LOGIT_FIT_ZCLAMP, " +
        s"CASE WHEN ${p}lab.$c < $m THEN -((($m - ${p}lab.$c) * 1000) // $sd) " +
        s"ELSE ((${p}lab.$c - $m) * 1000) // $sd END)) AS BIGINT)"
    }
    def sOf(it: String): String =
      (0 to 4).map(j => s"$it.w$j * z.x$j").mkString("(", " + ", ")")
    val iters = (1 to LOGIT_FIT_ITERS).map { k =>
      val prev = s"${p}it${k - 1}"
      val sE = sOf(prev)
      val pE = s"least(1000000, greatest(0, 500000 + " +
        s"(CASE WHEN $sE < 0 THEN -((-$sE) // $LOGIT_FIT_SLOPE) " +
        s"ELSE $sE // $LOGIT_FIT_SLOPE END)))"
      val gs = (0 to 4).map(j =>
        s"sum(($pE - z.y * 1000000) * z.x$j) AS g$j").mkString(", ")
      val ws = (0 to 4).map(j =>
        s"CAST($prev.w$j - (CASE WHEN ${p}g$k.g$j < 0 " +
          s"THEN -((-${p}g$k.g$j) // ${p}st.n) ELSE ${p}g$k.g$j // ${p}st.n END) " +
          s"AS BIGINT) AS w$j").mkString(", ")
      s"""${p}g$k AS MATERIALIZED (SELECT $gs FROM ${p}z z, $prev
         |  WHERE z.in_sl = 1),
         |${p}it$k AS MATERIALIZED (SELECT $ws FROM $prev, ${p}g$k, ${p}st)""".stripMargin
    }.mkString(",\n")
    val last = s"${p}it$LOGIT_FIT_ITERS"
    val sFin = sOf(last)
    val ctes = s"""${p}lab AS MATERIALIZED (SELECT doc_id,
       |    CAST(10000 * least(n, 2000) // 2000 AS BIGINT) AS len_bp,
       |    CAST(CASE WHEN toks > 0 THEN 10000 * stops // toks
       |      ELSE 0 END AS BIGINT) AS stop_bp,
       |    CAST(CASE WHEN n > 0 THEN 10000 * punct // n
       |      ELSE 0 END AS BIGINT) AS punct_bp,
       |    CAST(CASE WHEN toks > 0 THEN 10000 * uniq // toks
       |      ELSE 0 END AS BIGINT) AS uniq_bp,
       |    CASE WHEN greatest(0, 3 * (10000 * least(n, 2000) // 2000)
       |        + 4 * (CASE WHEN toks > 0 THEN 10000 * stops // toks
       |               ELSE 0 END)
       |        - 2 * (CASE WHEN n > 0 THEN 10000 * punct // n
       |               ELSE 0 END)
       |        + 2 * (CASE WHEN toks > 0 THEN 10000 * uniq // toks
       |               ELSE 0 END)) // 10 >= 1750
       |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y,
       |    $inSl AS in_sl
       |  FROM f),
       |${p}st AS MATERIALIZED (SELECT count(*) AS n,
       |    ${xs.zipWithIndex.map { case (c, i) =>
                s"sum($c) // count(*) AS m${i + 1}" }.mkString(", ")}
       |  FROM ${p}lab WHERE in_sl = 1),
       |${p}vr AS MATERIALIZED (SELECT ${xs.zipWithIndex.map { case (c, i) =>
                s"greatest(1, CAST(floor(sqrt(CAST(" +
                  s"sum((${p}lab.$c - ${p}st.m${i + 1}) * (${p}lab.$c - ${p}st.m${i + 1}))" +
                  s" // ${p}st.n AS DOUBLE))) AS BIGINT)) AS sd${i + 1}" }
                .mkString(", ")}
       |  FROM ${p}lab, ${p}st WHERE ${p}lab.in_sl = 1 GROUP BY ${p}st.n),
       |${p}z AS MATERIALIZED (SELECT ${p}lab.doc_id,
       |    CAST(1000 AS BIGINT) AS x0,
       |    ${(0 to 3).map(i => s"${zSql(i)} AS x${i + 1}").mkString(", ")},
       |    ${p}lab.y, ${p}lab.in_sl FROM ${p}lab, ${p}st, ${p}vr),
       |${p}it0 AS MATERIALIZED (SELECT ${(0 to 4).map(j =>
                s"CAST(0 AS BIGINT) AS w$j").mkString(", ")}),
       |$iters""".stripMargin
    (ctes, sFin)
  }

  /** The shared raw-feature CTE (`f`) every descent chain reads. */
  private def logitFeaturesCte: String =
    s"""f AS (SELECT doc_id, length(text) AS n,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
       |             x -> lower(x) IN ($stopwordsSql))) END AS stops,
       |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
       |      AS punct,
       |    CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(list_distinct(string_split_regex(trim(text),
       |             '\\s+'))) END AS uniq
       |  FROM documents)""".stripMargin

  /** The four basis-point quality features (doc_id, len_bp, stop_bp,
    * punct_bp, uniq_bp) — shared by the fixed-weight scorer
    * (q_quality_logit) and the trainer (q_logit_fit).
    */
  private def qualityBp(s: SparkSession, dir: String): DataFrame =
    qualityBpOf(Tables.load(s, dir, "documents"))

  /** [[qualityBp]] over any (doc_id, text) frame — a stateless
    * projection, so it serves batch AND streaming inputs
    * ([[graft.streaming.StreamingQuality]]).
    */
  private[graft] def qualityBpOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), length(col("text")).as("n"),
        TextFunctions.tokenCount(col("text")).as("toks"),
        TextFunctions.stopwordCount(col("text")).as("stops"),
        TextFunctions.punctCount(col("text")).as("punct"),
        size(array_distinct(TextFunctions.tokens(col("text"))))
          .as("uniq"))
      .select(col("doc_id"),
        expr("10000 * least(n, 2000) div 2000").as("len_bp"),
        expr("CASE WHEN toks > 0 THEN 10000 * stops div toks " +
          "ELSE 0 END").as("stop_bp"),
        expr("CASE WHEN n > 0 THEN 10000 * punct div n " +
          "ELSE 0 END").as("punct_bp"),
        expr("CASE WHEN toks > 0 THEN 10000 * uniq div toks " +
          "ELSE 0 END").as("uniq_bp"))

  /** q_logit_fit body: train a linear quality filter by LOGIT_FIT_ITERS
    * steps of full-batch gradient descent — every quantity integer-
    * exact so the DuckDB twin replays it bit for bit.
    *
    * Pipeline, all fixed-point:
    *  1. features = winsorized z-scores of the bp quality features:
    *     z = clamp(±ZCLAMP, (x − mean)·1000 div sd), mean = Σx div n,
    *     sd = max(1, ⌊√(Σ(x−mean)² div n)⌋) — the floor of a correctly
    *     rounded IEEE sqrt of an exactly representable operand, so both
    *     engines agree; bias feature x0 = 1000;
    *  2. label y = the hand rule's keep verdict (q_quality_logit's
    *     logit_cp ≥ 1750);
    *  3. hard-sigmoid logistic descent: s = Σ wⱼ·xⱼ (weights in
    *     nano-units), p_ppm = clamp(0..10⁶, 5·10⁵ + s div SLOPE),
    *     gⱼ = Σᵢ (pᵢ − yᵢ·10⁶)·xᵢⱼ summed as DECIMAL(38,0)/HUGEINT,
    *     wⱼ ← wⱼ − gⱼ div n — every division sign-split truncating so
    *     Spark div, BigInt /, and positive-operand HUGEINT // coincide.
    *
    * Overflow proof under ANSI: |z| ≤ 2·10⁴, |e| ≤ 10⁶ ⇒ |Δw| ≤ 2·10¹⁰
    * per step ⇒ |w| ≤ 3.2·10¹¹ after 16 ⇒ |s| ≤ 5·|w|·|z| ≤ 3.2·10¹⁶
    * — three decades inside BIGINT; gradient sums go through
    * DECIMAL(38,0), matching DuckDB's HUGEINT.
    *
    * 100 TB posture: the trainer is K = 16 jobs, each ONE scan of the
    * cached feature projection ending in a 5-value global aggregate
    * (map-side partial, no shuffle of data rows); weights live on the
    * driver (5 longs/step, the bounded-collect pattern the per-round
    * BPE argmax uses). Mean/sd are two more such aggregates. Output is
    * a single row: final weights + train accuracy.
    */
  private def logitFit(s: SparkSession, dir: String,
                       sampled: Boolean): DataFrame = {
    val xs = Seq("len_bp", "stop_bp", "punct_bp", "uniq_bp")
    val lab = qualityBp(s, dir)
      .withColumn("in_sl",
        if (sampled) qualitySliceGate else lit(true))
      .selectExpr(
        (xs ++ Seq("CASE WHEN greatest(0, 3 * len_bp + 4 * stop_bp - " +
          "2 * punct_bp + 2 * uniq_bp) div 10 >= 1750 " +
          "THEN 1L ELSE 0L END AS y", "in_sl")): _*)
    fitLogisticGd(lab, xs, "y", "in_sl")
  }

  /** Generic fixed-point logistic trainer (the q_logit_fit core): given
    * integer feature columns `xs`, a 0/1 long label `yCol`, and a
    * boolean fit-slice gate `inFitCol`, runs `iters` steps of
    * full-batch hard-sigmoid gradient descent over winsorized integer
    * z-scores — every quantity integer-exact (see the q_logit_fit
    * Scaladoc for the overflow proof and oracle contract). Returns ONE
    * row: weights w0..wk (w0 = bias, nano-units), full-corpus
    * n_correct, n_fit, n_total.
    *
    * 100 TB posture: `iters` + 3 jobs, each one scan of a cached
    * projection ending in a ≤(k+1)-value global aggregate (map-side
    * partials, no data-row shuffle); weights live on the driver —
    * k+1 longs per step, the bounded-collect pattern.
    */
  def fitLogisticGd(labeled: DataFrame, xs: Seq[String],
                    yCol: String = "y", inFitCol: String = "in_fit",
                    iters: Int = LOGIT_FIT_ITERS): DataFrame = {
    val k = xs.size
    val (model, z, n) = fitLogitModel(labeled, xs, yCol, inFitCol, iters)
    def sExpr: String =
      (0 to k).map(j => s"${model.w(j)}L * x$j").mkString("(", " + ", ")")
    // full-corpus scoring with the slice-fitted model
    z.agg(
        sum(when(expr(s"($sExpr > 0) = ($yCol = 1)"), 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n_total"))
      .select(
        (0 to k).map(j => lit(model.w(j)).as(s"w$j")) ++
          Seq(col("n_correct"), lit(n).as("n_fit"), col("n_total")): _*)
  }

  /** A fitted standardize-then-score linear model: per-feature integer
    * means/sds (the winsorized-z parameters) and nano-unit weights
    * (w(0) = bias over the constant x0 = 1000 feature). Everything a
    * scorer needs to serve the model on data the trainer never saw —
    * including a stream ([[graft.streaming.StreamingQuality]]).
    */
  case class LogitModel(means: Seq[Long], sds: Seq[Long], w: Seq[Long]) {
    /** SQL-text score Σ wⱼ·zⱼ over raw feature columns `xs` — the
      * identical winsorized-z + dot-product arithmetic the trainer's
      * forward pass uses, with the model constants inlined as
      * literals (broadcast-free, stateless, stream-safe).
      */
    def scoreExpr(xs: Seq[String]): String =
      (s"${w(0)}L * 1000L" +: xs.indices.map(i =>
        s"${w(i + 1)}L * (${zScoreExpr(xs(i), means(i), sds(i))})"))
        .mkString("(", " + ", ")")

    /** [[scoreExpr]] sign-split-truncated to millionths — the serving
      * scale every consumer emits (the streaming scorer, the
      * uncertainty queue); ONE definition so they can never drift.
      */
    def scoreMilliExpr(xs: Seq[String]): String = {
      val s = scoreExpr(xs)
      s"CASE WHEN $s < 0 THEN -((-$s) div 1000000L) " +
        s"ELSE $s div 1000000L END"
    }
  }

  /** The winsorized integer z-score of raw feature `c` under (m, sd) —
    * shared by the trainer's cached projection and [[LogitModel]]'s
    * serving expression so the two can never drift.
    */
  private[graft] def zScoreExpr(c: String, m: Long, sd: Long): String =
    s"least(${LOGIT_FIT_ZCLAMP}L, greatest(-${LOGIT_FIT_ZCLAMP}L, " +
      s"CASE WHEN $c < ${m}L THEN -(((${m}L - $c) * 1000L) div ${sd}L) " +
      s"ELSE (($c - ${m}L) * 1000L) div ${sd}L END))"

  /** The margin-based labeling queue (the q_uncertainty_sample body,
    * generic): the k docs whose model score is closest to the decision
    * boundary — |score_m| ASC, doc_id ASC, NULLS LAST on both engines
    * (Spark ASC defaults NULLS FIRST, DuckDB NULLS LAST: a null-text
    * doc must never jump the queue). TakeOrderedAndProject, never a
    * full sort; the rank window runs over ≤ k rows.
    */
  def marginQueue(docs: DataFrame, model: LogitModel,
                  k: Int = UNC_K): DataFrame = {
    val sM = model.scoreMilliExpr(
      Seq("len_bp", "stop_bp", "punct_bp", "uniq_bp"))
    val scored = qualityBpOf(docs)
      .withColumn("score_m", expr(sM))
      .select(col("doc_id"), col("score_m"),
        abs(col("score_m")).as("abs_m"))
      .orderBy(col("abs_m").asc_nulls_last, col("doc_id").asc)
      .limit(k)
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("abs_m").asc_nulls_last, col("doc_id").asc)))
      .select(col("rank").cast("long").as("rank"),
        col("doc_id"), col("score_m"))
  }

  /** The labeling-queue ADMISSION CUT the batch fit publishes for the
    * streaming twin: the k-th (last) row of [[marginQueue]] as
    * (|score_m|, doc_id) — an arrival enters the queue iff its margin
    * beats the cut, ties broken by doc_id exactly like the batch rule.
    * Bounded driver work by definition (k rows). Requires the corpus
    * to fill the queue: a shorter queue has no k-th row and the
    * streaming filter would silently admit a different set than the
    * batch top-k — refuse loudly instead.
    */
  def queueAdmissionCut(docs: DataFrame, model: LogitModel,
                        k: Int = UNC_K): (Long, Long) = {
    val q = marginQueue(docs, model, k).collect()
    require(q.length == k,
      s"queueAdmissionCut: queue has ${q.length} rows, needs k=$k " +
        "(the admission cut is the k-th smallest margin)")
    val last = q.maxBy(_.getLong(0))
    require(!last.isNullAt(2),
      "queueAdmissionCut: the k-th queue row has a NULL score (fewer " +
        "than k scoreable docs) — the margin cut is undefined")
    (math.abs(last.getLong(2)), last.getLong(1))
  }

  /** One closed active-learning round (the q_logit_refit body):
    * 1. fit the quality filter on the 25 % hash slice (exactly the
    *    q_logit_fit_sampled configuration);
    * 2. emit the labeling queue — the REFIT_K docs OUTSIDE the slice
    *    whose slice-model score sits closest to the decision boundary
    *    (the q_uncertainty_sample rule restricted to unseen docs: a
    *    real loop never re-labels what it already has);
    * 3. "label" the queue (the hand rule stands in for the annotator,
    *    as it does for y everywhere in this family) and REFIT on
    *    slice ∪ queue — fresh means/sds/descent over the grown slice;
    * 4. score BOTH models on the full corpus.
    *
    * Output: ONE row — n_correct_base/n_fit_base (slice model),
    * n_correct_refit/n_fit_refit (grown model), n_queued, n_total,
    * improved = 1 ⟺ the refit strictly beats the slice model
    * corpus-wide. The DuckDB twin unrolls BOTH descents as prefixed
    * CTE chains and computes the identical seven numbers.
    *
    * 100 TB posture: two bounded-aggregate trainers (each iters + 3
    * one-scan jobs), one TakeOrderedAndProject queue (K rows to the
    * driver — the labeling batch is driver-sized by definition), and
    * two full-corpus scoring aggregates. Nothing data-scale ever
    * collects.
    */
  private def logitRefit(s: SparkSession, dir: String): DataFrame = {
    val xs = Seq("len_bp", "stop_bp", "punct_bp", "uniq_bp")
    val yExpr = "CASE WHEN greatest(0, 3 * len_bp + 4 * stop_bp - " +
      "2 * punct_bp + 2 * uniq_bp) div 10 >= 1750 THEN 1L ELSE 0L END"
    val lab = qualityBpOf(Tables.load(s, dir, "documents"))
      .withColumn("y", expr(yExpr))
      .withColumn("in_sl", qualitySliceGate)
    activeLearningRound(lab, "doc_id", xs, "y", "in_sl", REFIT_K)
  }

  /** One generic active-learning retrain round (the q_logit_refit body
    * over caller columns): fit on the `inFitCol` slice, queue the `k`
    * non-slice rows with the smallest trained-score margin
    * (|score| ASC, `idCol` ASC, NULLS LAST — a missing-feature row
    * never jumps the queue), refit with the queue folded into the
    * slice, and score BOTH models on the full frame. The caller's
    * `yCol` stands in for the annotator (rows arrive labeled; a real
    * deployment swaps in fresh labels for the queued ids before the
    * refit). Returns ONE row: n_correct_base, n_fit_base,
    * n_correct_refit, n_fit_refit, n_queued, n_total, improved.
    *
    * 100 TB posture: two [[fitLogisticGd]] trainers (bounded
    * aggregates), one TakeOrderedAndProject queue (k rows — the
    * labeling batch is driver-sized by definition), two scoring
    * aggregates; the queue ids ride the refit gate as an in-plan
    * literal list.
    */
  def activeLearningRound(labeled: DataFrame, idCol: String = "doc_id",
                          xs: Seq[String] = Seq("len_bp", "stop_bp",
                            "punct_bp", "uniq_bp"),
                          yCol: String = "y", inFitCol: String = "in_fit",
                          k: Int = REFIT_K): DataFrame = {
    val (mA, zA, nA) = fitLogitModel(labeled, xs, yCol, inFitCol,
      LOGIT_FIT_ITERS)
    // the labeling queue: boundary rows the slice model has NOT seen
    val queueIds = labeled.filter(!col(inFitCol))
      .withColumn("score_m", expr(mA.scoreMilliExpr(xs)))
      .withColumn("abs_m", abs(col("score_m")))
      .orderBy(col("abs_m").asc_nulls_last, col(idCol).asc)
      .limit(k)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    val labB = labeled.withColumn(inFitCol,
      col(inFitCol) || col(idCol).isin(queueIds: _*))
    val (mB, zB, nB) = fitLogitModel(labB, xs, yCol, inFitCol,
      LOGIT_FIT_ITERS)
    def corpusCorrect(z: DataFrame, m: LogitModel): (Long, Long) = {
      val sE = (0 to xs.size).map(j => s"${m.w(j)}L * x$j")
        .mkString("(", " + ", ")")
      val r = z.agg(
        sum(when(expr(s"($sE > 0) = ($yCol = 1)"), 1L).otherwise(0L))
          .as("n_correct"),
        count(lit(1)).as("n_total")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (cA, nTotal) = corpusCorrect(zA, mA)
    val (cB, _) = corpusCorrect(zB, mB)
    import labeled.sparkSession.implicits._
    Seq((cA, nA, cB, nB, queueIds.size.toLong, nTotal,
      if (cB > cA) 1L else 0L))
      .toDF("n_correct_base", "n_fit_base", "n_correct_refit",
        "n_fit_refit", "n_queued", "n_total", "improved")
  }

  /** The q_logit_refit oracle: descent A (prefix `a`, the sampled
    * gate), the out-of-slice uncertainty queue from A's weights,
    * descent B (prefix `b`, gate = slice OR queued), then both models'
    * full-corpus n_correct — the engine loop unrolled as two prefixed
    * CTE chains sharing one `f`.
    */
  private def logitRefitSql: String = {
    val (chainA, sFinA) = logitChain(logitInSl(sampled = true), "a")
    val lastA = s"ait$LOGIT_FIT_ITERS"
    val gateB = s"CASE WHEN (${Dedup.hash32Sql(LOGIT_SAMPLE_SEED,
      "CAST(doc_id AS VARCHAR)")} % 100 < $LOGIT_SAMPLE_PCT) " +
      "OR doc_id IN (SELECT doc_id FROM uq) THEN 1 ELSE 0 END"
    val (chainB, sFinB) = logitChain(gateB, "b")
    val lastB = s"bit$LOGIT_FIT_ITERS"
    s"""WITH $logitFeaturesCte,
       |$chainA,
       |uq AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT z.doc_id,
       |      CAST(CASE WHEN $sFinA < 0 THEN -((-($sFinA)) // 1000000)
       |        ELSE ($sFinA) // 1000000 END AS BIGINT) AS score_m
       |    FROM az z, $lastA WHERE z.in_sl = 0)
       |  ORDER BY abs(score_m) ASC, doc_id ASC LIMIT $REFIT_K),
       |$chainB,
       |res AS (SELECT
       |    (SELECT CAST(sum(CASE WHEN ($sFinA > 0) = (z.y = 1)
       |        THEN 1 ELSE 0 END) AS BIGINT)
       |      FROM az z, $lastA) AS n_correct_base,
       |    (SELECT CAST(sum(CASE WHEN ($sFinB > 0) = (z.y = 1)
       |        THEN 1 ELSE 0 END) AS BIGINT)
       |      FROM bz z, $lastB) AS n_correct_refit)
       |SELECT res.n_correct_base, ast.n AS n_fit_base,
       |  res.n_correct_refit, bst.n AS n_fit_refit,
       |  (SELECT count(*) FROM uq) AS n_queued,
       |  (SELECT count(*) FROM az) AS n_total,
       |  CAST(CASE WHEN res.n_correct_refit > res.n_correct_base
       |    THEN 1 ELSE 0 END AS BIGINT) AS improved
       |FROM res, ast, bst""".stripMargin
  }

  /** Fit the quality filter on a documents frame (full-corpus slice,
    * hand-rule labels — the q_logit_fit configuration) and return the
    * serving model.
    */
  def fitQualityModel(docs: DataFrame): LogitModel =
    fitQualityModelSliced(docs, lit(true))

  val SCORE_BIN_STEP = 250L  // drift monitor: milli-score per bin
  val SCORE_BIN_MAX = 8L     // drift monitor: clamp to ±8 (+ sentinel −9)

  /** THE deterministic fit-slice gate of the sampled quality trainer
    * (q_logit_fit_sampled's 25 % md5 bucket) as a reusable Column, so
    * engine surfaces outside this file (the drift monitor's baseline)
    * select exactly the slice the oracle's `logitInSl` replays.
    */
  def qualitySliceGate: org.apache.spark.sql.Column =
    Curation.hashBucket(col("doc_id"), LOGIT_SAMPLE_SEED) <
      LOGIT_SAMPLE_PCT

  /** [[fitQualityModel]] under an arbitrary boolean fit gate — the
    * q_logit_fit_sampled configuration when passed the md5 slice
    * (`Curation.hashBucket(col, LOGIT_SAMPLE_SEED) < LOGIT_SAMPLE_PCT`),
    * returned as a serving model instead of the gate row.
    */
  def fitQualityModelSliced(docs: DataFrame,
                            fitGate: org.apache.spark.sql.Column)
      : LogitModel = {
    val xs = Seq("len_bp", "stop_bp", "punct_bp", "uniq_bp")
    val lab = qualityBpOf(docs)
      .withColumn("in_sl", fitGate)
      .selectExpr(
        (xs ++ Seq("CASE WHEN greatest(0, 3 * len_bp + 4 * stop_bp - " +
          "2 * punct_bp + 2 * uniq_bp) div 10 >= 1750 " +
          "THEN 1L ELSE 0L END AS y", "in_sl")): _*)
    fitLogitModel(lab, xs, "y", "in_sl", LOGIT_FIT_ITERS)._1
  }

  /** The trainer core behind [[fitLogisticGd]]: returns the fitted
    * [[LogitModel]], the cached z projection (x0..xk, yCol, inFitCol),
    * and the training-slice size.
    */
  private def fitLogitModel(labeled: DataFrame, xs: Seq[String],
                            yCol: String, inFitCol: String,
                            iters: Int): (LogitModel, DataFrame, Long) = {
    val k = xs.size
    val feats = graft.CacheRegistry.persist(labeled)
    val fitRows = feats.filter(col(inFitCol))
    // ONE stats pass (r16: was two): n + Σx + Σx² per feature, all
    // DECIMAL(38,0)-exact, then means AND variances on the driver via
    // the integer identity Σ(x−m)² = Σx² − 2·m·Σx + n·m² (exact in
    // BigInt for the INTEGER mean m = Σx div n — no floating point
    // anywhere, so the z table is bit-identical to the two-pass form).
    // Headroom: Σx² ≤ rows · max(x)² runs through DECIMAL(38,0), the
    // same ceiling the old (x−m)² sum had.
    val sumAggs = count(lit(1)).as("n") +:
      (xs.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
        xs.map(c =>
          sum(expr(s"CAST($c AS DECIMAL(38,0)) * $c")).as(s"q_$c")))
    // total row count rides the stats job as an observed metric (the
    // CC-fixpoint pattern) — it sizes the z cache below without a
    // second scan
    val obsAll = org.apache.spark.sql.Observation()
    val st = feats.observe(obsAll, count(lit(1)).as("n_all"))
      .filter(col(inFitCol))
      .agg(sumAggs.head, sumAggs.tail: _*).head()
    val nAll = obsAll.get("n_all").asInstanceOf[Long]
    val n = st.getLong(0)
    require(n > 0, "fitLogisticGd: empty training slice")
    val sumsX = xs.indices.map(i => BigInt(st.getDecimal(i + 1).toBigInteger))
    val sumsX2 = xs.indices.map(i =>
      BigInt(st.getDecimal(i + 1 + xs.size).toBigInteger))
    val means = xs.indices.map(i => (sumsX(i) / n).toLong)
    val sds = xs.indices.map { i =>
      val m = BigInt(means(i))
      val varSum = sumsX2(i) - 2 * m * sumsX(i) + m * m * n
      val v = (varSum / n).toLong
      math.max(1L, math.floor(math.sqrt(v.toDouble)).toLong) }
    // r17, guide §2 (scale-adaptive partitioning): the z cache is
    // every descent round's ONLY input — `iters` + 3 jobs scan it —
    // and it inherited the feature table's scan parallelism (32 here)
    // regardless of size, so at bench scale each of the ~19 jobs ran
    // 32 near-empty tasks of pure scheduling overhead. Partition count
    // now derives from the OBSERVED row count (~4M rows ≈ 200 MB per
    // partition — the guide's 100 MB–1 GB band for these ~50 B rows):
    // 1 partition at sf0.1, thousands at 100 TB. coalesce() is narrow
    // (no shuffle) and row-order-free aggregates are partition-
    // invariant, so results are bit-identical.
    val zParts = math.max(1L,
      (nAll + LOGIT_PART_ROWS - 1) / LOGIT_PART_ROWS).toInt
    val z = graft.CacheRegistry.persist(
      feats.selectExpr(
        ("CAST(1000 AS BIGINT) AS x0" +:
          xs.indices.map(i =>
            s"${zScoreExpr(xs(i), means(i), sds(i))} AS x${i + 1}")) ++
          Seq(yCol, inFitCol): _*)
        .coalesce(zParts))
    // the descent: K jobs, weights on the driver, BigInt-exact updates;
    // gradients see only the training slice. Weights ride the plan as
    // literals: an r16 A/B against a one-row-broadcast parameter form
    // (stable codegen text across rounds) measured WORSE wall time —
    // the extra broadcast query-stage job per round cost more than the
    // per-round literal-plan codegen it saved (42 → 56 jobs, 3.5 →
    // 4.3 s: PERF.md §Retired probe mains) — so the literal form
    // stands, and the raised codegen cache (Graft.sessionConf) absorbs
    // the recompiles across reps.
    val w = Array.fill(k + 1)(BigInt(0))
    if (Fixpoint.fitsDriver(n,
        LOGIT_ROW_BYTES + LOGIT_LONG_BYTES * (k + 2))) {
      // r17 size-adaptive driver mirror (the Clusters graph-mirror
      // pattern, guide §1.2): when the fit slice of k+2 longs per row
      // fits the driver budget, the descent replays on the driver over
      // ONE collect of the cached z slice instead of `iters` aggregate
      // jobs whose per-round fixed cost (job launch + literal-plan
      // codegen) dominates at any SF where the slice fits. The replay
      // is the EXACT distributed arithmetic: s and r·x_j in Long (the
      // plan's BIGINT ops), gradient sums in BigInt (the plan's exact
      // DECIMAL(38,0) sums — integer addition is order-free), the same
      // truncating div updates. Above the budget (any real corpus)
      // the distributed loop below is untouched; LogitFitSpec pins
      // mirror ≡ forced-distributed. The collect doubles as the z
      // cache fill every downstream consumer (scoring, n_correct)
      // reuses.
      val rows = z.filter(col(inFitCol))
        .selectExpr((0 to k).map(j => s"x$j") :+ yCol: _*)
        .collect().map { r0 =>
          val a = new Array[Long](k + 2)
          var j = 0; while (j < k + 2) { a(j) = r0.getLong(j); j += 1 }
          a
        }
      for (_ <- 1 to iters) {
        // the plan writes each weight as a `<w>L` BIGINT literal, so a
        // weight outside Long range would fail there too — keep parity
        w.foreach(x => require(x.isValidLong, "logit weight overflow"))
        val wl = w.map(_.toLong)
        val g = Array.fill(k + 1)(BigInt(0))
        var i = 0
        while (i < rows.length) {
          val a = rows(i)
          var s0 = 0L
          var j = 0
          while (j <= k) { s0 += wl(j) * a(j); j += 1 }
          val sig =
            if (s0 < 0) -((-s0) / LOGIT_FIT_SLOPE)
            else s0 / LOGIT_FIT_SLOPE
          val pE = math.min(1000000L, math.max(0L, 500000L + sig))
          val r = pE - a(k + 1) * 1000000L
          j = 0
          while (j <= k) { g(j) += BigInt(r * a(j)); j += 1 }
          i += 1
        }
        for (j <- 0 to k)
          w(j) -= (if (g(j) < 0) -((-g(j)) / n) else g(j) / n)
      }
      return (LogitModel(means, sds, w.toSeq.map(_.toLong)), z, n)
    }
    def sExpr: String =
      (0 to k).map(j => s"${w(j)}L * x$j").mkString("(", " + ", ")")
    for (_ <- 1 to iters) {
      val pE = s"least(1000000L, greatest(0L, 500000L + " +
        s"(CASE WHEN $sExpr < 0 THEN -((-$sExpr) div ${LOGIT_FIT_SLOPE}L) " +
        s"ELSE $sExpr div ${LOGIT_FIT_SLOPE}L END)))"
      // r17: the residual r = pE − y·10⁶ is projected ONCE below the
      // aggregate instead of re-inlining the piecewise sigmoid into
      // each of the k+1 gradient sums — identical integer arithmetic
      // (g_j = Σ r·x_j, product still formed in BIGINT and cast to
      // DECIMAL(38,0) per row exactly as before), ~(k+1)× less
      // per-row sigmoid work and a (k+1)×-smaller expression tree for
      // the per-round optimizer/codegen pass (guide §1.2 step 2).
      val gAggs = (0 to k).map(j =>
        sum(expr(s"CAST(r * x$j AS DECIMAL(38,0))")).as(s"g$j"))
      val row = z.filter(col(inFitCol))
        .selectExpr(s"($pE - $yCol * 1000000L) AS r" +:
          (0 to k).map(j => s"x$j"): _*)
        .agg(gAggs.head, gAggs.tail: _*).head()
      for (j <- 0 to k) {
        val g = BigInt(row.getDecimal(j).toBigInteger)
        w(j) -= (if (g < 0) -((-g) / n) else g / n)
      }
    }
    (LogitModel(means, sds, w.toSeq.map(_.toLong)), z, n)
  }

  /** Driver bytes of one collected fit-slice row of [[fitLogitModel]]'s
    * mirror (the `Row` from `collect` plus its `Array[Long]` copy):
    * `LOGIT_ROW_BYTES + LOGIT_LONG_BYTES · (k + 2)`. Measured on JDK 17
    * with compressed oops over 5·10⁵-row collects: 152, 256 and 401 B
    * per row at k = 1, 4 and 8 (PERF.md §One Fixpoint module).
    */
  private val LOGIT_ROW_BYTES = 48L
  private val LOGIT_LONG_BYTES = 36L

  /** toks + scored CTEs feeding [[langPredSelect]] (reused by the
    * curation funnel; note toks EXCLUDES empty texts, so funnel
    * consumers left-join and coalesce to 'und').
    */
  private def langScoredCtes: String = {
    val scores = TextFunctions.langMarkers.map { case (lang, markers) =>
      val in = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(t, x -> x IN ($in))) AS score_$lang"
    }.mkString(", ")
    s"""$toksCte,
       |scored AS (SELECT doc_id, $scores FROM toks)""".stripMargin
  }

  /** SELECT over `scored` — first-wins strictly-greater fold, identical
    * to TextFunctions.langId.
    */
  private def langPredSelect: String = {
    val langs = TextFunctions.langMarkers.map(_._1)
    var bestLang = s"'${langs.head}'"
    var bestScore = s"score_${langs.head}"
    for (l <- langs.tail) {
      bestLang = s"CASE WHEN score_$l > $bestScore THEN '$l' ELSE $bestLang END"
      bestScore = s"CASE WHEN score_$l > $bestScore THEN score_$l ELSE $bestScore END"
    }
    s"""SELECT doc_id,
       |  CASE WHEN ($bestScore) > 0 THEN ($bestLang) ELSE 'und' END AS lang_pred
       |FROM scored""".stripMargin
  }

  private def langArgmaxSql: String =
    s"""WITH $langScoredCtes
       |$langPredSelect""".stripMargin

  /** qm + qv CTEs ending in `qv(doc_id, quality)` — the SQL twin of
    * TextFunctions.qualityScore, shared by q_quality_score, the
    * curation funnel, and Curation's quality-weighted sampler.
    */
  private[operators] def qualityCtes: String =
    s"""qm AS (SELECT doc_id, length(text) AS n,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
       |  CASE WHEN length(trim(text)) = 0 THEN 0
       |       ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
       |              x -> lower(x) IN ($stopwordsSql))) END AS stops,
       |  length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct
       | FROM documents),
       |qv AS (SELECT doc_id, CAST(
       |  (CASE WHEN n >= 200 AND n <= 5000 THEN 40 WHEN n >= 50 THEN 20 ELSE 0 END) +
       |  (CASE WHEN toks > 0 AND stops * 100 >= toks * 2 THEN 30 ELSE 0 END) +
       |  (CASE WHEN n > 0 AND punct * 100 <= n * 10 THEN 30 ELSE 0 END)
       | AS INT) AS quality
       | FROM qm)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_text_stats" ->
      s"""SELECT doc_id,
         | length(text) AS n_chars,
         | CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
         | len(regexp_extract_all(text, '${TextFunctions.subwordPattern}')) AS n_subwords,
         | length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         | length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         | CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
         |             x -> lower(x) IN ($stopwordsSql))) END AS n_stopwords
         |FROM documents""".stripMargin,

    "q_explode_tokens" ->
      s"""WITH $toksCte
         |SELECT tok AS token, count(*) AS n_occurrences
         |FROM toks, unnest(t) AS u(tok)
         |GROUP BY tok""".stripMargin,

    "q_bpe_pairs" ->
      s"""WITH $toksCte
         |SELECT t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS pair,
         |  count(*) AS n_occurrences
         |FROM toks, unnest(range(1, len(t))) AS u(i)
         |WHERE len(t) >= 2
         |GROUP BY pair""".stripMargin,

    "q_bpe_sampled" -> bpeSampledSql,

    "q_quality_percentile" ->
      s"""WITH $qualityCtes,
         |qc AS (SELECT quality, count(*) AS c FROM qv GROUP BY 1),
         |tot AS (SELECT count(*) AS tot FROM qv),
         |cum AS (SELECT quality,
         |    sum(c) OVER (ORDER BY quality ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM qc)
         |SELECT doc_id, qv.quality,
         |  CAST(cum * 10000 // tot AS BIGINT) AS pct_bp
         |FROM qv JOIN cum USING (quality) CROSS JOIN tot""".stripMargin,

    "q_pmi_cooccur" ->
      s"""WITH $toksCte,
         |dt AS (SELECT DISTINCT doc_id, tok FROM toks, unnest(t) AS u(tok)),
         |dfq AS (SELECT tok, count(*) AS n FROM dt GROUP BY 1),
         |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM dt),
         |p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
         |  FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |  GROUP BY 1, 2)
         |SELECT tok_a, tok_b, n_ab, da.n AS n_a, db.n AS n_b,
         |  CAST(n_ab * n_docs * 1000000 // (da.n * db.n) AS BIGINT)
         |    AS pmi_score
         |FROM p
         |JOIN dfq da ON da.tok = p.tok_a
         |JOIN dfq db ON db.tok = p.tok_b
         |CROSS JOIN nd
         |WHERE n_ab >= $MIN_COOC""".stripMargin,

    "q_dup_ngram_coverage" ->
      s"""WITH $shinglesCte,
         |dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared,
         |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS coverage_bp
         |FROM sh JOIN dfq USING (shingle)
         |GROUP BY doc_id""".stripMargin,

    "q_bigram_lm_score" ->
      s"""WITH $toksCte,
         |bi AS (SELECT doc_id, t[CAST(i AS INT)] AS w1,
         |    t[CAST(i AS INT)] || ' ' || t[CAST(i + 1 AS INT)] AS pair
         |  FROM toks, unnest(range(1, len(t))) AS u(i)
         |  WHERE len(t) >= 2),
         |model AS (SELECT pair, count(*) AS n_pair FROM bi GROUP BY 1),
         |ctx AS (SELECT w1, count(*) AS n_ctx FROM bi GROUP BY 1),
         |sc AS (SELECT doc_id, n_ctx * 1000000 // n_pair AS sup
         |  FROM bi JOIN model USING (pair) JOIN ctx USING (w1))
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(sup) AS BIGINT) AS surprisal_sum,
         |  CAST(sum(sup) // count(*) AS BIGINT) AS lm_score
         |FROM sc GROUP BY doc_id""".stripMargin,

    "q_skyline" ->
      s"""WITH $qualityCtes,
         |pv AS (SELECT qv.doc_id, d.lang, quality, qm.toks AS n_tokens
         |  FROM qv JOIN qm ON qv.doc_id = qm.doc_id
         |  JOIN documents d ON qv.doc_id = d.doc_id),
         |pc AS (SELECT lang, quality, n_tokens, count(*) AS n_docs
         |  FROM pv GROUP BY 1, 2, 3)
         |SELECT p.lang, p.quality, p.n_tokens, p.n_docs FROM pc p
         |WHERE NOT EXISTS (SELECT 1 FROM pc d
         |  WHERE d.lang = p.lang
         |    AND d.quality >= p.quality AND d.n_tokens >= p.n_tokens
         |    AND (d.quality > p.quality OR d.n_tokens > p.n_tokens))
         |""".stripMargin,

    "q_lang_confusion" ->
      s"""WITH $langScoredCtes,
         |lp AS ($langPredSelect)
         |SELECT d.lang, lp.lang_pred, count(*) AS n
         |FROM documents d JOIN lp ON lp.doc_id = d.doc_id
         |GROUP BY 1, 2""".stripMargin,

    "q_source_similarity" -> {
      val matches = (0 until NUM_HASHES)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $shinglesCte,
         |hms AS (SELECT d.source, ${Dedup.hash32Sql(0, "sh.shingle")} % ${Dedup.P} AS hm
         |  FROM sh JOIN documents d ON d.doc_id = sh.doc_id),
         |ssig AS (SELECT source, $minhashSelect FROM hms GROUP BY source)
         |SELECT a.source AS src_a, b.source AS src_b,
         |  CAST($matches AS BIGINT) AS n_match,
         |  CAST(($matches) * 100 // $NUM_HASHES AS BIGINT)
         |    AS est_jaccard_pct
         |FROM ssig a JOIN ssig b ON a.source < b.source""".stripMargin
    },

    "q_head_coverage" ->
      s"""WITH $toksCte,
         |tf AS (SELECT tok AS term, count(*) AS n
         |  FROM toks, unnest(t) AS u(tok) GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM tf),
         |r AS (SELECT term, n,
         |    row_number() OVER (ORDER BY n DESC, term ASC) AS k,
         |    sum(n) OVER (ORDER BY n DESC, term ASC
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM tf)
         |SELECT k, CAST(cum AS BIGINT) AS cum_tokens,
         |  CAST(cum * 10000 // t AS BIGINT) AS coverage_bp
         |FROM r CROSS JOIN tot
         |WHERE k IN (1, 2, 5, 10, 20, 50)""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH $shinglesCte,
         |firsts AS (SELECT shingle, min(doc_id) AS first_id
         |  FROM sh GROUP BY 1)
         |SELECT doc_id, count(*) AS n_grams,
         |  CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END)
         |    * 10000 // count(*) AS BIGINT) AS novelty_bp
         |FROM sh JOIN firsts USING (shingle)
         |GROUP BY doc_id""".stripMargin,

    "q_dup_rate_by_source" ->
      """WITH f AS (SELECT source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |fc AS (SELECT fp, count(*) AS c FROM f GROUP BY 1)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS dup_bp
        |FROM f JOIN fc USING (fp)
        |GROUP BY source""".stripMargin,

    "q_corpus_card" ->
      s"""WITH $qualityCtes,
         |fp AS (SELECT doc_id,
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
         |  FROM documents),
         |tk AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(tk.toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(d.n_chars) AS BIGINT) AS total_chars,
         |  count(DISTINCT d.lang) AS n_langs,
         |  count(DISTINCT d.source) AS n_sources,
         |  count(*) - count(DISTINCT fp.f) AS n_dup_docs,
         |  CAST(sum(qv.quality) // count(*) AS BIGINT) AS mean_quality
         |FROM documents d
         |JOIN fp ON fp.doc_id = d.doc_id
         |JOIN tk ON tk.doc_id = d.doc_id
         |JOIN qv ON qv.doc_id = d.doc_id""".stripMargin,

    "q_tfidf_pairs" ->
      s"""WITH $toksCte,
         |tf AS (SELECT doc_id, tok AS term, count(*) AS tf
         |  FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
         |  HAVING count(*) <= $MAX_DF),
         |w AS (SELECT doc_id, tf.term, CAST(tf * (1000 // df) AS BIGINT) AS w
         |  FROM tf JOIN dfq USING (term)),
         |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm
         |  FROM w GROUP BY 1),
         |dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(a.w * b.w) AS BIGINT) AS dot
         |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot,
         |  CAST(dot * 20000 // (na.nrm + nb.nrm) AS BIGINT) AS dice_bp
         |FROM dots
         |JOIN nrm na ON na.doc_id = doc_a
         |JOIN nrm nb ON nb.doc_id = doc_b
         |WHERE dot * 20000 >= ${THRESH * 100} * (na.nrm + nb.nrm)"""
        .stripMargin,

    "q_golden_record" ->
      s"""WITH RECURSIVE $ccCtes,
         |$qualityCtes,
         |mem AS (SELECT cc.id, cc.cluster_id, qv.quality, d.n_chars,
         |    d.lang
         |  FROM cc JOIN qv ON qv.doc_id = cc.id
         |  JOIN documents d ON d.doc_id = cc.id),
         |r AS (SELECT cluster_id, id,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, id ASC) AS rn
         |  FROM mem),
         |a AS (SELECT cluster_id, count(*) AS n_members,
         |    max(quality) AS max_quality, max(n_chars) AS max_chars,
         |    count(DISTINCT lang) AS n_langs
         |  FROM mem GROUP BY 1)
         |SELECT a.cluster_id, r.id AS survivor_id, n_members,
         |  max_quality, max_chars, n_langs
         |FROM a JOIN r ON r.cluster_id = a.cluster_id AND r.rn = 1"""
        .stripMargin,

    "q_blocklist_redact" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text,
         |    '${TextFunctions.blocklistPattern}')) AS n_blocklist,
         |  len(regexp_extract_all(text,
         |    '${TextFunctions.emailPattern}')) AS n_email,
         |  length(regexp_replace(
         |    regexp_replace(text, '${TextFunctions.emailPattern}', '[PII]', 'g'),
         |    '${TextFunctions.blocklistPattern}', '[REDACTED]', 'g')) AS clean_chars,
         |  length(text) AS raw_chars
         |FROM documents""".stripMargin,

    "q_quality_score" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, quality FROM qv""".stripMargin,

    "q_curation_funnel" ->
      s"""WITH $langScoredCtes,
         |lang AS ($langPredSelect),
         |$qualityCtes,
         |fpt AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |dup AS (SELECT doc_id, row_number() OVER (
         |    PARTITION BY fp ORDER BY doc_id ASC) AS dup_rank FROM fpt),
         |nt AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM documents)
         |SELECT d.doc_id,
         |  CASE WHEN dup.dup_rank > 1 THEN 'duplicate'
         |       WHEN nt.n_tokens < 10 THEN 'too_short'
         |       WHEN qv.quality < 40 THEN 'low_quality'
         |       WHEN coalesce(lang.lang_pred, 'und') = 'und' THEN 'unknown_lang'
         |       ELSE 'keep' END AS verdict
         |FROM documents d
         |JOIN dup ON d.doc_id = dup.doc_id
         |JOIN nt ON d.doc_id = nt.doc_id
         |JOIN qv ON d.doc_id = qv.doc_id
         |LEFT JOIN lang ON d.doc_id = lang.doc_id""".stripMargin,

    "q_lang_id" -> langArgmaxSql,

    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q_rolling_hash" ->
      """SELECT doc_id,
        | list_reduce(
        |   list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |   (acc, x) -> (acc * 257 + x) % 2147483647) AS rh
        |FROM documents""".stripMargin,

    "q_array_ops" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         | len(t) AS n_tokens,
         | len(list_distinct(t)) AS n_distinct,
         | array_to_string(t[1:5], ' ') AS head5,
         | array_to_string(list_reverse(t[1:3]), ' ') AS rev3,
         | list_contains(t, 'spark') AS has_spark
         |FROM toks""".stripMargin,

    "q_dedup_exact_text" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_dups
        |FROM documents GROUP BY 1""".stripMargin,

    "q_minhash_sig" ->
      s"""WITH $sigCte
         |SELECT * FROM sig""".stripMargin,

    "q_minhash_lsh_pairs" ->
      s"""WITH $sigCte,
         |bands AS (${(0 until BANDS).map(bandSelect).mkString("\n UNION ALL\n ")})
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin,

    "q_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM fp""".stripMargin,

    "q_simhash_neardup" ->
      s"""WITH $simhashNearDupCtes
         |SELECT doc_a, doc_b, hamming FROM snd""".stripMargin,

    "q_repetition" ->
      s"""WITH $toksCte,
         |grams AS (SELECT doc_id,
         |    array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ') AS gram
         |  FROM toks, unnest(range(1, len(t) - ${K - 2})) AS u(i)
         |  WHERE len(t) >= $K),
         |gc AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |  max(c) AS max_gram,
         |  CAST((max(c) * 100) // sum(c) AS BIGINT) AS rep_pct
         |FROM gc GROUP BY doc_id""".stripMargin,

    "q_top_terms" ->
      s"""WITH $toksCte,
         |tf AS (SELECT doc_id, tok AS term, count(*) AS tf
         |  FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |scored AS (SELECT doc_id, term, tf, df,
         |    (tf * 1000000) // df AS score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY (tf * 1000000) // df DESC, term ASC) AS rank
         |  FROM tf JOIN dfq USING (term))
         |SELECT doc_id, term, tf, df, score, rank
         |FROM scored WHERE rank <= 3""".stripMargin,

    "q_maxcover_docs" -> {
      val rows = (0 until MAXCOV_K).map(t =>
        s"SELECT CAST($t AS BIGINT) AS rank, doc_id, gain," +
          s" (SELECT count(*) FROM mcov$t) AS n_covered FROM mc$t")
        .mkString("\nUNION ALL ")
      s"""WITH $maxcoverCtes
         |$rows""".stripMargin
    },

    "q_maxcover_quota" -> {
      val rows = (0 until MAXCOV_K).map(t =>
        s"SELECT CAST($t AS BIGINT) AS rank, doc_id, source, gain," +
          s" (SELECT count(*) FROM qcov$t) AS n_covered FROM qc$t")
        .mkString("\nUNION ALL ")
      s"""WITH $maxcoverQuotaCtes
         |$rows""".stripMargin
    },

    "q_maxcover_sampled" -> {
      val rows = (0 until MAXCOV_K).map(t =>
        s"SELECT CAST($t AS BIGINT) AS rank, doc_id, gain," +
          s" (SELECT count(*) FROM scv$t) AS n_covered," +
          s" (SELECT CAST(COALESCE(sum(df), 0) AS BIGINT) FROM fdf" +
          s" WHERE tok IN (SELECT tok FROM scv$t)) AS cov_pairs_full" +
          s" FROM sc$t")
        .mkString("\nUNION ALL ")
      s"""WITH $maxcoverSampledCtes
         |$rows""".stripMargin
    },

    "q_jaccard_pairs" ->
      s"""WITH $jaccardCoreCtes
         |SELECT doc_a, doc_b, n_common, sz_a, sz_b FROM pc
         |WHERE n_common * 100 >= $THRESH * (sz_a + sz_b - n_common)""".stripMargin,

    "q_containment_pairs" ->
      s"""WITH $jaccardCoreCtes
         |SELECT doc_a, doc_b, n_common, sz_a, sz_b FROM pc
         |WHERE n_common * 100 >= $CONTAIN_T * least(sz_a, sz_b)""".stripMargin,

    "q_lsh_verified_dups" ->
      s"""WITH $lshVerifiedCtes
         |SELECT doc_a, doc_b, n_common, sz_a, sz_b FROM vp""".stripMargin,

    // deliberately the NAIVE all-pairs join: the Spark side only ever
    // joins prefix tokens, so a hash match proves prefix-filtering
    // completeness (no qualifying pair lacks a shared prefix token)
    "q_prefix_filter_pairs" ->
      s"""WITH $hashedShinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |fcommon AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_common
         |  FROM shh a JOIN shh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT f.doc_a, f.doc_b, f.n_common, sa.sz AS sz_a, sb.sz AS sz_b
         |FROM fcommon f
         |JOIN sizes sa ON f.doc_a = sa.doc_id
         |JOIN sizes sb ON f.doc_b = sb.doc_id
         |WHERE f.n_common * 100 >= $THRESH * (sa.sz + sb.sz - f.n_common)""".stripMargin,

    "q_dedup_ablation" -> {
      val ladder = ABLATION_THRESHOLDS.mkString(", ")
      s"""WITH $hashedShinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |fcommon AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_common
         |  FROM shh a JOIN shh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |lad AS (SELECT f.doc_a, f.doc_b, f.n_common,
         |    sa.sz AS sz_a, sb.sz AS sz_b, t.threshold_pct
         |  FROM fcommon f
         |  JOIN sizes sa ON f.doc_a = sa.doc_id
         |  JOIN sizes sb ON f.doc_b = sb.doc_id
         |  CROSS JOIN (SELECT unnest([$ladder]) AS threshold_pct) t
         |  WHERE f.n_common * 100 >=
         |    t.threshold_pct * (sa.sz + sb.sz - f.n_common)),
         |tc AS (SELECT doc_id, len(t) AS n_toks FROM toks),
         |ppt AS (SELECT threshold_pct, count(*) AS n_pairs
         |  FROM lad GROUP BY 1),
         |fl AS (SELECT DISTINCT threshold_pct, doc_b FROM lad),
         |dpt AS (SELECT threshold_pct, count(*) AS n_docs,
         |    CAST(sum(n_toks) AS BIGINT) AS n_tokens
         |  FROM fl JOIN tc ON fl.doc_b = tc.doc_id GROUP BY 1)
         |SELECT CAST(ppt.threshold_pct AS BIGINT) AS threshold_pct, n_pairs,
         |  coalesce(n_docs, 0) AS n_docs, coalesce(n_tokens, 0) AS n_tokens
         |FROM ppt LEFT JOIN dpt USING (threshold_pct)""".stripMargin
    },

    "q_dup_span" ->
      s"""WITH $toksCte,
         |grams AS (SELECT doc_id, i AS pos,
         |    ${Dedup.shingleHashSql(
               s"array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ')")} AS g
         |  FROM toks, unnest(range(1, len(t) - ${K - 2})) AS u(i)
         |  WHERE len(t) >= $K),
         |dupg AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams) d
         |  GROUP BY g HAVING count(*) >= 2),
         |isl AS (SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM grams JOIN dupg USING (g)),
         |runs AS (SELECT doc_id, count(*) AS run
         |  FROM isl GROUP BY doc_id, grp)
         |SELECT doc_id, max(run) AS max_run,
         |  max(run) + ${K - 1} AS max_span
         |FROM runs GROUP BY doc_id
         |HAVING max(run) >= $MIN_RUN""".stripMargin,

    "q_dup_span_coverage" ->
      s"""WITH $toksCte,
         |grams AS (SELECT doc_id, len(t) AS n_tokens, i AS pos,
         |    ${Dedup.shingleHashSql(
               s"array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ')")} AS g
         |  FROM toks, unnest(range(1, len(t) - ${K - 2})) AS u(i)
         |  WHERE len(t) >= $K),
         |dupg AS (SELECT g FROM (SELECT DISTINCT doc_id, g FROM grams) d
         |  GROUP BY g HAVING count(*) >= 2),
         |c AS (SELECT doc_id, n_tokens,
         |    coalesce(least($K, pos - lag(pos)
         |      OVER (PARTITION BY doc_id ORDER BY pos)), $K) AS c
         |  FROM grams JOIN dupg USING (g))
         |SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(c) AS BIGINT) AS dup_span_tokens,
         |  CAST(sum(c) * 10000 // max(n_tokens) AS BIGINT) AS coverage_bp
         |FROM c GROUP BY doc_id""".stripMargin,

    "q_minhash_accuracy" -> {
      val agree = (0 until NUM_HASHES)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $sigCte,
         |shh AS (SELECT doc_id, ${Dedup.shingleHashSql("shingle")} AS shingle
         |  FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |bands AS (${(0 until BANDS).map(bandSelect).mkString("\n UNION ALL\n ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         |est AS (SELECT cand.doc_a, cand.doc_b,
         |    ($agree) * 100 // $NUM_HASHES AS est_pct
         |  FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.doc_a
         |  JOIN sig sb ON sb.doc_id = cand.doc_b),
         |cm AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN shh x ON x.doc_id = c.doc_a
         |  JOIN shh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
         |  GROUP BY 1, 2),
         |ex AS (SELECT cm.doc_a, cm.doc_b,
         |    cm.n_common * 100 // (za.sz + zb.sz - cm.n_common) AS exact_pct
         |  FROM cm
         |  JOIN sizes za ON cm.doc_a = za.doc_id
         |  JOIN sizes zb ON cm.doc_b = zb.doc_id)
         |SELECT CAST(abs(est_pct - coalesce(exact_pct, 0)) // 10 AS BIGINT)
         |    AS err_bucket,
         |  count(*) AS n_pairs
         |FROM est LEFT JOIN ex USING (doc_a, doc_b)
         |GROUP BY 1""".stripMargin
    },

    "q_lsh_tuning" -> {
      def bandSelectFor(bands: Int)(band: Int): String = {
        val r = NUM_HASHES / bands
        val key = (0 until r).map(j => s"CAST(mh${band * r + j} AS VARCHAR)")
          .mkString(", ")
        s"SELECT doc_id, $band AS band, md5(concat_ws('-', $key)) AS bkey FROM sig"
      }
      val perConfig = TUNING_BANDS.map { b =>
        s"""bands$b AS (${(0 until b).map(bandSelectFor(b))
             .mkString("\n UNION ALL\n ")}),
           |cand$b AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands$b a JOIN bands$b b
           |    ON a.band = b.band AND a.bkey = b.bkey
           |      AND a.doc_id < b.doc_id),
           |common$b AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
           |  FROM cand$b c
           |  JOIN shh sa ON sa.doc_id = c.doc_a
           |  JOIN shh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
           |  GROUP BY 1, 2),
           |ver$b AS (SELECT 1 AS one FROM common$b m
           |  JOIN sizes za ON m.doc_a = za.doc_id
           |  JOIN sizes zb ON m.doc_b = zb.doc_id
           |  WHERE m.n_common * 100 >= $THRESH * (za.sz + zb.sz - m.n_common))"""
          .stripMargin
      }.mkString(",\n")
      val selects = TUNING_BANDS.map { b =>
        s"""SELECT CAST($b AS BIGINT) AS bands,
           |  CAST(${NUM_HASHES / b} AS BIGINT) AS rows_per_band,
           |  (SELECT count(*) FROM cand$b) AS n_candidates,
           |  (SELECT count(*) FROM ver$b) AS n_verified""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $sigCte,
         |shh AS (SELECT doc_id, ${Dedup.shingleHashSql("shingle")} AS shingle
         |  FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |$perConfig
         |$selects""".stripMargin
    },

    "q_lsh_recall" ->
      s"""WITH $lshVerifiedCtes,
         |fcommon AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_common
         |  FROM shh a JOIN shh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ep AS (SELECT f.doc_a, f.doc_b
         |  FROM fcommon f
         |  JOIN sizes sa ON f.doc_a = sa.doc_id
         |  JOIN sizes sb ON f.doc_b = sb.doc_id
         |  WHERE f.n_common * 100 >= $THRESH * (sa.sz + sb.sz - f.n_common))
         |SELECT count(*) AS n_true,
         |  count(v.doc_a) AS n_found,
         |  CASE WHEN count(*) > 0
         |    THEN CAST(count(v.doc_a) * 100 // count(*) AS BIGINT)
         |    ELSE NULL END AS recall_pct
         |FROM ep LEFT JOIN vp v USING (doc_a, doc_b)""".stripMargin,

    "q_minhash_est" -> {
      val agree = (0 until NUM_HASHES)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $sigCte,
         |bands AS (${(0 until BANDS).map(bandSelect).mkString("\n UNION ALL\n ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST($agree AS BIGINT) AS n_agree,
         |  CAST(($agree) * 100 // $NUM_HASHES AS BIGINT) AS est_jaccard_pct
         |FROM cand
         |JOIN sig sa ON sa.doc_id = cand.doc_a
         |JOIN sig sb ON sb.doc_id = cand.doc_b""".stripMargin
    },

    "q_bbit_minhash" -> {
      val bitAgree = (0 until NUM_HASHES)
        .map(i => s"(CASE WHEN sa.mh$i % 2 = sb.mh$i % 2 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      val slotAgree = (0 until NUM_HASHES)
        .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $sigCte,
         |bands AS (${(0 until BANDS).map(bandSelect).mkString("\n UNION ALL\n ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST($bitAgree AS BIGINT) AS n_bit_agree,
         |  CAST($slotAgree AS BIGINT) AS n_agree,
         |  greatest(CAST(0 AS BIGINT),
         |    CAST((2 * ($bitAgree) - $NUM_HASHES) * 10000
         |      // $NUM_HASHES AS BIGINT)) AS est_bbit_bp,
         |  CAST(($slotAgree) * 10000 // $NUM_HASHES AS BIGINT)
         |    AS est_full_bp
         |FROM cand
         |JOIN sig sa ON sa.doc_id = cand.doc_a
         |JOIN sig sb ON sb.doc_id = cand.doc_b""".stripMargin
    },

    "q_edit_distance_pairs" ->
      s"""WITH d AS (SELECT doc_id, lang, length(text) // $LEV_BLOCK AS lb,
         |    lower(substring(text, 1, $LEV_PREFIX)) AS pfx FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS lev
         |FROM d a JOIN d b
         |  ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
         |WHERE levenshtein(a.pfx, b.pfx) <= $MAX_LEV""".stripMargin,

    "q_vocab_coverage" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, tok AS term FROM toks, unnest(t) AS u(tok)),
         |tc AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |v AS (SELECT term FROM (SELECT term,
         |    row_number() OVER (ORDER BY c DESC, term ASC) AS rank FROM tc)
         |  WHERE rank <= $VOCAB_V)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_oov,
         |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 10000
         |    // count(*) AS BIGINT) AS oov_bp
         |FROM tok LEFT JOIN v USING (term)
         |GROUP BY doc_id""".stripMargin,

    "q_rarity_score" ->
      s"""WITH $toksCte,
         |tok AS (SELECT doc_id, tok AS term FROM toks, unnest(t) AS u(tok)),
         |tc AS (SELECT term, count(*) AS c FROM tok GROUP BY 1),
         |tot AS (SELECT sum(c) AS total FROM tc)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(sum(total // c) // count(*) AS BIGINT) AS rarity
         |FROM tok JOIN tc USING (term) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,

    "q_incremental_dedup" ->
      s"""WITH $lshVerifiedCtes,
         |bk AS (SELECT doc_id, ${Curation.bucketSql} AS bkt FROM documents),
         |fpt AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |batch AS (SELECT doc_id FROM bk WHERE bkt >= 90),
         |corpus AS (SELECT doc_id FROM bk WHERE bkt < 90),
         |ex AS (SELECT DISTINCT f.doc_id FROM fpt f
         |  JOIN batch USING (doc_id)
         |  WHERE f.fp IN (SELECT fp FROM fpt JOIN corpus USING (doc_id))),
         |nr AS (SELECT DISTINCT x.doc_id FROM (
         |    SELECT doc_b AS doc_id, doc_a AS other FROM vp
         |    UNION ALL SELECT doc_a, doc_b FROM vp) x
         |  JOIN corpus c ON c.doc_id = x.other)
         |SELECT b.doc_id,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'new' END AS verdict
         |FROM batch b
         |LEFT JOIN ex ON ex.doc_id = b.doc_id
         |LEFT JOIN nr ON nr.doc_id = b.doc_id""".stripMargin,

    "q_dup_clusters" ->
      s"""WITH RECURSIVE $ccCtes,
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM cc GROUP BY cluster_id)
         |SELECT cc.id AS doc_id, cc.cluster_id, csz.cluster_sz
         |FROM cc JOIN csz USING (cluster_id)""".stripMargin,

    "q_shingle_df_histogram" ->
      s"""WITH $hashedShinglesCte,
         |dfp AS (SELECT shingle, count(*) AS df FROM shh GROUP BY 1),
         |b AS (SELECT CAST(length(format('{:b}', df)) - 1 AS BIGINT)
         |    AS df_bucket, df
         |  FROM dfp)
         |SELECT df_bucket, count(*) AS n_shingles,
         |  CAST(sum(df) AS BIGINT) AS n_postings,
         |  CAST(max(df) AS BIGINT) AS max_df
         |FROM b GROUP BY 1""".stripMargin,

    "q_cluster_stats" ->
      s"""WITH RECURSIVE $ccCtes,
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM cc GROUP BY cluster_id),
         |hist AS (SELECT CAST(cluster_sz AS BIGINT) AS cluster_sz,
         |    CAST(count(*) AS BIGINT) AS n_clusters,
         |    CAST(sum(cluster_sz) AS BIGINT) AS n_docs
         |  FROM csz GROUP BY 1),
         |tot AS (SELECT count(*) AS total FROM documents),
         |inc AS (SELECT count(*) AS inc FROM cc)
         |SELECT cluster_sz, n_clusters, n_docs FROM hist
         |UNION ALL
         |SELECT CAST(1 AS BIGINT), CAST(total - inc AS BIGINT),
         |  CAST(total - inc AS BIGINT)
         |FROM tot, inc""".stripMargin,

    "q_source_overlap" ->
      s"""WITH st AS (SELECT source,
         |    string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |sg AS (SELECT DISTINCT source,
         |    ${Dedup.shingleHashSql(
               s"array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ')")} AS g
         |  FROM st, unnest(range(1, len(t) - ${K - 2})) AS u(i)
         |  WHERE len(t) >= $K),
         |sz AS (SELECT source, count(*) AS sz FROM sg GROUP BY 1),
         |ov AS (SELECT a.source AS source_a, b.source AS source_b,
         |    count(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, za.sz AS sz_a, zb.sz AS sz_b,
         |  CAST(n_shared * 10000 // (za.sz + zb.sz - n_shared) AS BIGINT)
         |    AS jaccard_bp
         |FROM ov
         |JOIN sz za ON source_a = za.source
         |JOIN sz zb ON source_b = zb.source""".stripMargin,

    "q_quality_vs_dup" ->
      s"""WITH $hashedShinglesCte,
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY doc_id),
         |fcommon AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_common
         |  FROM shh a JOIN shh b
         |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ep AS (SELECT f.doc_a, f.doc_b FROM fcommon f
         |  JOIN sizes sa ON f.doc_a = sa.doc_id
         |  JOIN sizes sb ON f.doc_b = sb.doc_id
         |  WHERE f.n_common * 100 >= $THRESH * (sa.sz + sb.sz - f.n_common)),
         |dup AS (SELECT DISTINCT doc_id FROM
         |  (SELECT doc_a AS doc_id FROM ep
         |   UNION ALL SELECT doc_b FROM ep) u),
         |$qualityCtes
         |SELECT qv.quality, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END)
         |    AS BIGINT) AS n_dup_docs,
         |  CAST(sum(CASE WHEN dup.doc_id IS NULL THEN 0 ELSE 1 END)
         |    * 10000 // count(*) AS BIGINT) AS dup_rate_bp
         |FROM qv LEFT JOIN dup ON qv.doc_id = dup.doc_id
         |GROUP BY 1""".stripMargin,

    "q_dedup_pipeline" ->
      s"""WITH RECURSIVE $lshVerifiedCtes,
         |fpg AS (SELECT
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f,
         |    min(doc_id) AS keep_id
         |  FROM documents GROUP BY 1),
         |surv AS (SELECT keep_id AS doc_id FROM fpg),
         |vps AS (SELECT doc_a, doc_b FROM vp
         |  WHERE doc_a IN (SELECT doc_id FROM surv)
         |    AND doc_b IN (SELECT doc_id FROM surv)),
         |se AS (SELECT doc_a AS src, doc_b AS dst FROM vps
         |       UNION SELECT doc_b, doc_a FROM vps),
         |sreach AS (SELECT src AS id, src AS r FROM se
         |           UNION
         |           SELECT sreach.id, se.dst FROM sreach
         |           JOIN se ON se.src = sreach.r),
         |scc AS (SELECT id, min(r) AS cluster_id FROM sreach GROUP BY id),
         |rem AS (SELECT id AS doc_id FROM scc WHERE id != cluster_id),
         |fin AS (SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
         |tok AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS t
         |  FROM documents)
         |SELECT (SELECT count(*) FROM documents) AS n_docs,
         |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM fpg)
         |    AS n_exact_removed,
         |  (SELECT count(*) FROM rem) AS n_near_removed,
         |  (SELECT count(*) FROM fin) AS n_final,
         |  (SELECT CAST(coalesce(sum(t), 0) AS BIGINT)
         |   FROM fin JOIN tok USING (doc_id)) AS tokens_final""".stripMargin,

    "q_dedup_plan_board" ->
      s"""WITH RECURSIVE $lshVerifiedCtes,
         |fpg AS (SELECT
         |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f,
         |    min(doc_id) AS keep_id
         |  FROM documents GROUP BY 1),
         |surv AS (SELECT keep_id AS doc_id FROM fpg),
         |vps AS (SELECT doc_a, doc_b FROM vp
         |  WHERE doc_a IN (SELECT doc_id FROM surv)
         |    AND doc_b IN (SELECT doc_id FROM surv)),
         |se AS (SELECT doc_a AS src, doc_b AS dst FROM vps
         |       UNION SELECT doc_b, doc_a FROM vps),
         |sreach AS (SELECT src AS id, src AS r FROM se
         |           UNION
         |           SELECT sreach.id, se.dst FROM sreach
         |           JOIN se ON se.src = sreach.r),
         |scc AS (SELECT id, min(r) AS cluster_id FROM sreach GROUP BY id),
         |csz AS (SELECT cluster_id, count(*) AS cluster_sz
         |  FROM scc GROUP BY 1),
         |$qualityCtes,
         |mem AS (SELECT scc.id, scc.cluster_id, qv.quality, d.n_chars,
         |    d.lang
         |  FROM scc JOIN qv ON qv.doc_id = scc.id
         |  JOIN documents d ON d.doc_id = scc.id),
         |sv AS (SELECT cluster_id, id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM mem),
         |ga AS (SELECT cluster_id, count(*) AS n_members,
         |    max(quality) AS max_quality, max(n_chars) AS max_chars,
         |    count(DISTINCT lang) AS n_langs
         |  FROM mem GROUP BY 1),
         |rem AS (SELECT id AS doc_id FROM scc WHERE id != cluster_id),
         |fin AS (SELECT doc_id FROM surv
         |  WHERE doc_id NOT IN (SELECT doc_id FROM rem)),
         |tok AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS t
         |  FROM documents)
         |SELECT 'member' AS section, scc.id AS c1, scc.cluster_id AS c2,
         |  CAST(csz.cluster_sz AS BIGINT) AS c3, CAST(NULL AS BIGINT) AS c4,
         |  CAST(NULL AS BIGINT) AS c5, CAST(NULL AS BIGINT) AS c6
         |FROM scc JOIN csz USING (cluster_id)
         |UNION ALL
         |SELECT 'survivor', cluster_id, id, CAST(quality AS BIGINT),
         |  CAST(n_members AS BIGINT), NULL, NULL
         |FROM sv WHERE rn = 1
         |UNION ALL
         |SELECT 'golden', ga.cluster_id, sv.id,
         |  CAST(ga.n_members AS BIGINT), CAST(ga.max_quality AS BIGINT),
         |  CAST(ga.max_chars AS BIGINT), CAST(ga.n_langs AS BIGINT)
         |FROM ga JOIN sv ON sv.cluster_id = ga.cluster_id AND sv.rn = 1
         |UNION ALL
         |SELECT 'summary',
         |  (SELECT count(*) FROM documents),
         |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM fpg),
         |  (SELECT count(*) FROM rem),
         |  (SELECT count(*) FROM fin),
         |  (SELECT CAST(coalesce(sum(t), 0) AS BIGINT)
         |   FROM fin JOIN tok USING (doc_id)),
         |  NULL""".stripMargin,

    "q_cluster_survivors" ->
      s"""WITH RECURSIVE $ccCtes,
         |$qualityCtes,
         |mem AS (SELECT cc.id, cc.cluster_id, qv.quality
         |  FROM cc JOIN qv ON qv.doc_id = cc.id),
         |r AS (SELECT cluster_id, id, quality,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality DESC, id ASC) AS rn,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members
         |  FROM mem)
         |SELECT cluster_id, id AS keep_id, quality AS keep_quality,
         |  n_members
         |FROM r WHERE rn = 1""".stripMargin,

    "q_split_leakage" ->
      s"""WITH $lshVerifiedCtes,
         |sp AS (SELECT n_common, sz_a, sz_b,
         |    ${Curation.bucketSqlFor("doc_a")} AS ba,
         |    ${Curation.bucketSqlFor("doc_b")} AS bb
         |  FROM vp),
         |lab AS (SELECT
         |    CASE WHEN ba < 80 THEN 'train' WHEN ba < 90 THEN 'valid'
         |         ELSE 'test' END AS la,
         |    CASE WHEN bb < 80 THEN 'train' WHEN bb < 90 THEN 'valid'
         |         ELSE 'test' END AS lb,
         |    CAST(n_common * 10000 // (sz_a + sz_b - n_common)
         |      AS BIGINT) AS jac_bp
         |  FROM sp)
         |SELECT least(la, lb) AS split_a, greatest(la, lb) AS split_b,
         |  count(*) AS n_pairs, CAST(sum(jac_bp) AS BIGINT) AS sum_jac_bp
         |FROM lab GROUP BY 1, 2""".stripMargin,

    "q_quality_logit" ->
      s"""WITH f AS (SELECT doc_id, length(text) AS n,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
         |             x -> lower(x) IN ($stopwordsSql))) END AS stops,
         |    length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
         |      AS punct,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(list_distinct(string_split_regex(trim(text),
         |             '\\s+'))) END AS uniq
         |  FROM documents),
         |bp AS (SELECT doc_id,
         |    CAST(10000 * least(n, 2000) // 2000 AS BIGINT) AS len_bp,
         |    CAST(CASE WHEN toks > 0 THEN 10000 * stops // toks
         |      ELSE 0 END AS BIGINT) AS stop_bp,
         |    CAST(CASE WHEN n > 0 THEN 10000 * punct // n
         |      ELSE 0 END AS BIGINT) AS punct_bp,
         |    CAST(CASE WHEN toks > 0 THEN 10000 * uniq // toks
         |      ELSE 0 END AS BIGINT) AS uniq_bp
         |  FROM f)
         |SELECT doc_id, len_bp, stop_bp, punct_bp, uniq_bp,
         |  CAST(greatest(0, 3 * len_bp + 4 * stop_bp - 2 * punct_bp
         |    + 2 * uniq_bp) // 10 AS BIGINT) AS logit_cp,
         |  CASE WHEN greatest(0, 3 * len_bp + 4 * stop_bp - 2 * punct_bp
         |      + 2 * uniq_bp) // 10 >= 1750 THEN 'keep'
         |    WHEN greatest(0, 3 * len_bp + 4 * stop_bp - 2 * punct_bp
         |      + 2 * uniq_bp) // 10 >= 1550 THEN 'review'
         |    ELSE 'drop' END AS verdict
         |FROM bp""".stripMargin,

    "q_logit_fit" -> logitFitSql(sampled = false),

    "q_uncertainty_sample" -> uncertaintySampleSql,

    "q_logit_fit_sampled" -> logitFitSql(sampled = true),
    "q_logit_refit" -> logitRefitSql,

    "q_pagerank_centrality" -> pagerankSql,

    "q_label_propagation" -> lpaSql,

    "q_triangle_clustering" ->
      s"""WITH $lshVerifiedCtes,
         |$triCtes,
         |corners AS (SELECT s AS x FROM tri
         |  UNION ALL SELECT u FROM tri UNION ALL SELECT v FROM tri),
         |pn AS (SELECT x, count(*) AS n_triangles FROM corners GROUP BY 1)
         |SELECT deg.x AS doc_id, CAST(deg.d AS BIGINT) AS degree,
         |  CAST(COALESCE(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CAST(CASE WHEN deg.d >= 2 THEN
         |      COALESCE(pn.n_triangles, 0) * 20000 // (deg.d * (deg.d - 1))
         |    ELSE 0 END AS BIGINT) AS clustering_bp
         |FROM deg LEFT JOIN pn ON pn.x = deg.x""".stripMargin,

    "q_edge_support" ->
      s"""WITH $lshVerifiedCtes,
         |$triCtes,
         |te AS (SELECT least(s, u) AS u, greatest(s, u) AS v FROM tri
         |  UNION ALL SELECT least(s, v), greatest(s, v) FROM tri
         |  UNION ALL SELECT u, v FROM tri),
         |sup AS (SELECT u, v, count(*) AS support FROM te GROUP BY 1, 2)
         |SELECT ce.u AS doc_a, ce.v AS doc_b,
         |  CAST(COALESCE(sup.support, 0) AS BIGINT) AS support,
         |  COALESCE(sup.support, 0) = 0 AS is_bridge
         |FROM ce LEFT JOIN sup ON sup.u = ce.u AND sup.v = ce.v""".stripMargin,

    "q_kcore" -> {
      // unroll the identical fixed peel rounds the Spark loop runs
      val rounds = (1 to KCORE_ROUNDS).map { i =>
        s"""a$i AS (SELECT e.dst AS id, count(*) AS d
           |  FROM e JOIN a${i - 1} s ON e.src = s.id
           |  JOIN a${i - 1} t ON e.dst = t.id
           |  GROUP BY 1 HAVING count(*) >= $KCORE_K)""".stripMargin
      }.mkString(",\n")
      s"""WITH $lshVerifiedCtes,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |      UNION ALL SELECT doc_b, doc_a FROM vp),
         |a0 AS (SELECT dst AS id, count(*) AS d FROM e GROUP BY 1),
         |$rounds
         |SELECT id AS doc_id, CAST(d AS BIGINT) AS core_degree
         |FROM a$KCORE_ROUNDS""".stripMargin
    },

    "q_degree_hist" ->
      s"""WITH $lshVerifiedCtes,
         |dg AS (SELECT x, count(*) AS degree FROM (
         |    SELECT doc_a AS x FROM vp UNION ALL SELECT doc_b FROM vp)
         |  GROUP BY 1)
         |SELECT CAST(degree AS BIGINT) AS degree,
         |  count(*) AS n_nodes
         |FROM dg GROUP BY 1""".stripMargin,

    "q_stopword_profile" ->
      s"""WITH m AS (SELECT lang,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS toks,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(list_filter(string_split_regex(trim(text), '\\s+'),
         |             x -> lower(x) IN ($stopwordsSql))) END AS stops
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(stops) AS BIGINT) AS n_stopwords,
         |  CASE WHEN sum(toks) = 0 THEN NULL
         |    ELSE CAST(sum(stops) * 1000000 // sum(toks) AS BIGINT) END
         |    AS stop_ppm
         |FROM m GROUP BY lang""".stripMargin,

    "q_vocab_growth" ->
      s"""WITH $shinglesCte,
         |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM sh
         |  GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |b AS (SELECT CAST(first_doc * $GROWTH_BUCKETS // n_docs AS BIGINT)
         |    AS decile FROM fs, n),
         |g AS (SELECT decile, count(*) AS new_terms FROM b GROUP BY 1)
         |SELECT decile, new_terms,
         |  CAST(sum(new_terms) OVER (ORDER BY decile
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_vocab
         |FROM g""".stripMargin,

    "q_char_class_profile" ->
      """WITH m AS (SELECT lang, length(text) AS n,
        |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS a,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS g,
        |    length(regexp_replace(text, '[^\s]', '', 'g')) AS w,
        |    length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS p
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_chars,
        |  CASE WHEN sum(n) = 0 THEN NULL
        |    ELSE CAST(sum(a) * 1000000 // sum(n) AS BIGINT) END AS alpha_ppm,
        |  CASE WHEN sum(n) = 0 THEN NULL
        |    ELSE CAST(sum(g) * 1000000 // sum(n) AS BIGINT) END AS digit_ppm,
        |  CASE WHEN sum(n) = 0 THEN NULL
        |    ELSE CAST(sum(w) * 1000000 // sum(n) AS BIGINT) END AS space_ppm,
        |  CASE WHEN sum(n) = 0 THEN NULL
        |    ELSE CAST(sum(p) * 1000000 // sum(n) AS BIGINT) END AS punct_ppm
        |FROM m GROUP BY lang""".stripMargin,

    "q_assortativity" ->
      s"""WITH $lshVerifiedCtes,
         |se AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |       UNION ALL SELECT doc_b, doc_a FROM vp),
         |dg AS (SELECT src, count(*) AS d FROM se GROUP BY 1),
         |ends AS (SELECT da.d AS du, db.d AS dv
         |  FROM se JOIN dg da ON se.src = da.src
         |  JOIN dg db ON se.dst = db.src),
         |s AS (SELECT count(*) AS cnt,
         |    sum(du) AS sx, sum(dv) AS sy, sum(du * dv) AS sxy,
         |    sum(du * du) AS sxx, sum(dv * dv) AS syy
         |  FROM ends)
         |SELECT CAST(cnt AS BIGINT) AS n_dir_edges,
         |  CAST(sx AS BIGINT) AS sum_deg,
         |  CAST(sxy AS BIGINT) AS sum_dudv,
         |  CAST(CASE WHEN (cnt*sxy - sx*sy) > 0 THEN 1
         |       WHEN (cnt*sxy - sx*sy) < 0 THEN -1
         |       ELSE 0 END AS BIGINT) AS assort_sign,
         |  CASE WHEN ((cnt*sxx - sx*sx) * (cnt*syy - sy*sy)) = 0
         |       THEN CAST(NULL AS BIGINT)
         |       ELSE CAST(((cnt*sxy - sx*sy) * (cnt*sxy - sx*sy)
         |         * 1000000) // ((cnt*sxx - sx*sx) * (cnt*syy - sy*sy))
         |         AS BIGINT) END AS assort2_ppm
         |FROM s""".stripMargin,

    "q_zipf_slope" ->
      s"""WITH $toksCte,
         |tc AS (SELECT tok AS term, count(*) AS c
         |  FROM toks, unnest(t) AS u(tok) GROUP BY 1),
         |hd AS (SELECT term, c,
         |    row_number() OVER (ORDER BY c DESC, term ASC) AS r
         |  FROM tc ORDER BY c DESC, term ASC LIMIT $ZIPF_TOP),
         |xy AS (SELECT CAST(length(format('{:b}', r)) - 1 AS BIGINT) AS x,
         |    CAST(length(format('{:b}', c)) - 1 AS BIGINT) AS y
         |  FROM hd),
         |s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |    sum(x * y) AS sxy, sum(x * x) AS sxx FROM xy)
         |SELECT CAST(n AS BIGINT) AS n_terms,
         |  CASE WHEN (n*sxx - sx*sx) = 0 THEN CAST(NULL AS BIGINT)
         |    WHEN (n*sxy - sx*sy) < 0 THEN
         |      CAST(-((-(n*sxy - sx*sy) * 1000000)
         |        // (n*sxx - sx*sx)) AS BIGINT)
         |    ELSE CAST(((n*sxy - sx*sy) * 1000000)
         |      // (n*sxx - sx*sx) AS BIGINT)
         |  END AS slope_ppm
         |FROM s""".stripMargin,

    "q_link_prediction" ->
      s"""WITH $simhashNearDupCtes,
         |lce AS (SELECT least(doc_a, doc_b) AS u,
         |    greatest(doc_a, doc_b) AS v
         |  FROM snd WHERE doc_a <> doc_b GROUP BY 1, 2),
         |lse AS (SELECT u AS c, v AS n FROM lce
         |        UNION ALL SELECT v, u FROM lce),
         |ldg AS (SELECT c, count(*) AS d FROM lse GROUP BY 1),
         |lcse AS (SELECT lse.c, lse.n, ldg.d FROM lse
         |  JOIN ldg ON lse.c = ldg.c WHERE ldg.d <= $WEDGE_CAP),
         |lsc AS (SELECT a.n AS u, b.n AS v, count(*) AS cn,
         |    sum(1000000 // a.d) AS ra
         |  FROM lcse a JOIN lcse b ON a.c = b.c AND a.n < b.n
         |  GROUP BY 1, 2),
         |lna AS (SELECT * FROM lsc WHERE NOT EXISTS (
         |  SELECT 1 FROM lce WHERE lce.u = lsc.u AND lce.v = lsc.v))
         |SELECT lna.u AS doc_a, lna.v AS doc_b,
         |  CAST(cn AS BIGINT) AS cn, CAST(ra AS BIGINT) AS ra_ppm,
         |  CAST(cn * 10000 // (da.d + db.d - cn) AS BIGINT)
         |    AS jaccard_bp
         |FROM lna JOIN ldg da ON da.c = lna.u
         |JOIN ldg db ON db.c = lna.v""".stripMargin,

    "q_cluster_diversity" ->
      s"""WITH RECURSIVE $ccCtes
         |SELECT cc.cluster_id, count(*) AS n_docs,
         |  count(DISTINCT d.source) AS n_sources,
         |  count(DISTINCT d.lang) AS n_langs,
         |  count(DISTINCT d.source) > 1 AS cross_source
         |FROM cc JOIN documents d ON d.doc_id = cc.id
         |GROUP BY 1""".stripMargin,

    "q_detector_agreement" ->
      s"""WITH $lshVerifiedCtes,
         |${Winnow.matchPairsTail},
         |dab AS (SELECT count(*) AS n_both FROM vp
         |  JOIN wmp USING (doc_a, doc_b)),
         |dal AS (SELECT count(*) AS n_lsh FROM vp),
         |daw AS (SELECT count(*) AS n_win FROM wmp)
         |SELECT CAST(n_both AS BIGINT) AS n_both,
         |  CAST(n_lsh - n_both AS BIGINT) AS n_lsh_only,
         |  CAST(n_win - n_both AS BIGINT) AS n_winnow_only,
         |  CASE WHEN n_lsh + n_win - n_both = 0
         |    THEN CAST(NULL AS BIGINT)
         |    ELSE CAST(n_both * 10000 // (n_lsh + n_win - n_both)
         |      AS BIGINT)
         |  END AS agreement_bp
         |FROM dab, dal, daw""".stripMargin,

    "q_jaccard_threshold_sweep" ->
      s"""WITH $jaccardCoreCtes,
         |jsw AS (SELECT t.threshold_pct, pc.doc_a, pc.doc_b
         |  FROM pc, (SELECT unnest([50, 60, 70, 80]) AS threshold_pct) t
         |  WHERE pc.n_common * 10000 // (sz_a + sz_b - n_common)
         |    >= t.threshold_pct * 100),
         |jp AS (SELECT threshold_pct, count(*) AS n_pairs FROM jsw
         |  GROUP BY 1),
         |jd AS (SELECT threshold_pct, count(DISTINCT d) AS n_docs
         |  FROM (SELECT threshold_pct, doc_a AS d FROM jsw
         |        UNION ALL SELECT threshold_pct, doc_b FROM jsw)
         |  GROUP BY 1)
         |SELECT jp.threshold_pct, jp.n_pairs, jd.n_docs
         |FROM jp JOIN jd USING (threshold_pct)""".stripMargin,

    "q_crosslang_dup" ->
      s"""WITH $lshVerifiedCtes,
         |cl AS (SELECT least(da.lang, db.lang) AS lang_1,
         |    greatest(da.lang, db.lang) AS lang_2
         |  FROM vp JOIN documents da ON da.doc_id = vp.doc_a
         |  JOIN documents db ON db.doc_id = vp.doc_b)
         |SELECT lang_1, lang_2, count(*) AS n_pairs
         |FROM cl GROUP BY 1, 2""".stripMargin,

    "q_hapax_rate" ->
      """WITH hs AS (SELECT source, tok AS term FROM (
        |    SELECT source,
        |      string_split_regex(trim(lower(text)), '\s+') AS t
        |    FROM documents WHERE length(trim(text)) > 0),
        |  unnest(t) AS u(tok)),
        |htc AS (SELECT source, term, count(*) AS c FROM hs
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_types,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 10000
        |    // count(*) AS BIGINT) AS hapax_bp,
        |  CAST(count(*) * 10000 // sum(c) AS BIGINT) AS type_token_bp
        |FROM htc GROUP BY 1""".stripMargin,

    "q_modularity" -> {
      // LPA rounds mirror Clusters.labelPropagation exactly (neighbor
      // majority, count DESC then label ASC), renamed to avoid CTE
      // collisions with the shared cc/lpa chains
      val rounds = (1 to LPA_ITERS).map { i =>
        s"""mv$i AS (SELECT me.dst AS id, l.lbl, count(*) AS c
           |  FROM me JOIN ml${i - 1} l ON me.src = l.id
           |  GROUP BY 1, 2),
           |ml$i AS (SELECT id, lbl FROM (
           |    SELECT id, lbl, row_number() OVER (PARTITION BY id
           |      ORDER BY c DESC, lbl ASC) AS rn FROM mv$i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE $lshVerifiedCtes,
         |me AS (SELECT doc_a AS src, doc_b AS dst FROM vp
         |       UNION ALL SELECT doc_b, doc_a FROM vp),
         |mreach AS (SELECT src AS id, src AS r FROM me
         |           UNION
         |           SELECT mreach.id, me.dst FROM mreach
         |             JOIN me ON me.src = mreach.r),
         |mcc AS (SELECT id, min(r) AS lbl FROM mreach GROUP BY id),
         |ml0 AS (SELECT DISTINCT dst AS id, dst AS lbl FROM me),
         |$rounds,
         |mlab AS (SELECT 'cc' AS method, id, lbl FROM mcc
         |         UNION ALL SELECT 'lpa', id, lbl FROM ml$LPA_ITERS),
         |mm AS (SELECT count(*) AS m FROM vp),
         |mdeg AS (SELECT src AS id, count(*) AS d FROM me GROUP BY 1),
         |mein AS (SELECT l1.method, count(*) AS e_in FROM vp
         |  JOIN mlab l1 ON l1.id = vp.doc_a
         |  JOIN mlab l2 ON l2.id = vp.doc_b AND l2.method = l1.method
         |  WHERE l1.lbl = l2.lbl GROUP BY 1),
         |mdc AS (SELECT mlab.method, mlab.lbl,
         |    CAST(sum(mdeg.d) AS HUGEINT) AS dsum
         |  FROM mlab JOIN mdeg ON mdeg.id = mlab.id GROUP BY 1, 2),
         |mdc2 AS (SELECT method, sum(dsum * dsum) AS sum_dc2,
         |    count(*) AS n_communities
         |  FROM mdc GROUP BY 1)
         |SELECT e.method, CAST(m AS BIGINT) AS m,
         |  CAST(e.e_in AS BIGINT) AS e_in,
         |  CAST(n_communities AS BIGINT) AS n_communities,
         |  CASE WHEN (CAST(e_in AS HUGEINT) * 4 * m - sum_dc2) < 0
         |    THEN CAST(-((-(CAST(e_in AS HUGEINT) * 4 * m - sum_dc2)
         |      * 10000) // (CAST(4 AS HUGEINT) * m * m)) AS BIGINT)
         |    ELSE CAST(((CAST(e_in AS HUGEINT) * 4 * m - sum_dc2)
         |      * 10000) // (CAST(4 AS HUGEINT) * m * m) AS BIGINT)
         |  END AS modularity_bp
         |FROM mein e JOIN mdc2 USING (method), mm""".stripMargin
    },

    "q_bm25_topk" -> {
      val terms = BM25_QUERY.map(t => s"'$t'").mkString(", ")
      s"""WITH $toksCte,
         |bdl AS (SELECT doc_id, len(t) AS len FROM toks),
         |bst AS (SELECT count(*) AS nd, sum(len) AS tl FROM bdl),
         |btf AS (SELECT doc_id, tok AS term, count(*) AS tf
         |  FROM toks, unnest(t) AS u(tok)
         |  WHERE tok IN ($terms) GROUP BY 1, 2),
         |bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY 1),
         |bsc AS (SELECT btf.doc_id,
         |    CAST(length(format('{:b}',
         |      greatest(1, nd * 2 // (2 * df + 1)))) - 1 AS BIGINT)
         |      AS idf_bits,
         |    100 - $BM25_B_C + ($BM25_B_C * bdl.len * nd) // tl
         |      AS norm_c,
         |    btf.tf AS tf
         |  FROM btf JOIN bdf USING (term)
         |  JOIN bdl ON bdl.doc_id = btf.doc_id, bst),
         |bag AS (SELECT doc_id,
         |    CAST(sum(idf_bits * ((tf * ${100 + BM25_K1_C} * 100)
         |      // (tf * 100 + ($BM25_K1_C * norm_c) // 100)))
         |      AS BIGINT) AS score,
         |    count(*) AS n_terms_hit
         |  FROM bsc GROUP BY 1)
         |SELECT doc_id, score, n_terms_hit FROM bag
         |ORDER BY score DESC, doc_id ASC LIMIT $BM25_TOP""".stripMargin
    },

    "q_dedup_inflation" ->
      s"""WITH RECURSIVE $ccCtes,
         |tok AS (SELECT doc_id, source,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS toks
         |  FROM documents),
         |j AS (SELECT t.source, t.toks,
         |    (cc.id IS NULL OR cc.cluster_id = t.doc_id) AS keep
         |  FROM tok t LEFT JOIN cc ON cc.id = t.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept_docs,
         |  CAST(sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  CASE WHEN sum(CASE WHEN keep THEN toks ELSE 0 END) = 0 THEN NULL
         |    ELSE CAST(sum(toks) * 10000 //
         |      sum(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT) END
         |    AS inflation_bp
         |FROM j GROUP BY source""".stripMargin,

    "q_normalize_dedup" ->
      s"""WITH n AS (SELECT doc_id, md5(text) AS raw_h,
         |    ${Dedup.shingleHashSql(
               "trim(regexp_replace(regexp_replace(lower(text), " +
                 "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")} AS norm_h
         |  FROM documents)
         |SELECT norm_h, min(doc_id) AS survivor_doc_id,
         |  count(*) AS group_sz,
         |  count(DISTINCT raw_h) AS n_raw_variants
         |FROM n GROUP BY norm_h""".stripMargin,

    "q_prefix_dup" ->
      s"""WITH $toksCte,
         |p AS (SELECT doc_id,
         |    ${Dedup.shingleHashSql(
               s"array_to_string(t[1:$PREFIX_K], ' ')")} AS prefix_h
         |  FROM toks WHERE len(t) >= $PREFIX_K)
         |SELECT prefix_h, count(*) AS n_docs,
         |  min(doc_id) AS exemplar_doc_id
         |FROM p GROUP BY prefix_h
         |HAVING count(*) >= 2""".stripMargin,

    "q_token_fertility" ->
      s"""WITH m AS (SELECT lang, length(text) AS n_chars,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS toks,
         |    len(regexp_extract_all(text,
         |      '${TextFunctions.subwordPattern}')) AS subs
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS n_words,
         |  CAST(sum(subs) AS BIGINT) AS n_subwords,
         |  CASE WHEN sum(toks) = 0 THEN NULL
         |    ELSE CAST(sum(subs) * 10000 // sum(toks) AS BIGINT) END
         |    AS fertility_bp,
         |  CASE WHEN sum(toks) = 0 THEN NULL
         |    ELSE CAST(sum(n_chars) * 100 // sum(toks) AS BIGINT) END
         |    AS chars_per_word_c
         |FROM m GROUP BY lang""".stripMargin,

    "q_curriculum_order" ->
      s"""WITH $qualityCtes,
         |h AS (SELECT qv.doc_id, CAST(qv.quality AS BIGINT) // 10 AS band,
         |    ${Dedup.hash32Sql(CURR_SEED, "CAST(qv.doc_id AS VARCHAR)")} AS h
         |  FROM qv)
         |SELECT doc_id, band, h % $CURR_SHARDS AS shard,
         |  CAST(row_number() OVER (PARTITION BY band, h % $CURR_SHARDS
         |    ORDER BY h ASC, doc_id ASC) AS INT) AS pos
         |FROM h""".stripMargin,

    "q_simpson_diversity" ->
      s"""WITH $toksCte,
         |stf AS (SELECT doc_id, tok, count(*) AS c
         |  FROM toks, unnest(t) AS u(tok) GROUP BY 1, 2),
         |sd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
         |  FROM stf GROUP BY 1)
         |SELECT doc_id, n_tokens,
         |  CAST(rep_pairs * 1000000 // (n_tokens * (n_tokens - 1))
         |    AS BIGINT) AS simpson_ppm
         |FROM sd WHERE n_tokens >= 2""".stripMargin,

    "q_readability" ->
      s"""WITH rm AS (SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS n_words,
         |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll,
         |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
         |  FROM documents)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(n_syll AS BIGINT) AS n_syll,
         |  CAST(n_syll * 1000000 // n_words AS BIGINT) AS spw_ppm,
         |  CAST(n_alpha * 100 // n_words AS BIGINT) AS lpw_centi
         |FROM rm WHERE n_words >= 1""".stripMargin,

    "q_labeler_kappa" ->
      s"""WITH $langScoredCtes,
         |lp AS ($langPredSelect),
         |kcm AS (SELECT d.lang, lp.lang_pred, count(*) AS n
         |  FROM documents d JOIN lp ON lp.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |krow AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n
         |  FROM kcm GROUP BY 1),
         |kcol AS (SELECT lang_pred, CAST(sum(n) AS BIGINT) AS col_n
         |  FROM kcm GROUP BY 1),
         |kpe AS (SELECT coalesce(sum(CAST(row_n AS HUGEINT) * col_n),
         |      CAST(0 AS HUGEINT)) AS pe_raw
         |  FROM krow JOIN kcol ON krow.lang = kcol.lang_pred),
         |ktot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN lang = lang_pred THEN n ELSE 0 END)
         |      AS BIGINT) AS agree_n
         |  FROM kcm)
         |SELECT n_docs, agree_n,
         |  CASE WHEN CAST(n_docs AS HUGEINT) * n_docs - pe_raw = 0
         |    THEN NULL
         |    ELSE CAST((CAST(n_docs AS HUGEINT) * agree_n - pe_raw)
         |        * 1000000
         |      // (CAST(n_docs AS HUGEINT) * n_docs - pe_raw) AS BIGINT)
         |    END AS kappa_ppm
         |FROM ktot, kpe""".stripMargin,

    "q_stemmed_vocab" ->
      s"""WITH $toksCte,
         |svt AS (SELECT doc_id, tok FROM toks, unnest(t) AS u(tok)),
         |svd AS (SELECT d.lang, svt.tok, $STEM_CASE AS stem
         |  FROM svt JOIN documents d ON d.doc_id = svt.doc_id)
         |SELECT lang, count(DISTINCT tok) AS n_types,
         |  count(DISTINCT stem) AS n_stem_types,
         |  CAST((count(DISTINCT tok) - count(DISTINCT stem)) * 10000
         |    // count(DISTINCT tok) AS BIGINT) AS collapse_bp
         |FROM svd GROUP BY 1""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH $lshCountedCtes,
         |hn AS (SELECT doc_a, doc_b, n_common,
         |    sa.sz AS sz_a, sb.sz AS sz_b
         |  FROM common
         |  JOIN sizes sa ON doc_a = sa.doc_id
         |  JOIN sizes sb ON doc_b = sb.doc_id
         |  WHERE n_common * 100 >= $HN_LO * (sa.sz + sb.sz - n_common)
         |    AND n_common * 100 < $THRESH * (sa.sz + sb.sz - n_common))
         |SELECT doc_a, doc_b, n_common, sz_a, sz_b,
         |  CAST(n_common * 10000 // (sz_a + sz_b - n_common) AS BIGINT)
         |    AS jaccard_bp
         |FROM hn""".stripMargin,

    "q_labeler_prf" ->
      s"""WITH $langScoredCtes,
         |plp AS ($langPredSelect),
         |pcm AS (SELECT d.lang, plp.lang_pred, count(*) AS n
         |  FROM documents d JOIN plp ON plp.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |ptp AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp
         |  FROM pcm WHERE lang = lang_pred),
         |pac AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS n_actual
         |  FROM pcm GROUP BY 1),
         |ppr AS (SELECT lang_pred AS cls,
         |    CAST(sum(n) AS BIGINT) AS n_predicted
         |  FROM pcm GROUP BY 1),
         |pj AS (SELECT coalesce(pac.cls, ppr.cls) AS cls,
         |    coalesce(n_actual, 0) AS n_actual,
         |    coalesce(n_predicted, 0) AS n_predicted
         |  FROM pac FULL OUTER JOIN ppr ON pac.cls = ppr.cls),
         |pz AS (SELECT pj.cls, n_actual, n_predicted,
         |    coalesce(tp, 0) AS tp,
         |    n_predicted - coalesce(tp, 0) AS fp,
         |    n_actual - coalesce(tp, 0) AS fn
         |  FROM pj LEFT JOIN ptp ON ptp.cls = pj.cls)
         |SELECT cls, n_actual, n_predicted, tp,
         |  CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
         |  CASE WHEN n_predicted = 0 THEN NULL
         |    ELSE CAST(tp * 10000 // n_predicted AS BIGINT) END
         |    AS precision_bp,
         |  CASE WHEN n_actual = 0 THEN NULL
         |    ELSE CAST(tp * 10000 // n_actual AS BIGINT) END AS recall_bp,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
         |    ELSE CAST(2 * tp * 10000 // (2 * tp + fp + fn) AS BIGINT)
         |  END AS f1_bp
         |FROM pz""".stripMargin,

    "q_source_term_affinity" ->
      s"""WITH $toksCte,
         |atf AS (SELECT d.source, tok AS term, count(*) AS c_st
         |  FROM toks t JOIN documents d ON d.doc_id = t.doc_id,
         |       unnest(t.t) AS u(tok)
         |  GROUP BY 1, 2),
         |asrc AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS c_s
         |  FROM atf GROUP BY 1),
         |aterm AS (SELECT term, CAST(sum(c_st) AS BIGINT) AS c_t
         |  FROM atf GROUP BY 1),
         |atot AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_total FROM asrc),
         |ascored AS (SELECT a.source, a.term, a.c_st,
         |    ${Dedup.shingleHashSql("a.term")} AS h,
         |    CAST(CAST(a.c_st AS HUGEINT) * n_total * 10000
         |      // (CAST(c_s AS HUGEINT) * c_t) AS BIGINT) AS lift_bp
         |  FROM atf a JOIN asrc USING (source) JOIN aterm USING (term)
         |  CROSS JOIN atot
         |  WHERE a.c_st >= $AFF_MIN_SUPPORT),
         |ar AS (SELECT source, term, c_st, lift_bp,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY least(lift_bp, 9007199254740992) DESC,
         |        h ASC, term ASC) AS rank
         |  FROM ascored)
         |SELECT source, term, c_st, lift_bp, rank FROM ar
         |WHERE rank <= $AFF_TOP""".stripMargin
  )

  /** q_label_propagation oracle: LPA_ITERS synchronous rounds unrolled
    * as chained CTEs over the shared verified-pair graph — per round,
    * per-node neighbor-label counts, then argmax by (count DESC, label
    * ASC) via row_number. Same determinism contract as the Spark loop.
    */
  private def lpaSql: String = {
    val rounds = (1 to LPA_ITERS).map { i =>
      s"""v$i AS (SELECT e.dst AS id, l.lbl, count(*) AS c
         |  FROM e JOIN l${i - 1} l ON e.src = l.id
         |  GROUP BY 1, 2),
         |l$i AS (SELECT id, lbl FROM (
         |    SELECT id, lbl, row_number() OVER (PARTITION BY id
         |      ORDER BY c DESC, lbl ASC) AS rn FROM v$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lshVerifiedCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |      UNION ALL SELECT doc_b, doc_a FROM vp),
       |l0 AS (SELECT DISTINCT dst AS id, dst AS lbl FROM e),
       |$rounds,
       |sz AS (SELECT lbl, count(*) AS community_sz
       |  FROM l$LPA_ITERS GROUP BY 1)
       |SELECT l.id AS doc_id, l.lbl AS community, sz.community_sz
       |FROM l$LPA_ITERS l JOIN sz ON l.lbl = sz.lbl""".stripMargin
  }

  /** q_pagerank_centrality oracle: PR_ITERS power iterations unrolled
    * as chained CTEs (recursive CTEs cannot aggregate in the recursive
    * term, but the iteration count is a constant, so unrolling IS the
    * faithful twin of the Spark loop). Integer floor division on
    * positive BIGINTs keeps both engines bit-identical.
    */
  private def pagerankSql: String = {
    val iters = (1 to PR_ITERS).map { i =>
      s"""pr$i AS (SELECT n.id,
         |    CAST(150000 + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT)
         |      AS rank_ppm
         |  FROM nodes n LEFT JOIN (
         |    SELECT ed.dst, sum(p.rank_ppm // ed.d) AS s
         |    FROM pr${i - 1} p JOIN ed ON ed.src = p.id
         |    GROUP BY ed.dst) c ON c.dst = n.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lshVerifiedCtes,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM vp
       |      UNION ALL SELECT doc_b, doc_a FROM vp),
       |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
       |ed AS (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT src AS id FROM e),
       |pr0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank_ppm
       |  FROM nodes),
       |$iters
       |SELECT id, rank_ppm FROM pr$PR_ITERS""".stripMargin
  }
}
