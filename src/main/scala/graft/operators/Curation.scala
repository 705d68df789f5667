package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Training-data curation operators over the `documents` table:
  * reproducible sampling, train/valid/test splitting, and distribution
  * profiling — the selection layer of a data pipeline, where
  * reproducibility matters more than randomness quality.
  *
  * All selection is HASH-based (md5 of the stable doc id, the same
  * arithmetic the dedup family uses — [[Dedup.hash32]]): the sample a
  * doc falls in is a pure function of its id, so it is identical across
  * engines, runs, partitionings, and cluster sizes — none of which is
  * true of `rand()`-based sampling. Every query is a projection or a
  * standard keyed aggregation; nothing funnels.
  *
  * Quantiles are computed in the DISTRIBUTED exact shape: aggregate to
  * per-(group, value) counts FIRST (the only full-data pass — a plain
  * hash agg), then run the cumulative window over the tiny distinct-value
  * table. A window straight over the raw rows keyed by the handful of
  * groups would funnel the whole table into a few tasks; after the
  * pre-agg the window input is |distinct values| per group, which is
  * what makes exact quantiles tractable at 100 TB.
  */
object Curation {

  private val SAMPLE_SEED = 7
  private val SAMPLE_PCT = 10          // q_sample_hash keeps ~10 %
  private val WEIGHTED_SEED = 11       // q_weighted_sample acceptance hash
  private val STRATA_K = 5             // docs kept per language stratum
  private val PACK_BUDGET = 256        // tokens per packed training sequence
  private val PACK_SHARDS = 8          // parallel packing streams
  private[graft] val DECON_K = 5       // decontamination shingle width
  private val MAX_EPOCHS_MILLI = 4000  // mixture cap: ≤4 epochs per source
  private val QUOTA_N = 100            // q_quota_apportionment target size
  private val MANIFEST_SHARDS = 10     // q_shard_manifest: 100 % 10 = 0 ⇒
                                       // uniform over the 0..99 hash bucket
  private val PAD_CTX = 48             // q_padding_waste fixed context length
  private val CHUNK_TOKENS = 64        // q_chunk_stats RAG chunk width
  private val CHUNK_STRIDE = 48        // q_chunk_stats chunk stride (16 overlap)
  private val PRIORITY_SEED = 17       // q_priority_sample randomness hash
  private val PRIORITY_K = 100         // q_priority_sample sample size
  private val IW_BUCKETS = 256         // q_importance_weights hashed-feature buckets
  private val IW_SEED = 1              // q_importance_weights bucket hash seed
  private val IW_TARGET = "src0"       // q_importance_weights target domain slice
  private val EPOCH_SEED = 23          // q_epoch_shuffle permutation hash
  private val EPOCH_SHARDS = 8         // q_epoch_shuffle training shards
  private val FOLD_SEED = 29           // q_crossfold assignment hash
  private val BEST_OF_N = 5            // q_best_of_n candidates per group
  private val BATCH_B = 8              // q_binned_batching docs per batch
  private val BIN_WIDTH = 16           // q_binned_batching token-length bin
  private val BATCH_SHARDS = 4         // q_binned_batching parallel streams
  private val BATCH_SEED = 37          // q_binned_batching shard hash
  private val N_FOLDS = 5              // q_crossfold k-fold count
  private val LF_LO_PCT = 5            // q_length_filter lower cutoff percentile
  private val LF_HI_PCT = 95           // q_length_filter upper cutoff percentile
  private val DUPSAMP_SEED = 41        // q_dup_aware_sample acceptance hash
  private val DUPSAMP_MOD = 1000000    // q_dup_aware_sample hash range (ppm)

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Uniform hash bucket 0..99 of an id column — THE single definition
    * of the selection arithmetic; library callers and the
    * oracle-checked queries both route through it so they cannot drift.
    */
  def hashBucket(idCol: org.apache.spark.sql.Column,
                 seed: Int = SAMPLE_SEED): org.apache.spark.sql.Column =
    Dedup.hash32(seed, idCol.cast("string")) % 100

  /** The 80/10/10 train/valid/test label for an id column. */
  def splitLabel(idCol: org.apache.spark.sql.Column,
                 seed: Int = SAMPLE_SEED): org.apache.spark.sql.Column = {
    val b = hashBucket(idCol, seed)
    when(b < 80, lit("train")).when(b < 90, lit("valid"))
      .otherwise(lit("test"))
  }

  private def bucket = hashBucket(col("doc_id"))

  private[operators] def bucketSql =
    s"${Dedup.hash32Sql(SAMPLE_SEED, "CAST(doc_id AS VARCHAR)")} % 100"

  /** The same 0..99 selection bucket over an arbitrary id expression —
    * lets oracles outside this file (q_split_leakage) reuse THE split
    * arithmetic instead of re-deriving it.
    */
  private[operators] def bucketSqlFor(idExpr: String): String =
    s"${Dedup.hash32Sql(SAMPLE_SEED, s"CAST($idExpr AS VARCHAR)")} % 100"

  /** Shared oracle for q_decontaminate / q_bloom_decontaminate — and
    * the streaming firewall q_stream_decontam (the bloom prefilter and
    * the stream-static replay are both pruning/phasing only; the exact
    * join keeps all three surfaces on one ground truth).
    */
  private[graft] lazy val deconSql =
    s"""WITH b AS (SELECT doc_id, text, $bucketSql AS bkt FROM documents),
       |toks AS (SELECT doc_id, bkt,
       |    string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM b WHERE length(trim(text)) > 0),
       |sh AS (SELECT DISTINCT doc_id, bkt,
       |    ${Dedup.shingleHashSql(
            s"array_to_string(t[CAST(i AS INT):CAST(i + ${DECON_K - 1} AS INT)], ' ')")} AS shingle
       |  FROM toks, unnest(range(1, len(t) - ${DECON_K - 2})) AS u(i)
       |  WHERE len(t) >= $DECON_K)
       |SELECT tr.doc_id,
       |  count(DISTINCT te.doc_id) AS n_test_docs,
       |  count(DISTINCT tr.shingle) AS n_shared_shingles
       |FROM (SELECT doc_id, shingle FROM sh WHERE bkt < 80) tr
       |JOIN (SELECT doc_id, shingle FROM sh WHERE bkt >= 90) te
       |  USING (shingle)
       |GROUP BY tr.doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── reproducible ~10 % sample ───────────────────────────────────────
    "q_sample_hash" -> { (s, dir) =>
      docs(s, dir)
        .filter(bucket < SAMPLE_PCT)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },

    // ── quality-weighted acceptance sampling ────────────────────────────
    // The DCLM/FineWeb-style resampling shape: keep each document with
    // probability proportional to its quality score (0..100), but
    // DETERMINISTICALLY — acceptance = (hash bucket of the id) < quality
    // — so the kept set is a pure function of (id, text), identical
    // across engines, runs, and partitionings. Zero-shuffle projection +
    // filter; high-quality docs are upweighted exactly as a sampler
    // with per-row Bernoulli(quality/100) would in expectation.
    "q_weighted_sample" -> { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .filter(hashBucket(col("doc_id"), WEIGHTED_SEED) < col("quality"))
    },

    // ── source-mixture token-budget allocation ──────────────────────────
    // The data-mixing step every multi-source training run starts with:
    // given a token budget (here: half the corpus, split equally across
    // sources), how many EPOCHS of each source fill its share? Sources
    // smaller than their share are up-sampled (epochs > 1.0, capped at
    // MAX_EPOCHS_MILLI — the repetition ceiling the data-diet papers
    // recommend); bigger sources are sub-sampled (< 1.0). Integer
    // milli-epochs end-to-end. One source-keyed aggregate (the only
    // corpus-sized pass) + one broadcast of the 1-row total — the
    // allocator itself is O(|sources|).
    "q_mixture_weights" -> { (s, dir) =>
      mixtureWeights(docs(s, dir)
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).as("__tok")),
        "source", "__tok")
    },

    // ── per-source distribution drift (total-variation distance) ────────
    // The ingest-monitoring question behind every "did this source
    // change under us" alert: how far is each source's document-length
    // histogram from the corpus-wide one? Distance = total variation
    // (½·Σ|p_s − p|) in integer basis points over fixed 100-char bins —
    // data-independent binning, so the number is comparable across
    // snapshots (PSI-style monitors are this plus a log weight; TV
    // keeps it integer-exact). The bin table is bounded
    // (|sources| × |bins|); the only corpus-sized pass is the one
    // (source, bin) count. A missing bin counts its full corpus mass —
    // the grid join makes absent bins explicit.
    "q_dist_drift" -> { (s, dir) =>
      tvDistance(docs(s, dir)
        .select(col("source"), expr("n_chars div 100").as("bin")),
        "source")
    },

    // ── split-bias audit: is any split distributionally skewed? ─────────
    // The hash split promises each of train/valid/test the SAME
    // distribution; this measures it — per split, the TV distance of
    // its length histogram from the corpus's (same machinery as
    // q_dist_drift, keyed by the split label instead of the source).
    // Near-zero tv_bp ⇒ the 80/10/10 selection is unbiased in length;
    // a hot split would mean the hash leaks the binned feature.
    "q_split_drift" -> { (s, dir) =>
      tvDistance(docs(s, dir)
        .select(splitLabel(col("doc_id")).as("split"),
          expr("n_chars div 100").as("bin")),
        "split")
    },

    // ── Kolmogorov–Smirnov drift per split (sup-norm on the CDF) ───────
    // The location-sensitive twin of q_split_drift's binned TV
    // distance: D = max_v |F_split(v) − F_corpus(v)| over the UNBINNED
    // length values — a mean shift TV-on-coarse-bins underreports shows
    // up here at full strength. Exact integers: the gap at v is
    // |cumS·nA − cumA·nS|·10⁶ div (nS·nA) in DECIMAL(38,0)/HUGEINT
    // (cum·n crosses int64 past ~3·10⁹ rows); argmax value by
    // struct-min with the smallest-v tiebreak. Every value appears in
    // the corpus grid, so per-split cums carry over absent values by
    // summing only ≤-v counts — windows run over the |splits|×|distinct
    // values| grid, never raw rows.
    "q_ks_drift" -> { (s, dir) =>
      val d = docs(s, dir)
        .select(splitLabel(col("doc_id")).as("split"),
          col("n_chars").as("v"))
      val perSplit = d.groupBy(col("split"), col("v"))
        .agg(count(lit(1)).as("c"))
      val grid = perSplit.select(col("v")).distinct()
        .crossJoin(perSplit.select(col("split")).distinct())
      val wS = Window.partitionBy(col("split")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cums = grid.join(perSplit, Seq("split", "v"), "left")
        .na.fill(0L, Seq("c"))
        .withColumn("cum_s", sum(col("c")).over(wS))
      val wA = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = d.groupBy(col("v")).agg(count(lit(1)).as("ca"))
        .withColumn("cum_a", sum(col("ca")).over(wA))
      val nS = perSplit.groupBy(col("split")).agg(sum(col("c")).as("n_s"))
      val nA = d.agg(count(lit(1)).as("n_a"))
      cums.join(all.select(col("v"), col("cum_a")), Seq("v"))
        .join(broadcast(nS), Seq("split"))
        .crossJoin(broadcast(nA))
        .withColumn("gap_ppm", expr(
          "CAST(abs(CAST(cum_s AS DECIMAL(38,0)) * n_a" +
            " - CAST(cum_a AS DECIMAL(38,0)) * n_s) * 1000000" +
            " div (CAST(n_s AS DECIMAL(38,0)) * n_a) AS BIGINT)"))
        .groupBy(col("split"))
        .agg(max(col("n_s")).as("n_split"),
          min(struct((-col("gap_ppm")).as("ng"), col("v"),
            col("gap_ppm"))).as("m"))
        .select(col("split"), col("n_split"),
          col("m.gap_ppm").as("d_ppm"), col("m.v").as("at_value"))
    },

    // ── leave-one-out source influence (jackknife readout) ─────────────
    // Which source MOVES the corpus statistic: for each source, the
    // mean length with that source removed, and its influence (LOO −
    // full mean, in milli-chars — negative = the source inflates the
    // corpus mean). The robustness check mixture decisions read before
    // trusting a corpus-level average; one source-keyed aggregate plus
    // a broadcast one-row total, everything after on the |sources|-row
    // table. All divisions truncating on DECIMAL(38,0) (sum·10³ crosses
    // int64 at ~10¹³ chars); influence is a difference of two
    // already-truncated BIGINTs, so sign needs no floor/truncate split.
    "q_source_influence" -> { (s, dir) =>
      val per = docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("sum_s"))
      val tot = per.agg(sum(col("n_s")).as("n"),
        sum(col("sum_s")).as("sum_all"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"),
          expr("""CASE WHEN n - n_s = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST((CAST(sum_all AS DECIMAL(38,0)) - sum_s) * 1000
            |    div (n - n_s) AS BIGINT) END""".stripMargin)
            .as("loo_mean_milli"),
          expr("""CASE WHEN n - n_s = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST((CAST(sum_all AS DECIMAL(38,0)) - sum_s) * 1000
            |      div (n - n_s)
            |    - CAST(sum_all AS DECIMAL(38,0)) * 1000 div n
            |    AS BIGINT) END""".stripMargin).as("influence_milli"))
    },

    // ── rank-sum AUC: does the quality score separate dup docs? ────────
    // The threshold-free twin of q_quality_vs_dup's band correlation:
    // AUC = P(score_dup > score_clean) + ½P(tie) by the Mann–Whitney
    // identity, computed EXACTLY from the score histogram — 2U =
    // Σ_s n_pos(s)·(2·cum_neg(<s) + n_neg(s)), auc_ppm = U·10⁶ div
    // (n_pos·n_neg) in DECIMAL(38,0)/HUGEINT. Positives = members of
    // an exact-dup fingerprint group (same normalized-md5 rule as
    // q_dedup_exact_text). Windows over the |distinct scores| table
    // (≤ 1001 rows at any corpus size).
    "q_quality_auc" -> { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        TextFunctions.qualityScore(col("text")).as("score"))
      val dupFp = d.groupBy(col("fp")).agg(count(lit(1)).as("fn"))
        .filter(col("fn") >= 2).select(col("fp"))
      val labeled = d.join(broadcast(dupFp), Seq("fp"), "left_semi")
        .select(col("score"), lit(1L).as("pos"))
        .unionByName(d.join(broadcast(dupFp), Seq("fp"), "left_anti")
          .select(col("score"), lit(0L).as("pos")))
      val hist = labeled.groupBy(col("score"))
        .agg(sum(col("pos")).as("np"),
          sum(lit(1L) - col("pos")).as("nn"))
      val w = Window.orderBy(col("score"))
        .rowsBetween(Window.unboundedPreceding, -1)
      hist.withColumn("cnb", coalesce(sum(col("nn")).over(w), lit(0L)))
        .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
          sum(expr("CAST(np AS DECIMAL(38,0)) * (2 * cnb + nn)"))
            .as("u2"))
        .selectExpr("CAST(n_pos AS BIGINT) AS n_pos",
          "CAST(n_neg AS BIGINT) AS n_neg",
          """CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST(u2 * 1000000
            |    div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)
            |END AS auc_ppm""".stripMargin)
    },

    // ── 80/10/10 train/valid/test split, audited per language ───────────
    // The split LABEL is what a pipeline persists; the per-(lang, split)
    // counts are the auditable output (and catch stratification skew).
    "q_train_test_split" -> { (s, dir) =>
      docs(s, dir)
        .withColumn("split", splitLabel(col("doc_id")))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))
    },

    // ── duplication-aware sampling: expected one survivor per cluster ──
    // Uniform sampling OVER-represents duplicated content in exact
    // proportion to its copy count — the classic pretraining-mix bug.
    // Cluster-uniform correction: keep doc iff h_ppm · |cluster| < 10⁶
    // with h_ppm a per-doc acceptance hash, i.e. P(keep) ≈ 1/|cluster|
    // — every exact-dup cluster contributes ~1 expected survivor no
    // matter how many copies exist, WITHOUT electing a canonical member
    // (no per-cluster argmin, no window). The per-source readout is the
    // audit: n_kept tracking n_clusters (not n_docs) is the success
    // signature.
    //
    // Scale: one fingerprint census + one fp-keyed fact-fact join (the
    // cluster-size attach CANNOT broadcast — the fingerprint table is
    // corpus-sized) + one source-keyed aggregate. The distinct-fp count
    // per source rides the same aggregate via count(distinct) over the
    // already fp-keyed rows.
    "q_dup_aware_sample" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val sz = d.groupBy(col("fp")).agg(count(lit(1)).as("fsz"))
      d.join(sz, Seq("fp"))
        .withColumn("h",
          Dedup.hash32(DUPSAMP_SEED, col("doc_id").cast("string"))
            % DUPSAMP_MOD)
        .withColumn("keep",
          when(col("h") * col("fsz") < lit(DUPSAMP_MOD.toLong), 1L)
            .otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_clusters"),
          sum(col("keep")).as("n_kept"))
    },

    // ── Horvitz–Thompson reweighting audit of the dup-aware sample ─────
    // The sample q_dup_aware_sample keeps is only USABLE for corpus
    // statistics if inverse-inclusion-probability weights recover them:
    // the exact inclusion probability of a doc in a size-fsz cluster is
    // p = ⌈10⁶/fsz⌉/10⁶ (the acceptance-hash rule made exact), so the
    // HT estimate of total chars is Σ_kept n_chars·10⁶ div ⌈10⁶/fsz⌉ —
    // all integer, truncating on non-negative operands. err_bp is the
    // realized estimator error; on an all-singleton corpus p = 1 and
    // the estimate is EXACT (pinned by spec).
    //
    // Scale: same shape as q_dup_aware_sample (fp census + fp-keyed
    // size attach + one fold) — the audit costs what the sample costs.
    "q_ht_estimate" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val d = docs(s, dir).select(col("doc_id"), col("n_chars"),
        TextFunctions.fingerprint(col("text")).as("fp"))
      val sz = d.groupBy(col("fp")).agg(count(lit(1)).as("fsz"))
      d.join(sz, Seq("fp"))
        .withColumn("h",
          Dedup.hash32(DUPSAMP_SEED, col("doc_id").cast("string"))
            % DUPSAMP_MOD)
        .withColumn("kept",
          col("h") * col("fsz") < lit(DUPSAMP_MOD.toLong))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_chars")).as("exact_chars"),
          sum(when(col("kept"),
            expr(s"n_chars * ${DUPSAMP_MOD.toLong}" +
              s" div (($DUPSAMP_MOD + fsz - 1) div fsz)"))
            .otherwise(0L)).as("est_chars"))
        .withColumn("err_bp", expr(
          "abs(est_chars - exact_chars) * 10000 div exact_chars"))
    },

    // ── stratified sample: K docs per language, hash-ranked ─────────────
    // bounded_topk per stratum, NOT a window: a window partitioned by
    // the handful of languages would funnel every row into a few tasks,
    // while the k-capped aggregate combines map-side and ships ≤ K
    // (hash, id) pairs per (task, lang). bounded_topk orders by
    // (score, id) — exactly the (h asc, doc_id asc) rank the oracle's
    // row_number uses, so the array position IS rn−1.
    "q_stratified_sample" -> { (s, dir) =>
      docs(s, dir)
        .select(col("lang"), col("doc_id"), bucket.as("h"))
        .groupBy(col("lang"))
        .agg(expr(s"bounded_topk(cast(h as double), doc_id, $STRATA_K)")
          .as("top"))
        .select(col("lang"), posexplode(col("top")))
        .toDF("lang", "pos", "t")
        .select(col("lang"), col("t.n").as("doc_id"),
          (col("pos") + 1).as("rn"))
    },

    // ── sequence packing: concat-then-chunk assignment ──────────────────
    // Where each doc lands when the corpus is concatenated into fixed-
    // token training sequences: (shard, seq_in_shard, offset). The
    // stateful-looking first-fit loop is deliberately replaced by the
    // cumulative-sum form every big pretraining pipeline uses — docs
    // may straddle a boundary; assignment is a pure function of the
    // running token count. ONE window per shard: sharding first (hash
    // of the id) is what makes this scale — the window funnels per
    // SHARD, not per corpus, so parallelism is PACK_SHARDS-wide and a
    // 100 TB run just raises the shard count.
    "q_pack_chunks" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val t = docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        (hashBucket(col("doc_id")) % PACK_SHARDS).as("shard"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("shard"),
          expr(s"(cum - n_tokens) div $PACK_BUDGET").as("seq_in_shard"),
          ((col("cum") - col("n_tokens")) % PACK_BUDGET)
            .as("offset_tokens"))
    },

    // ── priority sampling: fixed-SIZE weight-proportional sample ───────
    // Duffield–Lund–Thorup priority sampling: priority = w/u with
    // u ~ U(0,1]; the top-K priorities are a size-K sample where
    // inclusion probability tracks weight — the fixed-budget
    // counterpart of q_weighted_sample's Bernoulli thinning (which
    // cannot hit an exact K). Deterministic integer form: u is the
    // doc's 32-bit selection hash + 1 and priority = w·2³¹ div u, so
    // the sample is a pure function of (id, weight) — stable across
    // engines and partitionings. Selection is ONE bounded_topk
    // aggregate (≤ K rows per task reach the shuffle), the same
    // no-Window discipline as q_stratified_sample.
    "q_priority_sample" -> { (s, dir) =>
      val prio = docs(s, dir).select(col("doc_id"),
          (col("n_chars") + 1).as("w"),
          (Dedup.hash32(PRIORITY_SEED, col("doc_id").cast("string")) + 1)
            .as("u"))
        .select(col("doc_id"), col("w"),
          expr(s"(w * ${1L << 31}) div u").as("priority"))
      prio.agg(expr(
          s"bounded_topk(cast(-priority as double), doc_id, $PRIORITY_K)")
          .as("top"))
        .select(posexplode(col("top")))
        .toDF("pos", "t")
        .select(col("t.n").as("doc_id"), (col("pos") + 1).as("rn"))
        .join(prio, "doc_id")
        .select(col("doc_id"), col("w"), col("priority"), col("rn"))
    },

    // ── padding waste vs packed packing at a fixed context length ──────
    // The batch-shape economics behind q_pack_chunks: if every doc were
    // its own padded sequence of PAD_CTX tokens, how much of the batch
    // is padding (and how many tokens fall off the truncation edge) vs
    // the concat-then-chunk packed layout, which wastes at most one
    // partial tail sequence corpus-wide. One full-data projection into
    // ONE aggregate row — the report that justifies packing at any
    // scale. Integer basis points throughout.
    "q_padding_waste" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val t = docs(s, dir).select(
        TextFunctions.tokenCount(col("text")).cast("long").as("t"))
      t.agg(
          count(lit(1)).as("n_docs"),
          sum(col("t")).as("total_tokens"),
          sum(least(col("t"), lit(PAD_CTX.toLong))).as("usable_tokens"),
          sum(greatest(lit(PAD_CTX.toLong) - col("t"), lit(0L)))
            .as("pad_tokens"),
          sum(greatest(col("t") - lit(PAD_CTX.toLong), lit(0L)))
            .as("trunc_tokens"))
        .select(col("n_docs"), col("total_tokens"), col("usable_tokens"),
          col("pad_tokens"), col("trunc_tokens"),
          expr(s"usable_tokens * 10000 div (n_docs * $PAD_CTX)")
            .as("padded_util_bp"),
          expr(s"(total_tokens + $PAD_CTX - 1) div $PAD_CTX")
            .as("packed_seqs"),
          expr(s"total_tokens * 10000 div " +
              s"(((total_tokens + $PAD_CTX - 1) div $PAD_CTX) * $PAD_CTX)")
            .as("packed_util_bp"))
    },

    // ── RAG chunking: overlapping token windows per document ────────────
    // Every doc becomes ⌈n_tok/STRIDE⌉ chunks of ≤CHUNK_TOKENS tokens
    // starting every CHUNK_STRIDE (16-token overlap — the standard
    // retrieval-chunking layout); reported per source: chunk count,
    // chunk-token volume, tokens DUPLICATED by the overlap (the storage
    // tax chunking pays), and short tail chunks. The chunk table itself
    // is the thing a pipeline embeds; this query prices it.
    //
    // 100 TB posture: pure projection + Generate (sequence→explode, no
    // join, no window) into one source-keyed aggregate — chunk rows
    // stay on the partition that read the doc, so the only shuffle is
    // the bounded per-source rollup. Fan-out is n_tok/STRIDE ≈ 2 rows
    // per doc-context, not a blow-up.
    "q_chunk_stats" -> { (s, dir) =>
      import graft.functions.TextFunctions
      docs(s, dir)
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .select(col("source"), col("n_tok"),
          explode(sequence(lit(0L), col("n_tok") - 1L,
            lit(CHUNK_STRIDE.toLong))).as("start"))
        .groupBy(col("source"))
        .agg(
          sum(when(col("start") === 0L, 1L).otherwise(0L)).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(least(lit(CHUNK_TOKENS.toLong), col("n_tok") - col("start")))
            .as("chunk_tokens"),
          sum(when(col("start") === 0L, col("n_tok")).otherwise(0L))
            .as("corpus_tokens"),
          sum(when(col("n_tok") - col("start") < CHUNK_TOKENS, 1L)
            .otherwise(0L)).as("short_chunks"))
        .select(col("source"), col("n_docs"), col("n_chunks"),
          col("chunk_tokens"),
          (col("chunk_tokens") - col("corpus_tokens")).as("overlap_tokens"),
          col("short_chunks"))
    },

    // ── train/test decontamination: benchmark n-gram overlap ────────────
    // Train docs sharing any DECON_K-shingle with the held-out split —
    // the leakage check run before any benchmark number is quoted.
    // Shingles are in-row distinct then 60-bit-hashed (8-byte join
    // keys); the join is a plain shuffled hash join on the shingle —
    // when the held-out side is benchmark-sized (the production case)
    // AQE turns it into a broadcast join on its own.
    "q_decontaminate" -> { (s, dir) =>
      val b = docs(s, dir).withColumn("bkt", bucket)
      def hashedSh(d: DataFrame, idAs: String): DataFrame =
        Dedup.docShingles(d, "doc_id", "text", DECON_K)
          .select(col("doc_id").as(idAs),
            Dedup.shingleHash(col("shingle")).as("shingle"))
      hashedSh(b.filter(col("bkt") < 80), "doc_id")
        .join(hashedSh(b.filter(col("bkt") >= 90), "test_id"), "shingle")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("test_id")).as("n_test_docs"),
          countDistinct(col("shingle")).as("n_shared_shingles"))
    },

    // ── decontamination, bloom-pruned (the 100 TB shape) ────────────────
    // Same result as q_decontaminate (same oracle SQL — bloom false
    // positives are removed by the exact join, false negatives are
    // impossible), but the corpus side is prefiltered MAP-SIDE through
    // a bits-sized sketch of the held-out shingle set before anything
    // shuffles: join input drops from |corpus shingles| to |matches| +
    // fpp·|corpus shingles|. See [[BloomPrune]]; BloomPruneSpec pins
    // equality with the unpruned query and measures the kept fraction.
    "q_bloom_decontaminate" -> { (s, dir) =>
      val b = docs(s, dir).withColumn("bkt", bucket)
      def hashedSh(d: DataFrame, idAs: String): DataFrame =
        Dedup.docShingles(d, "doc_id", "text", DECON_K)
          .select(col("doc_id").as(idAs),
            Dedup.shingleHash(col("shingle")).as("shingle"))
      val held = hashedSh(b.filter(col("bkt") >= 90), "test_id")
      val bloom = BloomPrune.buildBloom(held, col("shingle"),
        n = held.count(), fpp = 0.03)
      hashedSh(b.filter(col("bkt") < 80), "doc_id")
        .filter(BloomPrune.mightContain(bloom, col("shingle")))
        .join(held, "shingle")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("test_id")).as("n_test_docs"),
          countDistinct(col("shingle")).as("n_shared_shingles"))
    },

    // ── exact length quantiles per language (discrete, all-integer) ─────
    // quantile_disc semantics via cumulative counts over the pre-agg'd
    // value table: p-quantile = smallest value with cum ≥ ⌈p·n⌉, applied
    // with integer cross-multiplication (2·cum ≥ n ⟺ cum ≥ ⌈n/2⌉).
    "q_quantiles" -> { (s, dir) =>
      val byVal = docs(s, dir)
        .groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("lang"))
      byVal
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("lang"))
        .agg(max(col("n")).as("n_docs"),
          min(when(col("cum") * 2 >= col("n"), col("n_chars")))
            .as("p50_chars"),
          min(when(col("cum") * 10 >= col("n") * 9, col("n_chars")))
            .as("p90_chars"),
          max(col("n_chars")).as("max_chars"))
    },

    // ── token-mass concentration: exact Gini per language (bp) ──────────
    // How unequally token mass is spread across documents — the census
    // number behind "a few giant docs dominate this slice" curation
    // calls. Exact grouped Gini: with docs ranked by token count
    // ascending, G = (2·Σ rank·tᵢ − (n+1)·Σt) / (n·Σt); the rank-sum is
    // computed per VALUE GROUP (cb·c + c(c+1)/2 ranks inside a group of
    // c docs after cb predecessors), so the only window runs over the
    // ~hundreds of DISTINCT token counts per language — never a
    // per-document sort. Ties are rank-order invariant (equal t makes
    // Σ rank·t independent of order within the group), so the result is
    // deterministic with no tiebreak. Final scaling in DECIMAL(38,0)
    // (HUGEINT in the oracle) so the ×10⁴ never overflows; everything
    // upstream provably fits BIGINT past sf10 (Σrank·t ≤ n·Σt ≈ 4·10¹⁵).
    //
    // 100 TB posture: one corpus projection into a (lang, token-count)
    // aggregate bounded by |langs|×max_tokens, then window+rollup on
    // that tiny table — same shape as q_quantiles.
    "q_gini_concentration" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val tk = docs(s, dir).select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("t"))
      val byVal = tk.groupBy(col("lang"), col("t"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byVal.withColumn("cum", sum(col("c")).over(wCum))
        .groupBy(col("lang"))
        .agg(sum(col("c")).as("n_docs"),
          sum(expr("t * c")).as("total_tokens"),
          sum(expr("t * ((cum - c) * c + (c * (c + 1)) div 2)")).as("srt"))
        .select(col("lang"), col("n_docs"), col("total_tokens"), expr(
          """CASE WHEN total_tokens = 0 THEN CAST(NULL AS BIGINT)
            |  ELSE CAST(
            |    (CAST(2 * srt - (n_docs + 1) * total_tokens
            |       AS DECIMAL(38,0)) * 10000)
            |    div (CAST(n_docs AS DECIMAL(38,0)) * total_tokens)
            |    AS BIGINT)
            |END""".stripMargin).as("gini_bp"))
    },

    // ── temperature-scaled mixture reweighting (α = 0.5) ───────────────
    // The multilingual/multi-source sampling rule (XLM-R, mT5 shape):
    // sample source s proportionally to n_s^α instead of n_s, boosting
    // tails and shaving heads. α = 1/2 keeps the arithmetic engine-
    // exact: floor(sqrt(n)) of an exact BIGINT is bit-identical in both
    // engines (correctly-rounded double sqrt cannot cross an integer
    // boundary below ~10¹²). Output: proportional share vs temperature
    // share in basis points plus the per-source boost ratio — the
    // knob table a sampler consumes. One source-keyed aggregate + a
    // 1-row broadcast; O(|sources|) after the first fold.
    "q_mixture_temperature" -> { (s, dir) =>
      val per = docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("w",
          expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      val tot = per.agg(sum(col("n_docs")).as("tot_docs"),
        sum(col("w")).as("tot_w"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          expr("10000 * n_docs div tot_docs").as("prop_bp"),
          expr("10000 * w div tot_w").as("temp_bp"))
        .withColumn("boost_bp", expr(
          "CASE WHEN prop_bp > 0 THEN 10000 * temp_bp div prop_bp " +
            "ELSE CAST(NULL AS BIGINT) END"))
    },

    // ── hashed-n-gram importance weights (DSIR shape) ──────────────────
    // Data Selection via Importance Resampling (Xie et al., NeurIPS'23):
    // score every raw doc by how target-like its hashed unigram-bucket
    // profile is, then resample raw data toward the target domain. The
    // engine-exact integer twin of the log-likelihood-ratio score: both
    // unigram models are add-1-smoothed bucket distributions in ppm
    // (target = the IW_TARGET source slice, raw = the whole corpus) and
    // the per-doc statistic is the ratio of summed target-model vs
    // raw-model token masses in basis points — monotone in the same
    // preference order, free of transcendental math the two engines
    // would round differently. Plan shape: one corpus token scan →
    // 256-bucket profile aggregates (map-side combine collapses to
    // |buckets| rows) → broadcast probability table joined back in-row
    // → ONE doc-keyed sum. At 100 TB the only corpus-scale exchange is
    // the doc-keyed aggregate; the model is O(IW_BUCKETS) and rides the
    // broadcast. ppm floors to 0 only if a bucket's mass < 1 ppm —
    // impossible at 256 buckets (mean 3 906 ppm) unless the hash were
    // catastrophically skewed.
    "q_importance_weights" -> { (s, dir) =>
      importanceWeights(docs(s, dir), col("source") === IW_TARGET)
    },

    // ── per-shard release manifest ─────────────────────────────────────
    // The artifact a dataset RELEASE ships next to the shards: per
    // output shard (the same hash bucketing the writer uses), row and
    // char volume, id range, and an ORDER-INDEPENDENT content hash
    // (bit_xor of the 60-bit doc md5 prefixes) a consumer re-derives to
    // verify shard integrity without trusting file bytes. Everything is
    // one map-side-combinable groupBy(shard) pass — count/sum/xor/min/
    // max all combine associatively and commutatively, so the manifest
    // is partitioning-invariant and can ride the write job itself at
    // 100 TB (no second corpus scan; xor makes row order irrelevant).
    "q_shard_manifest" -> { (s, dir) =>
      Tables.load(s, dir, "documents")
        .select((hashBucket(col("doc_id")) % MANIFEST_SHARDS).as("shard"),
          col("doc_id"), col("n_chars"),
          Dedup.shingleHash(col("text")).as("h"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          expr("bit_xor(h)").as("content_hash"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
    },

    // ── deterministic epoch shuffle: the training-order permutation ────
    // What a trainer consumes: every doc assigned a shard and a position
    // within it, both pure functions of (seed, doc_id) — the "global
    // shuffle" of a training run without a global sort. Shard = hash
    // bucket (a projection); position = rank within shard ordered by a
    // SECOND application of the same hash (so within-shard order is
    // uncorrelated with the shard split).
    //
    // 100 TB posture: there is deliberately NO global row_number — the
    // only window is PARTITIONED BY shard, and in production the shard
    // count scales with the corpus (it is pinned at 8 here only so the
    // oracle is deterministic), so each window partition is corpus/shards
    // and the whole query is one hash-partitioned sort, exactly the
    // sort the shard writer performs anyway (sortWithinPartitions on the
    // write job — position materializes for free as the row offset).
    "q_epoch_shuffle" -> { (s, dir) =>
      val h = Dedup.hash32(EPOCH_SEED, col("doc_id").cast("string"))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("h").asc, col("doc_id").asc)
      docs(s, dir)
        .select(col("doc_id"), (h % EPOCH_SHARDS).as("shard"), h.as("h"))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
    },

    // ── k-fold cross-validation assignment (balance matrix) ────────────
    // fold = hash(doc_id) % k — the reproducible complement of the
    // 80/10/10 split ([[splitLabel]]): every doc is in exactly one fold,
    // any k−1 folds form a training set. The output is the fold × lang
    // balance matrix a practitioner eyeballs before trusting the folds:
    // per (fold, lang) doc and char counts. One projection + one
    // low-cardinality groupBy — map-side combinable, no corpus sort.
    "q_crossfold" -> { (s, dir) =>
      docs(s, dir)
        .select((Dedup.hash32(FOLD_SEED, col("doc_id").cast("string"))
            % N_FOLDS).as("fold"),
          col("lang"), col("n_chars"))
        .groupBy(col("fold"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    },

    // ── per-source language diversity: inverse-Simpson, integer-exact ──
    // "How many languages does this source EFFECTIVELY contribute?" —
    // the diversity number a mixture designer reads next to the raw lang
    // count. Inverse Simpson D = n²/Σcᵢ² (1 = monolingual, |langs| =
    // perfectly balanced), reported in basis points so the arithmetic is
    // integer division — no float log entropy to disagree across
    // engines. Two nested low-cardinality aggregates over a (source,
    // lang) count table; nothing corpus-wide shuffles twice.
    "q_source_entropy" -> { (s, dir) =>
      docs(s, dir)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_langs"),
          sum(expr("c * c")).as("sum_c2"))
        .select(col("source"), col("n_docs"), col("n_langs"),
          expr("n_docs * n_docs * 10000 div sum_c2").as("eff_langs_bp"))
    },

    // ── percentile length filter: per-language p5/p95 cutoffs ──────────
    // The length-outlier gate a curation run applies before training:
    // docs shorter than the language's p5 or longer than its p95 are
    // flagged. Cutoffs use the same discrete-quantile arithmetic as
    // q_quantiles (smallest value whose cumulative count crosses the
    // percentile, integer cross-multiplication), computed on the
    // pre-agg'd (lang, n_chars) table; the verdict pass then joins the
    // per-lang cutoff row back BROADCAST — the corpus is scanned once
    // for the pre-agg and once for the verdict, both full-parallel.
    "q_length_filter" -> { (s, dir) =>
      val byVal = docs(s, dir)
        .groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("lang")).orderBy(col("n_chars"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("lang"))
      val cuts = byVal
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("lang"))
        .agg(min(when(col("cum") * 100 >= col("n") * LF_LO_PCT,
            col("n_chars"))).as("lo_chars"),
          min(when(col("cum") * 100 >= col("n") * LF_HI_PCT,
            col("n_chars"))).as("hi_chars"))
      docs(s, dir).join(broadcast(cuts), Seq("lang"))
        .groupBy(col("lang"))
        .agg(max(col("lo_chars")).as("lo_chars"),
          max(col("hi_chars")).as("hi_chars"),
          sum(when(col("n_chars") < col("lo_chars"), 1L).otherwise(0L))
            .as("n_drop_short"),
          sum(when(col("n_chars") > col("hi_chars"), 1L).otherwise(0L))
            .as("n_drop_long"),
          sum(when(col("n_chars").between(col("lo_chars"), col("hi_chars")),
            1L).otherwise(0L)).as("n_kept"))
    },

    // ── length-binned batching: padding tax per length bin ─────────────
    // What length-BINNED batching actually saves over fixed-context
    // padding (q_padding_waste's number): docs are binned by
    // t div BIN_WIDTH, sharded within each bin by an independent hash
    // (the data-parallel worker streams), batched BATCH_B at a time in
    // (t, doc_id) order, and each batch pads its members to the batch
    // MAX — per bin: docs, batches, real tokens, pad tokens, and
    // utilization in bp. Same no-global-sort posture as
    // q_curriculum_order: the only window is PARTITIONED BY
    // (bin, shard), and shard count scales with the corpus in
    // production, so each window partition is corpus/(bins·shards) —
    // the shard writer's own sortWithinPartitions. Output bounded by
    // the bin count.
    "q_binned_batching" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val base = docs(s, dir)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast("long").as("t"))
        .withColumn("bin", expr(s"t div $BIN_WIDTH"))
        .withColumn("shard",
          Dedup.hash32(BATCH_SEED, col("doc_id").cast("string"))
            % BATCH_SHARDS)
      val w = Window.partitionBy(col("bin"), col("shard"))
        .orderBy(col("t").asc, col("doc_id").asc)
      base.withColumn("rk", row_number().over(w))
        .withColumn("batch", expr(s"(rk - 1) div $BATCH_B"))
        .groupBy(col("bin"), col("shard"), col("batch"))
        .agg(count(lit(1)).as("n"), max(col("t")).as("bmax"),
          sum(col("t")).as("toks"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_batches"), sum(col("n")).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(expr("n * bmax - toks")).as("pad_tokens"))
        .withColumn("util_bp", expr(
          "CASE WHEN total_tokens + pad_tokens = 0 THEN 10000 " +
            "ELSE total_tokens * 10000 div (total_tokens + pad_tokens) " +
            "END"))
    },

    // ── token-weighted median length (vs the doc median) ───────────────
    // The length a random TOKEN lives in — the number that actually
    // sizes batches and context budgets (the doc median under-weights
    // the long tail exactly where the token mass is; the two medians
    // diverging is the skew signal). Discrete-quantile arithmetic on
    // the VALUE-grouped length table (q_quantiles' shape: the only
    // window runs over |distinct lengths| rows, never per-doc), both
    // medians as smallest-value-crossing-half integer rules.
    "q_token_weighted_median" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val m = docs(s, dir)
        .select(TextFunctions.tokenCount(col("text")).cast("long")
          .as("t"))
        .filter(col("t") > 0)
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .withColumn("mass", expr("t * c"))
      val wCum = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      m.withColumn("cum_mass", sum(col("mass")).over(wCum))
        .withColumn("cum_docs", sum(col("c")).over(wCum))
        .crossJoin(broadcast(m.agg(sum(col("mass")).as("tm"),
          sum(col("c")).as("nd"))))
        .agg(max(col("nd")).as("n_docs"),
          max(col("tm")).as("total_tokens"),
          min(when(col("cum_docs") * 2 >= col("nd"), col("t")))
            .as("doc_median_len"),
          min(when(col("cum_mass") * 2 >= col("tm"), col("t")))
            .as("token_weighted_median_len"))
    },

    // ── best-of-n selection (rejection sampling by quality) ────────────
    // The synthetic-data curation cut: generations land in groups of
    // BEST_OF_N consecutive ids (the per-prompt sampling batch); keep
    // each group's quality argmax — (q DESC, doc_id ASC), a single
    // struct-min aggregate, no per-group window — and report the
    // kept-vs-mean quality gap the n-way sampling bought. Group id by
    // integer division is the deterministic contract; at 100 TB the
    // group key is whatever batch id the generator stamped, same
    // one-aggregate shape.
    "q_best_of_n" -> { (s, dir) =>
      import graft.functions.TextFunctions
      docs(s, dir)
        .select(col("doc_id"),
          expr(s"doc_id div $BEST_OF_N").as("group_id"),
          TextFunctions.qualityScore(col("text")).cast("long").as("q"))
        .groupBy(col("group_id"))
        .agg(count(lit(1)).as("group_sz"),
          min(struct((-col("q")).as("nq"), col("doc_id"))).as("m"),
          sum(col("q")).as("sum_q"))
        .select(col("group_id"), col("group_sz"),
          col("m.doc_id").as("keep_doc_id"),
          (-col("m.nq")).as("best_q"),
          expr("sum_q * 100 div group_sz").as("mean_q_c"))
    },

    // ── largest-remainder quota apportionment (Hamilton method) ────────
    // "Build an N-doc eval set proportional to the source mix" needs
    // integer quotas that sum EXACTLY to N — floors alone undershoot,
    // independent rounding can overshoot. Hamilton's method: base =
    // N·w div W per source, then the N − Σbase leftover seats go to
    // the largest remainders (N·w mod W), ties by source asc — the
    // classic apportionment rule (and its known Alabama-paradox
    // trade-off is fine for a sampling quota). All divisions
    // non-negative; PropertySpec pins Σquota = N and |error| < 1 seat.
    //
    // 100 TB posture: one corpus-sized source count; everything after
    // is windows/folds over the |sources|-row table.
    "q_quota_apportionment" -> { (s, dir) =>
      val per = docs(s, dir).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      val tot = per.agg(sum(col("n_docs")).as("w_total"))
      val based = per.crossJoin(broadcast(tot))
        .withColumn("base_q", expr(s"$QUOTA_N * n_docs div w_total"))
        .withColumn("rem", expr(s"$QUOTA_N * n_docs % w_total"))
      val leftover = based
        .agg((lit(QUOTA_N.toLong) - sum(col("base_q"))).as("extra"))
      val w = Window.orderBy(col("rem").desc, col("source").asc)
      based.crossJoin(broadcast(leftover))
        .withColumn("rr", row_number().over(w).cast("long"))
        .select(col("source"), col("n_docs"), col("base_q"), col("rem"),
          (col("base_q") +
            when(col("rr") <= col("extra"), 1L).otherwise(0L))
            .as("quota"))
    },

    // ── max-min fair token budget (water-filling allocation) ───────────
    // The allocator q_mixture_weights' equal-share-with-cap is an
    // approximation OF: given a token budget (half the corpus), give
    // every source as much as it has UP TO a common water level chosen
    // so the budget is exactly consumed — small sources keep everything,
    // large ones are clipped at the level (max-min fairness). Closed
    // form, no iteration: sources sorted by demand ascending, the first
    // index where (budget − prefix) div (remaining sources) falls below
    // the source's own demand fixes the level. All divisions have
    // non-negative operands up to and including that deciding row
    // (uncapped demands can never overrun the remaining budget), so
    // truncate ≡ floor and the level is engine-exact; the integer
    // remainder stays unallocated by contract.
    //
    // 100 TB posture: one corpus-sized source-keyed aggregate; the sort
    // window and the level fold run over the |sources|-row table (the
    // q_quantiles bounded-window shape), and the level attaches back as
    // a one-row broadcast.
    "q_token_budget" -> { (s, dir) =>
      import graft.functions.TextFunctions
      val per = docs(s, dir)
        .select(col("source"),
          TextFunctions.tokenCount(col("text")).cast("long").as("tok"))
        .groupBy(col("source"))
        .agg(sum(col("tok")).as("n_tokens"))
        .filter(col("n_tokens") > 0)
      val tot = per.agg(sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_sources"))
      val ord = Window.orderBy(col("n_tokens").asc, col("source").asc)
      val lv = per.crossJoin(broadcast(tot))
        .withColumn("idx", row_number().over(ord).cast("long"))
        .withColumn("prefix",
          coalesce(sum(col("n_tokens")).over(
            ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("cand", expr(
          "(total_tokens div 2 - prefix) div (n_sources - idx + 1)"))
      val level = lv
        .agg(min(when(col("cand") < col("n_tokens"),
          struct(col("idx"), col("cand")))).as("m"))
        .select(col("m.cand").as("level"))
      lv.crossJoin(broadcast(level))
        .select(col("source"), col("n_tokens"),
          least(col("n_tokens"),
            coalesce(col("level"), col("n_tokens"))).as("alloc_tokens"),
          (col("n_tokens") > coalesce(col("level"), col("n_tokens")))
            .as("capped"))
    }
  )

  /** The q_importance_weights body over any (doc_id, text) table and
    * target-membership predicate — see the query comment above for the
    * DSIR contract and plan-shape argument.
    */
  def importanceWeights(docs: DataFrame, isTarget: Column,
                        id: String = "doc_id", text: String = "text",
                        buckets: Int = IW_BUCKETS,
                        seed: Int = IW_SEED): DataFrame = {
    val bk = docs
      .filter(length(trim(col(text))) > 0)
      .select(col(id), isTarget.as("is_tgt"),
        explode(split(trim(lower(col(text))), "\\s+")).as("tok"))
      .select(col(id), col("is_tgt"),
        (Dedup.hash32(seed, col("tok")) % buckets).as("b"))
    val raw = bk.groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tgt = bk.filter(col("is_tgt"))
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
    val tot = raw.agg(sum(col("rc")).as("rt"))
      .crossJoin(tgt.agg(sum(col("tc")).as("tt")))
    val probs = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        expr(s"(tc + 1) * 1000000 div (tt + $buckets)").as("t_ppm"),
        expr(s"(rc + 1) * 1000000 div (rt + $buckets)").as("r_ppm"))
    bk.join(broadcast(probs), "b")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_toks"),
        sum(col("t_ppm")).as("w_target"),
        sum(col("r_ppm")).as("w_raw"))
      .withColumn("ratio_bp", expr("w_target * 10000 div w_raw"))
  }

  /** The q_mixture_weights body over any table carrying a source column
    * and a per-row token count: equal-share budget (half the corpus
    * tokens split across sources), per-source milli-epochs capped at
    * `capMilli`. One source-keyed aggregate + one 1-row broadcast; the
    * allocator itself is O(|sources|).
    */
  def mixtureWeights(rows: DataFrame, srcCol: String, tokenCol: String,
                     capMilli: Int = MAX_EPOCHS_MILLI): DataFrame = {
    val perSrc = rows
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), sum(col(tokenCol)).as("n_tokens"))
      .filter(col("n_tokens") > 0) // an all-empty source has no share
    val tot = perSrc.agg(sum(col("n_tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_tokens * 10000 div total_tokens"))
      .withColumn("epochs_milli", expr(
        s"least($capMilli, " +
          "(total_tokens div 2 div n_sources) * 1000 div n_tokens)"))
      .withColumn("planned_tokens",
        expr("n_tokens * epochs_milli div 1000"))
      .select(col(srcCol), col("n_docs"), col("n_tokens"),
        col("share_bp"), col("epochs_milli"), col("planned_tokens"))
  }

  /** Per-group total-variation distance between each group's `bin`
    * histogram and the overall one, in integer basis points — the
    * shared body of q_dist_drift / q_split_drift. Input: rows of
    * (groupCol, bin). Bin grid bounded ⇒ everything after the one
    * (group, bin) count is broadcast-scale; a group's missing bins
    * count their full corpus mass via the explicit grid join.
    */
  private[graft] def tvDistance(rows: DataFrame,
                                groupCol: String): DataFrame = {
    val cb = rows.groupBy(col("bin")).agg(count(lit(1)).as("c_all"))
    val tot = rows.agg(count(lit(1)).as("n_all"))
    val sb = rows.groupBy(col(groupCol), col("bin"))
      .agg(count(lit(1)).as("c_grp"))
    val stot = rows.groupBy(col(groupCol)).agg(count(lit(1)).as("n_grp"))
    stot.crossJoin(broadcast(cb))
      .join(sb, Seq(groupCol, "bin"), "left")
      .na.fill(0L, Seq("c_grp"))
      .crossJoin(broadcast(tot))
      .groupBy(col(groupCol))
      .agg(max(col("n_grp")).as("n_rows"),
        sum(abs(col("c_grp") * col("n_all") -
          col("c_all") * col("n_grp"))).as("diff"),
        max(col("n_all")).as("n_all"))
      .withColumn("tv_bp", expr("diff * 10000 div (2 * n_all * n_rows)"))
      .select(col(groupCol), col("n_rows"), col("tv_bp"))
  }

  /** Generic 2-D Pareto frontier (skyline), maximizing `xCol` and
    * `yCol` within each `partCols` group: the O(n²) NOT-EXISTS
    * definition collapsed to one aggregate + two windows over the
    * distinct-point table (bounded by the cross-product of distinct
    * axis values, never by row count). A point survives iff it holds
    * the max y within its x value AND beats the max y over all
    * strictly greater x (integer axes; x+1 range frame).
    */
  def skyline(points: DataFrame, partCols: Seq[String], xCol: String,
              yCol: String, countName: String = "n_rows"): DataFrame = {
    val part = partCols.map(col)
    val pc = points.groupBy((part :+ col(xCol)) :+ col(yCol): _*)
      .agg(count(lit(1)).as(countName))
    val wSame = Window.partitionBy(part :+ col(xCol): _*)
    val wHigher = Window.partitionBy(part: _*).orderBy(col(xCol))
      .rangeBetween(1L, Window.unboundedFollowing)
    pc.withColumn("__max_same", max(col(yCol)).over(wSame))
      .withColumn("__max_higher", max(col(yCol)).over(wHigher))
      .filter(col(yCol) === col("__max_same") &&
        (col("__max_higher").isNull || col("__max_higher") < col(yCol)))
      .select((part :+ col(xCol)) :+ col(yCol) :+ col(countName): _*)
  }

  /** SQL twin of [[tvDistance]]: `dSql` yields rows (g, bin); the
    * output group column is renamed `outName` to match the Spark side.
    */
  private def tvSql(dSql: String, outName: String): String =
    s"""WITH d AS ($dSql),
       |cb AS (SELECT bin, count(*) AS c_all FROM d GROUP BY 1),
       |tot AS (SELECT count(*) AS n_all FROM d),
       |sb AS (SELECT g, bin, count(*) AS c_grp FROM d GROUP BY 1, 2),
       |stot AS (SELECT g, count(*) AS n_grp FROM d GROUP BY 1),
       |gr AS (SELECT s.g, s.n_grp, cb.bin, cb.c_all,
       |    coalesce(sb.c_grp, 0) AS c_grp
       |  FROM stot s CROSS JOIN cb
       |  LEFT JOIN sb ON sb.g = s.g AND sb.bin = cb.bin),
       |a AS (SELECT g, max(n_grp) AS n_rows,
       |    sum(abs(c_grp * n_all - c_all * n_grp)) AS diff,
       |    max(n_all) AS n_all
       |  FROM gr CROSS JOIN tot GROUP BY 1)
       |SELECT g AS $outName, n_rows,
       |  CAST(diff * 10000 // (2 * n_all * n_rows) AS BIGINT) AS tv_bp
       |FROM a""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_dup_aware_sample" ->
      s"""WITH fpt AS (SELECT doc_id, source,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |sz AS (SELECT fp, count(*) AS fsz FROM fpt GROUP BY 1),
         |k AS (SELECT f.source, f.fp,
         |    CASE WHEN (${Dedup.hash32Sql(DUPSAMP_SEED,
             "CAST(f.doc_id AS VARCHAR)")} % $DUPSAMP_MOD)
         |      * sz.fsz < $DUPSAMP_MOD THEN 1 ELSE 0 END AS keep
         |  FROM fpt f JOIN sz ON sz.fp = f.fp)
         |SELECT source, count(*) AS n_docs,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters,
         |  CAST(sum(keep) AS BIGINT) AS n_kept
         |FROM k GROUP BY 1""".stripMargin,

    "q_ht_estimate" ->
      s"""WITH fpt AS (SELECT doc_id, n_chars,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |sz AS (SELECT fp, count(*) AS fsz FROM fpt GROUP BY 1),
         |k AS (SELECT f.n_chars, sz.fsz,
         |    CASE WHEN (${Dedup.hash32Sql(DUPSAMP_SEED,
             "CAST(f.doc_id AS VARCHAR)")} % $DUPSAMP_MOD)
         |      * sz.fsz < $DUPSAMP_MOD THEN 1 ELSE 0 END AS kept
         |  FROM fpt f JOIN sz ON sz.fp = f.fp),
         |a AS (SELECT count(*) AS n_docs,
         |    CAST(sum(kept) AS BIGINT) AS n_kept,
         |    CAST(sum(n_chars) AS BIGINT) AS exact_chars,
         |    CAST(sum(CASE WHEN kept = 1 THEN n_chars * $DUPSAMP_MOD
         |      // (($DUPSAMP_MOD + fsz - 1) // fsz) ELSE 0 END)
         |      AS BIGINT) AS est_chars
         |  FROM k)
         |SELECT n_docs, n_kept, exact_chars, est_chars,
         |  CAST(abs(est_chars - exact_chars) * 10000 // exact_chars
         |    AS BIGINT) AS err_bp
         |FROM a""".stripMargin,

    "q_sample_hash" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE $bucketSql < $SAMPLE_PCT""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH ${TextQueries.qualityCtes}
         |SELECT doc_id, quality FROM qv
         |WHERE ${Dedup.hash32Sql(WEIGHTED_SEED, "CAST(doc_id AS VARCHAR)")}
         |  % 100 < quality""".stripMargin,

    "q_mixture_weights" ->
      s"""WITH ps AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END)
         |      AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |ps2 AS (SELECT * FROM ps WHERE n_tokens > 0),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |               count(*) AS n_sources FROM ps2),
         |e AS (SELECT source, n_docs, n_tokens,
         |    CAST(n_tokens * 10000 // total_tokens AS BIGINT) AS share_bp,
         |    CAST(least($MAX_EPOCHS_MILLI,
         |      (total_tokens // 2 // n_sources) * 1000 // n_tokens)
         |      AS BIGINT) AS epochs_milli
         |  FROM ps2 CROSS JOIN tot)
         |SELECT source, n_docs, n_tokens, share_bp, epochs_milli,
         |  CAST(n_tokens * epochs_milli // 1000 AS BIGINT)
         |    AS planned_tokens
         |FROM e""".stripMargin,

    "q_dist_drift" -> tvSql(
      "SELECT source AS g, n_chars // 100 AS bin FROM documents",
      "source"),

    "q_split_drift" -> tvSql(
      s"""SELECT CASE WHEN bkt < 80 THEN 'train'
         |            WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS g,
         |       n_chars // 100 AS bin
         |FROM (SELECT $bucketSql AS bkt, n_chars FROM documents)"""
        .stripMargin,
      "split"),

    "q_source_influence" ->
      """WITH per AS (SELECT source, count(*) AS n_s,
        |    sum(n_chars) AS sum_s FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n_s) AS n, sum(sum_s) AS sum_all FROM per)
        |SELECT source, CAST(n_s AS BIGINT) AS n_s,
        |  CASE WHEN n - n_s = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST((CAST(sum_all AS HUGEINT) - sum_s) * 1000
        |      // (n - n_s) AS BIGINT) END AS loo_mean_milli,
        |  CASE WHEN n - n_s = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST((CAST(sum_all AS HUGEINT) - sum_s) * 1000
        |        // (n - n_s)
        |      - CAST(sum_all AS HUGEINT) * 1000 // n AS BIGINT)
        |  END AS influence_milli
        |FROM per, tot""".stripMargin,

    "q_ks_drift" ->
      s"""WITH d AS (SELECT CASE WHEN bkt < 80 THEN 'train'
         |      WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS split,
         |    n_chars AS v
         |  FROM (SELECT $bucketSql AS bkt, n_chars FROM documents)),
         |ps AS (SELECT split, v, count(*) AS c FROM d GROUP BY 1, 2),
         |grid AS (SELECT vv.v, ss.split
         |  FROM (SELECT DISTINCT v FROM ps) vv
         |  CROSS JOIN (SELECT DISTINCT split FROM ps) ss),
         |cums AS (SELECT g.split, g.v,
         |    sum(coalesce(p.c, 0)) OVER (PARTITION BY g.split
         |      ORDER BY g.v ROWS UNBOUNDED PRECEDING) AS cum_s
         |  FROM grid g LEFT JOIN ps p
         |    ON p.split = g.split AND p.v = g.v),
         |ag AS (SELECT v, count(*) AS ca FROM d GROUP BY 1),
         |agc AS (SELECT v, sum(ca) OVER (ORDER BY v
         |    ROWS UNBOUNDED PRECEDING) AS cum_a FROM ag),
         |ns AS (SELECT split, count(*) AS n_s FROM d GROUP BY 1),
         |na AS (SELECT count(*) AS n_a FROM d),
         |gaps AS (SELECT c.split, c.v, ns.n_s,
         |    CAST(abs(CAST(cum_s AS HUGEINT) * n_a
         |        - CAST(cum_a AS HUGEINT) * n_s) * 1000000
         |      // (CAST(n_s AS HUGEINT) * n_a) AS BIGINT) AS gap_ppm
         |  FROM cums c JOIN agc ON agc.v = c.v
         |  JOIN ns ON ns.split = c.split CROSS JOIN na),
         |r AS (SELECT split, n_s, v, gap_ppm, row_number() OVER (
         |    PARTITION BY split ORDER BY gap_ppm DESC, v ASC) AS rn
         |  FROM gaps)
         |SELECT split, CAST(n_s AS BIGINT) AS n_split,
         |  gap_ppm AS d_ppm, CAST(v AS BIGINT) AS at_value
         |FROM r WHERE rn = 1""".stripMargin,

    "q_quality_auc" ->
      s"""WITH ${TextQueries.qualityCtes},
         |fpt AS (SELECT doc_id,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |dupfp AS (SELECT fp FROM fpt GROUP BY fp HAVING count(*) >= 2),
         |lab AS (SELECT qv.quality AS score,
         |    CASE WHEN f.fp IN (SELECT fp FROM dupfp) THEN 1 ELSE 0 END
         |      AS pos
         |  FROM qv JOIN fpt f ON f.doc_id = qv.doc_id),
         |hist AS (SELECT score, sum(pos) AS np,
         |    sum(1 - pos) AS nn FROM lab GROUP BY 1),
         |cum AS (SELECT score, np, nn,
         |    coalesce(sum(nn) OVER (ORDER BY score
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cnb
         |  FROM hist),
         |s AS (SELECT sum(np) AS n_pos, sum(nn) AS n_neg,
         |    sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS u2 FROM cum)
         |SELECT CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_neg AS BIGINT) AS n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN CAST(NULL AS BIGINT)
         |    ELSE CAST(u2 * 1000000
         |      // (2 * CAST(n_pos AS HUGEINT) * n_neg) AS BIGINT)
         |  END AS auc_ppm
         |FROM s""".stripMargin,

    "q_train_test_split" ->
      s"""WITH b AS (SELECT lang, $bucketSql AS bkt FROM documents)
         |SELECT lang,
         |  CASE WHEN bkt < 80 THEN 'train'
         |       WHEN bkt < 90 THEN 'valid' ELSE 'test' END AS split,
         |  count(*) AS n
         |FROM b GROUP BY 1, 2""".stripMargin,

    "q_stratified_sample" ->
      s"""WITH h AS (SELECT lang, doc_id, $bucketSql AS h FROM documents),
         |r AS (SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY h ASC, doc_id ASC) AS rn
         |  FROM h)
         |SELECT lang, doc_id, rn FROM r WHERE rn <= $STRATA_K""".stripMargin,

    "q_pack_chunks" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS n_tokens,
         |    ($bucketSql) % $PACK_SHARDS AS shard
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT doc_id, shard,
         |  CAST((cum - n_tokens) // $PACK_BUDGET AS BIGINT) AS seq_in_shard,
         |  CAST((cum - n_tokens) % $PACK_BUDGET AS BIGINT) AS offset_tokens
         |FROM c""".stripMargin,

    "q_priority_sample" ->
      s"""WITH p AS (SELECT doc_id, n_chars + 1 AS w,
         |    ${Dedup.hash32Sql(PRIORITY_SEED, "CAST(doc_id AS VARCHAR)")} + 1 AS u
         |  FROM documents),
         |pr AS (SELECT doc_id, w,
         |    CAST((w * ${1L << 31}) // u AS BIGINT) AS priority FROM p),
         |r AS (SELECT doc_id, w, priority,
         |    row_number() OVER (ORDER BY priority DESC, doc_id ASC) AS rn
         |  FROM pr)
         |SELECT doc_id, w, priority, rn FROM r
         |WHERE rn <= $PRIORITY_K""".stripMargin,

    "q_padding_waste" ->
      s"""WITH t AS (SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END
         |    AS BIGINT) AS t
         |  FROM documents),
         |a AS (SELECT count(*) AS n_docs,
         |    CAST(sum(t) AS BIGINT) AS total_tokens,
         |    CAST(sum(least(t, $PAD_CTX)) AS BIGINT) AS usable_tokens,
         |    CAST(sum(greatest($PAD_CTX - t, 0)) AS BIGINT) AS pad_tokens,
         |    CAST(sum(greatest(t - $PAD_CTX, 0)) AS BIGINT) AS trunc_tokens
         |  FROM t)
         |SELECT n_docs, total_tokens, usable_tokens, pad_tokens,
         |  trunc_tokens,
         |  usable_tokens * 10000 // (n_docs * $PAD_CTX) AS padded_util_bp,
         |  (total_tokens + $PAD_CTX - 1) // $PAD_CTX AS packed_seqs,
         |  total_tokens * 10000 //
         |    (((total_tokens + $PAD_CTX - 1) // $PAD_CTX) * $PAD_CTX)
         |    AS packed_util_bp
         |FROM a""".stripMargin,

    "q_chunk_stats" ->
      s"""WITH t AS (SELECT source,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS n_tok
         |  FROM documents),
         |ch AS (SELECT source, n_tok,
         |    unnest(generate_series(0, n_tok - 1, $CHUNK_STRIDE)) AS start
         |  FROM t WHERE n_tok > 0)
         |SELECT source,
         |  CAST(sum(CASE WHEN start = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs,
         |  count(*) AS n_chunks,
         |  CAST(sum(least($CHUNK_TOKENS, n_tok - start)) AS BIGINT)
         |    AS chunk_tokens,
         |  CAST(sum(least($CHUNK_TOKENS, n_tok - start)) -
         |    sum(CASE WHEN start = 0 THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS overlap_tokens,
         |  CAST(sum(CASE WHEN n_tok - start < $CHUNK_TOKENS THEN 1 ELSE 0
         |    END) AS BIGINT) AS short_chunks
         |FROM ch GROUP BY 1""".stripMargin,

    "q_decontaminate" -> deconSql,

    // bloom prefilter is pruning-only (exact join removes false
    // positives; false negatives impossible) ⇒ the oracle IS the
    // unpruned query's
    "q_bloom_decontaminate" -> deconSql,

    "q_gini_concentration" ->
      """WITH tk AS (SELECT lang,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS t
        |  FROM documents),
        |byval AS (SELECT lang, t, count(*) AS c FROM tk GROUP BY 1, 2),
        |cum AS (SELECT lang, t, c,
        |    sum(c) OVER (PARTITION BY lang ORDER BY t
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM byval),
        |a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(sum(t * c) AS BIGINT) AS total_tokens,
        |    CAST(sum(t * ((cum - c) * c + (c * (c + 1)) // 2))
        |      AS HUGEINT) AS srt
        |  FROM cum GROUP BY 1)
        |SELECT lang, n_docs, total_tokens,
        |  CASE WHEN total_tokens = 0 THEN NULL
        |    ELSE CAST(((2 * srt - (n_docs + 1) * total_tokens) * 10000)
        |      // (CAST(n_docs AS HUGEINT) * total_tokens) AS BIGINT)
        |  END AS gini_bp
        |FROM a""".stripMargin,

    "q_quantiles" ->
      """WITH byval AS (SELECT lang, n_chars, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT lang, n_chars,
        |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY lang) AS n
        |  FROM byval)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  min(CASE WHEN cum * 2 >= n THEN n_chars END) AS p50_chars,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN n_chars END) AS p90_chars,
        |  max(n_chars) AS max_chars
        |FROM cum GROUP BY lang""".stripMargin,

    "q_mixture_temperature" ->
      """WITH per AS (SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
        |    CAST(sum(w) AS BIGINT) AS tot_w FROM per)
        |SELECT source, n_docs,
        |  CAST(10000 * n_docs // tot_docs AS BIGINT) AS prop_bp,
        |  CAST(10000 * w // tot_w AS BIGINT) AS temp_bp,
        |  CASE WHEN 10000 * n_docs // tot_docs > 0
        |    THEN CAST(10000 * (10000 * w // tot_w)
        |      // (10000 * n_docs // tot_docs) AS BIGINT)
        |    ELSE NULL END AS boost_bp
        |FROM per CROSS JOIN tot""".stripMargin,

    "q_importance_weights" ->
      s"""WITH toks AS (SELECT doc_id, source,
         |    string_split_regex(trim(lower(text)), '\\s+') AS t
         |  FROM documents WHERE length(trim(text)) > 0),
         |tok AS (SELECT doc_id, source, u.tok FROM toks, unnest(t) AS u(tok)),
         |bk AS (SELECT doc_id, source,
         |    ${Dedup.hash32Sql(IW_SEED, "tok")} % $IW_BUCKETS AS b
         |  FROM tok),
         |raw AS (SELECT b, count(*) AS rc FROM bk GROUP BY b),
         |tgt AS (SELECT b, count(*) AS tc FROM bk
         |  WHERE source = '$IW_TARGET' GROUP BY b),
         |tot AS (SELECT CAST((SELECT sum(rc) FROM raw) AS BIGINT) AS rt,
         |               CAST((SELECT sum(tc) FROM tgt) AS BIGINT) AS tt),
         |probs AS (SELECT r.b,
         |    (COALESCE(t.tc, 0) + 1) * 1000000 // (tot.tt + $IW_BUCKETS) AS t_ppm,
         |    (r.rc + 1) * 1000000 // (tot.rt + $IW_BUCKETS) AS r_ppm
         |  FROM raw r LEFT JOIN tgt t ON r.b = t.b CROSS JOIN tot)
         |SELECT bk.doc_id, count(*) AS n_toks,
         |  CAST(sum(p.t_ppm) AS BIGINT) AS w_target,
         |  CAST(sum(p.r_ppm) AS BIGINT) AS w_raw,
         |  CAST(sum(p.t_ppm) * 10000 // sum(p.r_ppm) AS BIGINT) AS ratio_bp
         |FROM bk JOIN probs p ON bk.b = p.b
         |GROUP BY bk.doc_id""".stripMargin,

    "q_shard_manifest" ->
      s"""SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  bit_xor(h) AS content_hash,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM (SELECT ($bucketSql % $MANIFEST_SHARDS) AS shard,
         |    doc_id, n_chars, ${Dedup.shingleHashSql("text")} AS h
         |  FROM documents)
         |GROUP BY shard""".stripMargin,

    "q_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${Dedup.hash32Sql(EPOCH_SEED, "CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, h % $EPOCH_SHARDS AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % $EPOCH_SHARDS
         |    ORDER BY h ASC, doc_id ASC) AS INT) AS pos
         |FROM h""".stripMargin,

    "q_crossfold" ->
      s"""SELECT ${Dedup.hash32Sql(FOLD_SEED, "CAST(doc_id AS VARCHAR)")}
         |    % $N_FOLDS AS fold,
         |  lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1, 2""".stripMargin,

    "q_source_entropy" ->
      """WITH sl AS (SELECT source, lang, count(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |    count(*) AS n_langs, CAST(sum(c * c) AS BIGINT) AS sum_c2
        |  FROM sl GROUP BY 1)
        |SELECT source, n_docs, n_langs,
        |  CAST(n_docs * n_docs * 10000 // sum_c2 AS BIGINT) AS eff_langs_bp
        |FROM a""".stripMargin,

    "q_length_filter" ->
      s"""WITH byval AS (SELECT lang, n_chars, count(*) AS c
         |  FROM documents GROUP BY 1, 2),
         |cum AS (SELECT lang, n_chars,
         |    sum(c) OVER (PARTITION BY lang ORDER BY n_chars
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER (PARTITION BY lang) AS n
         |  FROM byval),
         |cuts AS (SELECT lang,
         |    min(CASE WHEN cum * 100 >= n * $LF_LO_PCT THEN n_chars END)
         |      AS lo_chars,
         |    min(CASE WHEN cum * 100 >= n * $LF_HI_PCT THEN n_chars END)
         |      AS hi_chars
         |  FROM cum GROUP BY lang)
         |SELECT d.lang, max(lo_chars) AS lo_chars, max(hi_chars) AS hi_chars,
         |  CAST(sum(CASE WHEN d.n_chars < lo_chars THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_drop_short,
         |  CAST(sum(CASE WHEN d.n_chars > hi_chars THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_drop_long,
         |  CAST(sum(CASE WHEN d.n_chars BETWEEN lo_chars AND hi_chars
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN cuts ON d.lang = cuts.lang
         |GROUP BY d.lang""".stripMargin,

    "q_binned_batching" ->
      s"""WITH bt AS (SELECT doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END
         |      AS BIGINT) AS t
         |  FROM documents),
         |bb AS (SELECT doc_id, t, t // $BIN_WIDTH AS bin,
         |    ${Dedup.hash32Sql(BATCH_SEED, "CAST(doc_id AS VARCHAR)")}
         |      % $BATCH_SHARDS AS shard
         |  FROM bt),
         |br AS (SELECT *, row_number() OVER (PARTITION BY bin, shard
         |    ORDER BY t ASC, doc_id ASC) AS rk FROM bb),
         |bg AS (SELECT bin, shard, (rk - 1) // $BATCH_B AS batch,
         |    count(*) AS n, max(t) AS bmax, sum(t) AS toks
         |  FROM br GROUP BY 1, 2, 3)
         |SELECT bin, count(*) AS n_batches,
         |  CAST(sum(n) AS BIGINT) AS n_docs,
         |  CAST(sum(toks) AS BIGINT) AS total_tokens,
         |  CAST(sum(n * bmax - toks) AS BIGINT) AS pad_tokens,
         |  CASE WHEN sum(toks) + sum(n * bmax - toks) = 0
         |    THEN CAST(10000 AS BIGINT)
         |    ELSE CAST(sum(toks) * 10000 //
         |      (sum(toks) + sum(n * bmax - toks)) AS BIGINT)
         |  END AS util_bp
         |FROM bg GROUP BY 1""".stripMargin,

    "q_token_weighted_median" ->
      """WITH wt AS (SELECT CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END
        |    AS BIGINT) AS t
        |  FROM documents),
        |wm AS (SELECT t, count(*) AS c, CAST(t * count(*) AS BIGINT)
        |    AS mass
        |  FROM wt WHERE t > 0 GROUP BY 1),
        |wc AS (SELECT t, c, mass,
        |    CAST(sum(mass) OVER (ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_mass,
        |    CAST(sum(c) OVER (ORDER BY t ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs
        |  FROM wm),
        |wtot AS (SELECT CAST(sum(mass) AS BIGINT) AS tm,
        |    CAST(sum(c) AS BIGINT) AS nd FROM wm)
        |SELECT max(nd) AS n_docs, max(tm) AS total_tokens,
        |  min(CASE WHEN cum_docs * 2 >= nd THEN t END)
        |    AS doc_median_len,
        |  min(CASE WHEN cum_mass * 2 >= tm THEN t END)
        |    AS token_weighted_median_len
        |FROM wc, wtot""".stripMargin,

    "q_best_of_n" ->
      s"""WITH ${TextQueries.qualityCtes},
         |bg AS (SELECT doc_id, doc_id // $BEST_OF_N AS group_id,
         |    CAST(quality AS BIGINT) AS q
         |  FROM qv),
         |pk AS (SELECT group_id, doc_id, q,
         |    row_number() OVER (PARTITION BY group_id
         |      ORDER BY q DESC, doc_id ASC) AS rn
         |  FROM bg),
         |ag AS (SELECT group_id, count(*) AS group_sz,
         |    CAST(sum(q) AS BIGINT) AS sum_q
         |  FROM bg GROUP BY 1)
         |SELECT ag.group_id, group_sz, pk.doc_id AS keep_doc_id,
         |  pk.q AS best_q,
         |  CAST(sum_q * 100 // group_sz AS BIGINT) AS mean_q_c
         |FROM ag JOIN pk ON pk.group_id = ag.group_id AND pk.rn = 1"""
        .stripMargin,

    "q_quota_apportionment" ->
      s"""WITH qp AS (SELECT source, count(*) AS n_docs
         |  FROM documents GROUP BY 1),
         |qt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS w_total FROM qp),
         |qb AS (SELECT source, n_docs,
         |    CAST($QUOTA_N * n_docs // w_total AS BIGINT) AS base_q,
         |    CAST($QUOTA_N * n_docs % w_total AS BIGINT) AS rem
         |  FROM qp CROSS JOIN qt),
         |ql AS (SELECT $QUOTA_N - CAST(sum(base_q) AS BIGINT) AS extra
         |  FROM qb),
         |qr AS (SELECT *, CAST(row_number() OVER (
         |    ORDER BY rem DESC, source ASC) AS BIGINT) AS rr
         |  FROM qb)
         |SELECT source, n_docs, base_q, rem,
         |  CAST(base_q + CASE WHEN rr <= extra THEN 1 ELSE 0 END
         |    AS BIGINT) AS quota
         |FROM qr CROSS JOIN ql""".stripMargin,

    "q_token_budget" ->
      s"""WITH tb AS (SELECT source,
         |    CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END)
         |      AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |tb2 AS (SELECT * FROM tb WHERE n_tokens > 0),
         |tbt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |               count(*) AS n_sources FROM tb2),
         |tbl AS (SELECT source, n_tokens, total_tokens, n_sources,
         |    CAST(row_number() OVER (ORDER BY n_tokens ASC, source ASC)
         |      AS BIGINT) AS idx,
         |    CAST(coalesce(sum(n_tokens) OVER (
         |      ORDER BY n_tokens ASC, source ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS prefix
         |  FROM tb2 CROSS JOIN tbt),
         |tbc AS (SELECT source, n_tokens, idx,
         |    CAST((total_tokens // 2 - prefix) // (n_sources - idx + 1)
         |      AS BIGINT) AS cand
         |  FROM tbl)
         |SELECT source, n_tokens,
         |  least(n_tokens, coalesce((SELECT cand FROM tbc
         |    WHERE cand < n_tokens ORDER BY idx ASC LIMIT 1), n_tokens))
         |    AS alloc_tokens,
         |  n_tokens > coalesce((SELECT cand FROM tbc
         |    WHERE cand < n_tokens ORDER BY idx ASC LIMIT 1), n_tokens)
         |    AS capped
         |FROM tbc""".stripMargin
  )
}
