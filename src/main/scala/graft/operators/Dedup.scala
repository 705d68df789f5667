package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.CacheRegistry
import graft.functions.TextFunctions

/** Document deduplication at training-data scale: exact (content hash),
  * MinHash+LSH, SimHash, exact n-gram Jaccard, and the scale path —
  * LSH-candidates-then-exact-verify.
  *
  * Everything is built from codegen'd built-ins, no UDFs, no collect.
  *
  * MinHash hashing is the standard one-base-hash scheme: a single 32-bit
  * md5-derived hash per shingle, then N affine transforms
  * `(aᵢ·h + bᵢ) mod p` over the Mersenne prime p = 2³¹−1. One md5 per
  * shingle instead of N; the affine arithmetic is 64-bit-safe integer
  * math (aᵢ,h < 2³¹ ⇒ product < 2⁶², no ANSI overflow) that DuckDB
  * reproduces exactly, keeping every stage oracle-checkable.
  *
  * Scale design (100 TB posture):
  *   - Per-doc shingle/token dedup happens IN-ROW via `array_distinct`,
  *     not a (doc, shingle) `distinct()` — that removes the largest
  *     shuffle of the whole family (the exploded pair set).
  *   - MinHash signatures and SimHash fingerprints are pure projections
  *     (higher-order `transform`/`array_min`/`aggregate` over the in-row
  *     arrays): ZERO shuffle, embarrassingly parallel, linear scans.
  *   - LSH banding: one posexplode projection over the signature table;
  *     the candidate join is a self-join on (band, key) whose bucket
  *     sizes are bounded by collision probability, not corpus size.
  *   - Near-dup verification: exact Jaccard runs only on LSH candidate
  *     pairs ([[lshVerifiedPairs]]). The all-pairs path ([[jaccardPairs]])
  *     enumerates pairs per shingle from a df-bounded `collect_list`
  *     (≤ maxDf ids per key — bounded executor memory) and is kept as
  *     the small-scale validation oracle for the LSH path.
  *
  * Pipeline ordering contract: run [[exactGroups]] FIRST and collapse
  * exact duplicates before any near-dup operator. A cluster of m
  * identical documents puts m colliding rows in every band bucket —
  * m²/2 candidate pairs per cluster — so band-join output is bounded by
  * true NEAR-dup cluster sizes only after exact dups are gone (the 10×
  * replica scale rehearsal in PERF.md shows the blowup by construction).
  */
object Dedup {

  /** Mersenne prime 2³¹−1 — the affine-transform modulus. */
  val P: Long = 2147483647L

  /** Affine multiplier for hash i: odd-multiplier Knuth-style mixing,
    * reduced mod p, never zero (a=0 would collapse the permutation).
    */
  def affineA(i: Int): Long = {
    val a = ((2L * i + 1L) * 2654435761L) % P
    if (a == 0L) 1L else a
  }

  /** Affine offset for hash i. */
  def affineB(i: Int): Long = (40503L * i + 12345L) % P

  /** 32-bit seeded hash both Spark and DuckDB share: first 8 hex digits
    * of md5("seed:value") as an unsigned int.
    */
  def hash32(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), s)), 1, 8),
      16, 10).cast("long")

  /** SQL-text twin of [[hash32]] for DuckDB oracles. */
  def hash32Sql(seed: Int, expr: String): String =
    s"CAST(('0x' || substr(md5('$seed' || ':' || $expr), 1, 8)) AS BIGINT)"

  /** 60-bit shingle hash (first 15 md5 hex digits): the Jaccard pipeline
    * shuffles/joins/groups shingles many times, and an 8-byte long beats
    * a ~20-byte string in every one of those exchanges. Collision odds
    * at 60 bits are ~|shingles|²/2⁶¹ (vanishing), and the SAME hash is
    * computed in the oracle SQL, so any collision affects both engines
    * identically.
    */
  def shingleHash(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** SQL-text twin of [[shingleHash]]. */
  def shingleHashSql(expr: String): String =
    s"CAST(('0x' || substr(md5($expr), 1, 15)) AS BIGINT)"

  /** The i-th MinHash value of a base hash already reduced mod p. */
  def affine(i: Int, hm: Column): Column =
    (lit(affineA(i)) * hm + lit(affineB(i))) % P

  /** SQL-text twin of [[affine]] over a mod-p base-hash expression. */
  def affineSql(i: Int, hmExpr: String): String =
    s"(${affineA(i)} * $hmExpr + ${affineB(i)}) % $P"

  /** Exact dedup: group identical normalized texts, keep min-id survivor.
    * Output: fingerprint, surviving doc id, group size.
    */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(TextFunctions.fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** One row per doc with its DISTINCT k-shingle array — the dedup is
    * in-row (`array_distinct`), so this is a pure projection with no
    * shuffle. Docs with no shingles (fewer than k tokens) are dropped,
    * matching the exploded/oracle form.
    */
  private[operators] def shingleArrays(docs: DataFrame, id: String,
                                       text: String, k: Int): DataFrame =
    docs.select(col(id).as("doc_id"),
        TextFunctions.tokens(lower(col(text))).as("toks"))
      // ≥ k tokens ⟺ ≥ 1 shingle. Filtering on the TOKEN count, before
      // the shingle projection, matters: a filter on size(shingles)
      // would be predicate-pushed below the fan-out exchange with the
      // whole shingle expression substituted in — re-running the k-gram
      // build per row on the unparallelized scan.
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        array_distinct(TextFunctions.shinglesFromTokens(col("toks"), k))
          .as("shingles"))

  /** Distinct (doc_id, shingle) pairs — explode of the in-row-distinct
    * array (no distinct() shuffle) — with an optional document-frequency
    * cut dropping shingles present in more than maxDf docs.
    */
  def docShingles(docs: DataFrame, id: String, text: String, k: Int,
                  maxDf: Option[Int] = None): DataFrame = {
    val pairs = shingleArrays(docs, id, text, k)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    maxDf match {
      case None => pairs
      case Some(df) =>
        // two-pass cut (count, then semi-join) rather than a single
        // collect_list pass: a one-pass cut would buffer the full doc
        // list of degenerate stopword-shingles in executor memory.
        val rare = pairs.groupBy("shingle")
          .agg(count(lit(1)).as("df_count"))
          .filter(col("df_count") <= df)
          .select("shingle")
        pairs.join(rare, "shingle").select("doc_id", "shingle")
    }
  }

  /** One row per doc with its mod-p base-hash array (single md5 per
    * shingle) — the shared input of both signature formulations.
    */
  private def baseHashes(docs: DataFrame, id: String, text: String,
                         k: Int): DataFrame =
    shingleArrays(docs, id, text, k)
      .select(col("doc_id"),
        transform(col("shingles"), s => hash32(0, s) % P).as("hm"))

  /** MinHash signatures: one row per doc, columns mh0..mh{n-1}.
    * Entirely shuffle-free, with all n slots computed in ONE fused
    * native loop ([[graft.plans.MinHashAffine]], registered by
    * GraftExtensions — the session must set `spark.sql.extensions`);
    * the per-slot columns are cheap element_at extracts.
    */
  def minhashSignatures(docs: DataFrame, id: String, text: String,
                        k: Int = 3, numHashes: Int = 16): DataFrame = {
    val sig = baseHashes(docs, id, text, k)
      .select(col("doc_id"),
        call_function("minhash_affine", col("hm"), lit(numHashes))
          .as("sig"))
    sig.select(col("doc_id") +:
      (0 until numHashes).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
  }

  /** Reference formulation of [[minhashSignatures]]: one
    * `array_min(transform(...))` higher-order pass PER SLOT
    * (CodegenFallback — n interpreted passes per row). Kept as the
    * equivalence oracle for the native expression.
    */
  def minhashSignaturesHof(docs: DataFrame, id: String, text: String,
                           k: Int = 3, numHashes: Int = 16): DataFrame = {
    val sigs = (0 until numHashes).map(i =>
      array_min(transform(col("hm"), h => affine(i, h))).as(s"mh$i"))
    baseHashes(docs, id, text, k).select(col("doc_id") +: sigs: _*)
  }

  /** One row per (doc, band) with the band's key = md5 over its signature
    * slice — a single posexplode projection over the signature table.
    */
  private[operators] def bandRows(sigs: DataFrame, numHashes: Int,
                                  bands: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(bandKeys(numHashes, bands)))
      .toDF("doc_id", "band", "bkey")

  /** The band-key array over mh0..mh{n-1} columns — THE banding
    * arithmetic (md5 over the dash-joined signature slice), shared by
    * the batch [[bandRows]] and the streaming near-dup index
    * ([[graft.streaming.StreamingNearDup]]) so the two can never
    * drift; the oracle twin is TextQueries.bandSelect.
    */
  private[graft] def bandKeys(numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    array((0 until bands).map { b =>
      md5(concat_ws("-",
        (0 until r).map(j => col(s"mh${b * r + j}").cast("string")): _*))
    }: _*)
  }

  /** Distinct candidate pairs (doc_a < doc_b) from banded signatures. */
  private def candidatesFromSigs(sigs: DataFrame, numHashes: Int,
                                 bands: Int): DataFrame = {
    val br = bandRows(sigs, numHashes, bands)
    val a = br.as("a")
    val b = br.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs. The signature table (numHashes longs per doc)
    * is persisted so the signature projection feeds both self-join sides
    * from cache instead of re-scanning the corpus.
    */
  def minhashCandidatePairs(docs: DataFrame, id: String, text: String,
                            k: Int = 3, numHashes: Int = 16,
                            bands: Int = 4): DataFrame = {
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    candidatesFromSigs(sigs, numHashes, bands)
  }

  /** Sketch-estimated Jaccard for LSH candidate pairs: the fraction of
    * agreeing MinHash slots is an unbiased estimator of the true Jaccard
    * similarity, so candidates can be RANKED (and thresholded) from the
    * signatures alone — no shingle-set intersection, no second pass over
    * the corpus. This is the 100 TB triage shape: signatures are a
    * shuffle-free projection, candidates are band-bounded, and the
    * estimate joins two numHashes-long rows instead of two posting
    * lists. Integer percent output (`n_agree * 100 div numHashes`)
    * keeps the estimate engine-exact for the oracle.
    *
    * The signature table is persisted once and feeds the banding AND
    * both estimate sides from cache.
    */
  def estimatedJaccardPairs(docs: DataFrame, id: String, text: String,
                            k: Int = 3, numHashes: Int = 16,
                            bands: Int = 4): DataFrame = {
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val cand = candidatesFromSigs(sigs, numHashes, bands)
    def side(as: String): DataFrame =
      sigs.select(col("doc_id").as(s"doc_$as") +:
        (0 until numHashes).map(i => col(s"mh$i").as(s"$as$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        agree.cast("long").as("n_agree"))
      .withColumn("est_jaccard_pct",
        expr(s"n_agree * 100 div $numHashes"))
  }

  /** b-bit MinHash estimate beside the full-slot one (b = 1, Li &
    * König WWW'10): keep only each signature slot's LOWEST bit — 1/32
    * of the slot storage — and estimate Jaccard from bit agreement:
    * unrelated slots agree by chance ½, so ĵ = 2A − 1 clamped at 0
    * (the clamp also swallows the one negative division, where
    * truncate-vs-floor could differ — both engines clamp to the same
    * 0). Emitting both estimators per candidate pair makes the query
    * ITSELF the accuracy comparison the compression trade is priced
    * by. Same cost shape as [[estimatedJaccardPairs]].
    */
  def bbitEstimatedPairs(docs: DataFrame, id: String, text: String,
                         k: Int = 3, numHashes: Int = 16,
                         bands: Int = 4): DataFrame = {
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val cand = candidatesFromSigs(sigs, numHashes, bands)
    def side(as: String): DataFrame =
      sigs.select(col("doc_id").as(s"doc_$as") +:
        (0 until numHashes).map(i => col(s"mh$i").as(s"$as$i")): _*)
    val bitAgree = (0 until numHashes)
      .map(i => when(col(s"a$i") % 2 === col(s"b$i") % 2, 1).otherwise(0))
      .reduce(_ + _)
    val slotAgree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bitAgree.cast("long").as("n_bit_agree"),
        slotAgree.cast("long").as("n_agree"))
      .withColumn("est_bbit_bp", expr(
        s"greatest(CAST(0 AS BIGINT), " +
          s"(2 * n_bit_agree - $numHashes) * 10000 div $numHashes)"))
      .withColumn("est_full_bp",
        expr(s"n_agree * 10000 div $numHashes"))
  }

  /** MinHash estimator calibration: |estimated − exact| Jaccard error
    * distribution over LSH candidate pairs, in 10-point buckets — the
    * measured accuracy of the signature-only triage tier
    * ([[estimatedJaccardPairs]]) against exact set intersection on the
    * SAME pairs. The theory says stderr ≈ √(J(1−J)/numHashes) ≈ 12 pp
    * at 16 slots; this reports what the corpus actually gets, so the
    * triage thresholds can be set with known slack. Signatures AND
    * shingle sets are computed once each; the exact side is the shared
    * candidate-bounded verify with NO threshold (every candidate pair
    * is priced).
    */
  def minhashAccuracy(docs: DataFrame, id: String, text: String,
                      k: Int = 3, numHashes: Int = 16,
                      bands: Int = 4): DataFrame = {
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val est = estimatedJaccardPairs(docs, id, text, k, numHashes, bands)
    val exact = exactVerify(
      est.select(col("doc_a"), col("doc_b")), ds, 0)
      .select(col("doc_a"), col("doc_b"),
        expr("n_common * 100 div (sz_a + sz_b - n_common)")
          .as("exact_pct"))
    // left join: a band collision with ZERO shared shingles (hash luck)
    // has no verify row — its exact Jaccard is 0, not absent
    est.join(exact, Seq("doc_a", "doc_b"), "left")
      .select(expr(
        "abs(est_jaccard_pct - coalesce(exact_pct, 0)) div 10")
        .as("err_bucket"))
      .groupBy(col("err_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** SimHash fingerprint width. 60 bits — the first 15 md5 hex digits
    * per token, i.e. [[shingleHash]] — rather than 64: a 60-bit value
    * stays non-negative in a signed 64-bit integer, so every downstream
    * shift/mask/xor is identical in Spark and DuckDB without signed-shift
    * edge cases, while still giving band widths (15+ bits) whose buckets
    * stay sparse as the corpus grows (the round-2 8-bit bands capped at
    * 256 buckets — bucket population, and thus within-bucket candidate
    * pairs, grew linearly/quadratically with corpus size).
    */
  val SIMHASH_BITS = 60

  /** One row per doc with its distinct-token 60-bit hash array — the
    * shared input of both simhash formulations. Pure projection.
    */
  private def tokenHashes(docs: DataFrame, id: String,
                          text: String): DataFrame =
    docs.select(col(id).as("doc_id"),
        TextFunctions.tokens(lower(col(text))).as("toks"))
      .filter(size(col("toks")) > 0) // cheap when pushed below the fan-out
      .select(col("doc_id"),
        transform(array_distinct(col("toks")), t => shingleHash(t)).as("hs"))

  /** 60-bit SimHash over distinct whitespace tokens — a pure projection
    * with the vote/assemble step fused into ONE native loop
    * ([[graft.plans.SimHash60]], registered by GraftExtensions — the
    * session must set `spark.sql.extensions`). No explode, no shuffle.
    */
  def simhash60(docs: DataFrame, id: String, text: String): DataFrame =
    tokenHashes(docs, id, text)
      .select(col("doc_id"),
        call_function("simhash60", col("hs")).as("simhash"))

  /** Reference formulation of [[simhash60]]: 60 per-bit `aggregate`
    * folds (CodegenFallback — 60 interpreted passes per row). Kept as
    * the equivalence oracle for the native expression, same pattern as
    * [[graft.functions.VectorFunctions.cosineHof]].
    */
  def simhash60Hof(docs: DataFrame, id: String, text: String): DataFrame = {
    val fp = (0 until SIMHASH_BITS).map { i =>
      val vote = aggregate(col("hs"), lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(1) === 1, lit(1L))
          .otherwise(lit(-1L)))
      when(vote > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    tokenHashes(docs, id, text).select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup retrieval: band the 60-bit fingerprint into
    * `maxHamming + 1` equal slices — the band count DERIVES from the
    * radius so the pigeonhole guarantee always holds: a pair within
    * hamming distance h differs in ≤ h bands, so with h+1 bands at least
    * one band matches exactly. (Round 2 hard-coded 4 bands for any
    * radius, silently losing recall for maxHamming ≥ 4.) Candidates are
    * verified with exact `bit_count(xor)`. All-integer — oracle-exact —
    * and each band has 2^(60/(h+1)) buckets (32768 at the default h=3),
    * so bucket population — and the within-bucket candidate join —
    * stays sparse as the corpus grows.
    */
  def simhashNearDupPairs(docs: DataFrame, id: String, text: String,
                          maxHamming: Int = 3): DataFrame =
    bandedHammingPairs(simhash60(docs, id, text), "doc_id", "simhash",
      SIMHASH_BITS, maxHamming)
      .toDF("doc_a", "doc_b", "hamming")

  /** The Hamming band keys of a `bits`-bit fingerprint as an array
    * column: maxHamming+1 equal bands, so any pair within the radius
    * shares at least one untouched band (pigeonhole). ONE definition —
    * [[bandedHammingPairs]]'s self-join and the streaming media index
    * both explode this, so batch and stream banding can never drift.
    */
  def hammingBandKeys(fp: Column, bits: Int, maxHamming: Int): Column = {
    val bands = maxHamming + 1
    require(maxHamming >= 0 && bits % bands == 0,
      s"maxHamming=$maxHamming needs $bands equal bands out of $bits bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    array((0 until bands).map(b =>
      shiftright(fp, b * width).bitwiseAND(mask)): _*)
  }

  /** Generic banded hamming retrieval over ANY integer fingerprint
    * column (SimHash over text, aHash over media, …): band the `bits`-
    * wide fingerprint into `maxHamming + 1` equal slices (pigeonhole:
    * a pair within hamming h differs in ≤ h bands, so some band matches
    * exactly), join on band collisions, verify with exact
    * `bit_count(xor)`. Output: (<id>_a, <id>_b, hamming). The
    * fingerprint table is persisted (registered — see [[CacheRegistry]])
    * because both join sides read it.
    */
  def bandedHammingPairs(fps0: DataFrame, id: String, fp: String,
                         bits: Int, maxHamming: Int): DataFrame = {
    // validate BEFORE registering the persisted frame (the banded
    // select below is lazy): an invalid radius must not leak a
    // CacheRegistry entry
    hammingBandKeys(lit(0L), bits, maxHamming)
    // lazy fill: both band-join sides read it, and when their scan
    // stages run concurrently the BlockManager's per-partition
    // get-or-compute lock makes one compute and the other wait — no
    // duplicate work, and no construction-time side-effect job (the
    // round-3 eager .count() was one extra full cached scan)
    val fps = CacheRegistry.register(
      fps0.select(col(id).as("id"), col(fp).as("fp"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = fps.select(col("id"), col("fp"),
        posexplode(hammingBandKeys(col("fp"), bits, maxHamming)))
      .toDF("id", "fp", "band", "bkey")
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bkey") === col("b.bkey") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as(s"${id}_a"), col("b.id").as(s"${id}_b"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Exact n-gram Jaccard near-dup pairs with integer-only thresholding:
    * keep pairs where jaccard >= thresholdPct/100, i.e.
    * 100*|A∩B| >= thresholdPct*(|A|+|B|-|A∩B|). Output integer counts
    * (no float in the result → hash-stable).
    *
    * Pair enumeration is per-shingle from a BOUNDED sorted posting list
    * of the df-cut inverted index (≤ maxDf ids per key, capped inside
    * the aggregation buffer itself), generating (a, b) combinations
    * in-row — this replaces the shingle self-join, whose probe volume is
    * the same Σ df² but which shuffles the full pair set twice. Still
    * O(Σ df²) output — the small-scale validation path;
    * [[lshVerifiedPairs]] is the 100 TB shape.
    */
  /** Uncut (doc_id, shingle-hash) pairs — the shared, cached input of
    * the Jaccard family (see [[shingleHash]] for why hashes, not
    * strings).
    */
  private def hashedShingles(docs: DataFrame, id: String, text: String,
                             k: Int): DataFrame =
    docShingles(docs, id, text, k)
      .select(col("doc_id"), shingleHash(col("shingle")).as("shingle"))

  def jaccardPairs(docs: DataFrame, id: String, text: String, k: Int = 3,
                   maxDf: Int = 100, thresholdPct: Int = 60): DataFrame = {
    val (common, sizes) = invertedIndexCounts(docs, id, text, k, maxDf)
    thresholdAndSize(common, sizes, thresholdPct)
  }

  /** Near-subset detection by CONTAINMENT: keep pairs where
    * 100·|A∩B| ≥ thresholdPct·min(|A|,|B|) — the quote-inclusion /
    * superset-duplicate case Jaccard structurally misses (a short doc
    * fully embedded in a long one has tiny Jaccard but containment 1).
    * Same single inverted-index pass as [[jaccardPairs]]; only the
    * integer threshold differs. Output adds nothing beyond the shared
    * (doc_a, doc_b, n_common, sz_a, sz_b) so the two are differencable.
    */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       k: Int = 3, maxDf: Int = 100,
                       thresholdPct: Int = 90): DataFrame = {
    val (common, sizes) = invertedIndexCounts(docs, id, text, k, maxDf)
    withSizes(common, sizes)
      .filter(col("n_common") * 100 >=
        lit(thresholdPct) * least(col("sz_a"), col("sz_b")))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a"), col("sz_b"))
  }

  /** The shared inverted-index core of the exact pair family:
    * (pair common-counts, per-doc set sizes), both derived from ONE
    * groupBy(shingle) aggregation.
    *
    * One aggregation replaces round 2's four sequential cached stages
    * (uncut-pair cache fill, df-count agg, cut join, collect_list agg):
    * a single groupBy(shingle) emits BOTH the document frequency and
    * the complete sorted posting list of every rare shingle. The
    * posting list goes through `bounded_topk` with k = maxDf + 1 — a
    * k-capped partial buffer — so a degenerate stopword shingle costs
    * O(maxDf) executor memory and map-side shuffle bytes, not O(df):
    * the very reason round 2 kept a two-pass cut. Rows with
    * df_count > maxDf are dropped after the agg; for the survivors
    * df ≤ maxDf < k means the bounded list is the COMPLETE posting
    * list, already ascending by doc_id.
    *
    * The doc_id rides bounded_topk's double score slot: ids below 2⁵³
    * are exact in a double, so (score, id) ordering is plain id order.
    * Requires `bounded_topk` registered (GraftExtensions). Posting-list
    * ids are cast BACK to the input id type so doc_a/doc_b keep the
    * caller's schema (and stay differencable against lshVerifiedPairs,
    * which never leaves the original type).
    */
  private def invertedIndexCounts(docs: DataFrame, id: String,
                                  text: String, k: Int,
                                  maxDf: Int): (DataFrame, DataFrame) = {
    val idType = docs.schema(id).dataType
    val grouped = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .groupBy("shingle")
        .agg(count(lit(1)).as("df_count"),
          expr(s"bounded_topk(cast(doc_id as double), doc_id, ${maxDf + 1})")
            .as("top"))
        .filter(col("df_count") <= maxDf)
        .select(transform(col("top"), t => t.getField("n").cast(idType))
          .as("ids"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    // lazy fill: sizes + combos both read the cache, and the
    // BlockManager's per-partition get-or-compute lock dedups any
    // concurrent fill — the round-3 eager .count() was one extra full
    // materialization of the agg output on every call
    val sizes = grouped.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // (a, b) combinations of each shingle's sorted id list, in-row
    val combos = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + lit(2), size(col("ids"))),
        b => struct(a.as("a"), b.as("b")))))
    val common = grouped
      .filter(size(col("ids")) >= 2)
      .select(explode(combos).as("p"))
      .groupBy(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    (common, sizes)
  }

  /** LSH-then-verify near-dup pairs — the scale-safe plan: band-collision
    * candidates first (output bounded by collision probability), then
    * exact Jaccard computed ONLY on candidate pairs by joining them back
    * to the shingle sets. No document-frequency cut: sizes and
    * intersections are over the full shingle sets.
    *
    * Output columns match [[jaccardPairs]] so the two can be differenced
    * directly (LSH-verified ⊆ exact, minus LSH misses).
    */
  def lshVerifiedPairs(docs: DataFrame, id: String, text: String,
                       k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                       thresholdPct: Int = 60): DataFrame = {
    // ds feeds three stages (sizes + two verify-join sides); sigs feeds
    // both band-join sides. Fills are lazy — per-partition
    // get-or-compute locking dedups concurrent stage fills.
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    lshPairsFromDs(ds, sigs, numHashes, bands, thresholdPct)
  }

  /** Hard-negative mining: LSH candidates whose exact verified Jaccard
    * lands in [loPct, hiPct) — the boundary band a dedup run LOOKED at
    * and rejected. These near-miss pairs are what a review queue
    * samples to audit the threshold and what contrastive retrieval
    * training mines as hard negatives (easy negatives never reach the
    * candidate stage, so the banding has already done the mining).
    * Scope is candidates-only BY DESIGN: at the default banding
    * (16 hashes, 4×4) a j = 0.5 pair surfaces with P ≈ 23 % — this is
    * the band's view of the boundary, not an exhaustive sweep
    * (q_jaccard_threshold_sweep prices the full curve); the oracle
    * replays the identical banding, so the set is engine-exact.
    * Same cost shape as [[lshVerifiedPairs]]: band-bounded candidates,
    * verify joins only candidate pairs.
    */
  def lshBandPairs(docs: DataFrame, id: String, text: String,
                   k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                   loPct: Int = 40, hiPct: Int = 60): DataFrame = {
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = candidatesFromSigs(sigs, numHashes, bands)
      .join(ds.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val union = col("sz_a") + col("sz_b") - col("n_common")
    withSizes(common, sizes)
      .filter(col("n_common") * 100 >= lit(loPct) * union &&
        col("n_common") * 100 < lit(hiPct) * union)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a"), col("sz_b"),
        expr("n_common * 10000 div (sz_a + sz_b - n_common)")
          .as("jaccard_bp"))
  }

  /** LSH-then-verify over PREcomputed cached shingle/signature tables —
    * lets composite queries ([[lshRecall]]) share one scan with the
    * prefix-filter truth side instead of re-deriving both caches.
    */
  private def lshPairsFromDs(ds: DataFrame, sigs: DataFrame,
                             numHashes: Int, bands: Int,
                             thresholdPct: Int): DataFrame =
    exactVerify(candidatesFromSigs(sigs, numHashes, bands), ds,
      thresholdPct)

  /** Shared verify stage of the candidate-generation family: exact
    * Jaccard computed ONLY on (doc_a, doc_b) candidate pairs by joining
    * them back to the cached (doc_id, shingle) set table `ds`. Cost is
    * |candidates| · avg-shingles, never Σ df² — whichever generator
    * produced the candidates (LSH bands, prefix filter, …).
    */
  private def exactVerify(cands: DataFrame, ds: DataFrame,
                          thresholdPct: Int): DataFrame = {
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val common = cands
      .join(ds.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    thresholdAndSize(common, sizes, thresholdPct)
  }

  /** Prefix-filtering similarity join (All-Pairs / PPJoin shape,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08) — the EXACT set-similarity
    * join that never enumerates all pairs: under a global token order
    * (df ascending = rarest first, shingle-hash tiebreak), any pair with
    * Jaccard ≥ t/100 MUST share a token inside both docs' first
    * |d| − ⌈t·|d|⌉ + 1 ordered shingles. Proof: the smallest common
    * shingle w (in the global order) outside doc x's prefix would leave
    * ≤ ⌈t·|x|⌉ − 1 < t·|x| ≤ |x∩y| common shingles — contradiction; so
    * w sits in BOTH prefixes and the prefix self-join finds the pair.
    * The DuckDB oracle computes the naive all-pairs join, so the hash
    * gate IS the completeness theorem checked end-to-end.
    *
    * Unlike [[jaccardPairs]] there is NO df cap — output is the full
    * exact answer (this query is also the ground truth [[lshRecall]]
    * grades LSH against).
    *
    * 100 TB posture: the candidate join touches only PREFIX tokens,
    * and the df-ascending order systematically pushes common shingles
    * out of prefixes — posting lists that explode in the naive join
    * (stopword shingles) are exactly the ones prefixes exclude. The
    * PPJoin length filter (100·min ≥ t·max) prunes cross-size pairs
    * before the distinct. Work beyond that is candidate-bounded
    * verify, shared with the LSH path. One Window per doc (doc-keyed,
    * bounded by per-doc shingle count); df table is vocab-bounded.
    */
  def prefixFilterPairs(docs: DataFrame, id: String, text: String,
                        k: Int = 3, thresholdPct: Int = 60): DataFrame = {
    // ds feeds the df-count, the prefix projection, and both verify
    // sides — lazy cache fill, per-partition get-or-compute dedup.
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    prefixPairsFromDs(ds, thresholdPct)
  }

  /** Prefix-filter join over a PREcomputed cached shingle table. */
  private def prefixPairsFromDs(ds: DataFrame,
                                thresholdPct: Int): DataFrame = {
    val dfCounts = ds.groupBy("shingle").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
    val ranked = ds.join(dfCounts, "shingle")
      .select(col("doc_id"), col("shingle"),
        row_number().over(byRarity).as("rn"),
        count(lit(1)).over(Window.partitionBy("doc_id")).as("sz"))
    // prefix length |d| − ⌈t·|d|⌉ + 1, integer ceiling
    val prefix = ranked
      .filter(col("rn") <=
        expr(s"sz - ((sz * $thresholdPct + 99) div 100) + 1"))
      .select(col("doc_id"), col("shingle"), col("sz"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id") &&
          lit(100) * least(col("a.sz"), col("b.sz")) >=
            lit(thresholdPct) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    exactVerify(cands, ds, thresholdPct)
  }

  /** LSH banding tuning curve: for each (bands, rows-per-band) split
    * of the same numHashes-slot signatures, the candidate volume and
    * how many candidates survive exact verification — the empirical
    * S-curve behind the banding choice (more bands ⇒ higher recall
    * AND more false candidates; the collision probability
    * 1−(1−J^r)^b is theory, this is the measured trade on YOUR
    * corpus). Signatures and shingle sets are each computed ONCE and
    * shared across every configuration; per config the work is one
    * band self-join plus candidate-bounded verify.
    */
  def lshTuning(docs: DataFrame, id: String, text: String,
                k: Int = 3, numHashes: Int = 16,
                bandConfigs: Seq[Int] = Seq(1, 2, 4, 8, 16),
                thresholdPct: Int = 60): DataFrame = {
    require(bandConfigs.forall(b => numHashes % b == 0),
      s"every band count must divide numHashes=$numHashes")
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    // Nested-split structure: a pair colliding on an r-slot band agrees
    // on each of its slots, so candidates(b) ⊆ candidates(numHashes)
    // for every b dividing numHashes. ONE finest-grain band join
    // (bands = numHashes, one slot each) therefore yields the superset;
    // each config's membership is then pure IN-ROW bit math over the
    // per-pair slot-agreement mask, and exact verification runs ONCE
    // over the superset — instead of |configs| joins + verifies.
    val cands = candidatesFromSigs(sigs, numHashes, numHashes)
    val sa = sigs.toDF(
      "doc_a" +: (0 until numHashes).map(i => s"a$i"): _*)
    val sb = sigs.toDF(
      "doc_b" +: (0 until numHashes).map(i => s"b$i"): _*)
    val mask = (0 until numHashes).map(i =>
      when(col(s"a$i") === col(s"b$i"), lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    val configFlags = bandConfigs.map { b =>
      val r = numHashes / b
      val bandFull = (0 until b).map { j =>
        val bm = ((1L << r) - 1) << (j * r)
        (col("mask").bitwiseAND(lit(bm)) === lit(bm)).cast("long")
      }.reduce(_ + _)
      (bandFull > 0).cast("long").as(s"in_$b")
    }
    val flagged = cands
      .join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a") +: col("doc_b") +: Seq(mask.as("mask")): _*)
      .select(col("doc_a") +: col("doc_b") +: configFlags: _*)
    val verified = exactVerify(cands, ds, thresholdPct)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("ok"))
    val one = flagged.join(verified, Seq("doc_a", "doc_b"), "left")
      .agg(
        bandConfigs.flatMap(b => Seq(
          sum(col(s"in_$b")).as(s"cand_$b"),
          sum(col(s"in_$b") * coalesce(col("ok"), lit(0L)))
            .as(s"ver_$b"))).head,
        bandConfigs.flatMap(b => Seq(
          sum(col(s"in_$b")).as(s"cand_$b"),
          sum(col(s"in_$b") * coalesce(col("ok"), lit(0L)))
            .as(s"ver_$b"))).tail: _*)
    val rows = bandConfigs.map(b =>
      s"CAST(${b.toLong} AS BIGINT), CAST(${(numHashes / b).toLong} AS BIGINT), " +
        s"coalesce(cand_$b, CAST(0 AS BIGINT)), " +
        s"coalesce(ver_$b, CAST(0 AS BIGINT))").mkString(", ")
    one.selectExpr(s"stack(${bandConfigs.size}, $rows) AS " +
      "(bands, rows_per_band, n_candidates, n_verified)")
  }

  /** Recall of the LSH-then-verify scale path against exact ground
    * truth — the measure-don't-guess number for the DEDUP family, the
    * way q_ann_recall is for ANN: one row
    * (n_true, n_found, recall_pct). Truth = [[prefixFilterPairs]]
    * (exact, uncapped); found = [[lshVerifiedPairs]] (⊆ truth by
    * construction, since verify applies the same threshold to the same
    * shingle sets). At 100 TB this runs on a sampled slice exactly as
    * here — recall is a property of the banding scheme (b, r, t), not
    * of corpus size.
    */
  def lshRecall(docs: DataFrame, id: String, text: String,
                k: Int = 3, numHashes: Int = 16, bands: Int = 4,
                thresholdPct: Int = 60): DataFrame = {
    // ONE shingle cache feeds both the truth side (prefix filter) and
    // the LSH side's verify joins — the two pair generators differ
    // only above the shared (doc_id, shingle) table.
    val ds = CacheRegistry.register(
      hashedShingles(docs, id, text, k)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sigs = CacheRegistry.register(
      minhashSignatures(docs, id, text, k, numHashes)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val truth = prefixPairsFromDs(ds, thresholdPct)
    val found = lshPairsFromDs(ds, sigs, numHashes, bands, thresholdPct)
      .select(col("doc_a"), col("doc_b"), lit(1).as("hit"))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_found"))
      .select(col("n_true"), col("n_found"),
        when(col("n_true") > 0,
          expr("n_found * 100 div n_true")).as("recall_pct"))
  }

  /** Dedup ablation curve: what a near-dup dedup pass at each threshold
    * in `thresholds` would remove — (threshold_pct, n_pairs, n_docs,
    * n_tokens) per threshold, where flagged docs are the LARGER id of
    * each qualifying pair (the standard remove-the-later-doc quick
    * ablation; cluster-exact removal is [[graft.operators.Clusters]]).
    * The pair table is computed ONCE at the loosest threshold via the
    * exact [[prefixFilterPairs]] join, then each rung of the ladder is
    * an integer re-filter of the same (n_common, sz_a, sz_b) rows —
    * the |thresholds|× fan-out touches only the tiny pair table, never
    * the corpus. Thresholds absent from the output had zero qualifying
    * pairs (group-after-filter in both engines).
    */
  def dedupAblation(docs: DataFrame, id: String, text: String,
                    k: Int = 3,
                    thresholds: Seq[Int] = Seq(50, 60, 70, 80, 90))
      : DataFrame = {
    val base = prefixFilterPairs(docs, id, text, k, thresholds.min)
    val tokCounts = docs.select(col(id).as("doc_id"),
      size(TextFunctions.tokens(lower(col(text)))).as("n_toks"))
    val lad = base.select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a"), col("sz_b"),
        explode(array(thresholds.map(t => lit(t)): _*))
          .as("threshold_pct"))
      .filter(col("n_common") * 100 >=
        col("threshold_pct") * (col("sz_a") + col("sz_b") - col("n_common")))
    val pairsPerT = lad.groupBy("threshold_pct")
      .agg(count(lit(1)).as("n_pairs"))
    val docsPerT = lad.select("threshold_pct", "doc_b").distinct()
      .join(tokCounts, col("doc_b") === col("doc_id"))
      .groupBy("threshold_pct")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))
    pairsPerT.join(docsPerT, Seq("threshold_pct"), "left")
      .select(col("threshold_pct").cast("long"), col("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Longest duplicated-span per doc — the exact-substring-dedup signal
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": long VERBATIM repeats are the highest-value dedup
    * target, and Jaccard over unordered shingle sets can't see run
    * length). A position's k-gram is "duplicated" when it appears in
    * ≥ 2 distinct docs; per doc, the longest run of consecutive
    * duplicated positions is a maximal shared span of
    * run + k − 1 tokens. Output: (doc_id, max_run, max_span) for docs
    * whose longest span reaches minRun consecutive grams.
    *
    * 100 TB posture: the positional gram table is a pure projection
    * (Generate, no shuffle) feeding ONE groupBy(gram) for the
    * distinct-doc count and one join back on the 8-byte gram hash; the
    * islands window is doc-keyed and bounded by per-doc length. The
    * gram table is shared across both consumers via a registered cache.
    */
  def dupSpans(docs: DataFrame, id: String, text: String,
               k: Int = 3, minRun: Int = 2): DataFrame = {
    val grams = CacheRegistry.register(
      docs.select(col(id).as("doc_id"),
          TextFunctions.tokens(lower(col(text))).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"),
          posexplode(TextFunctions.shinglesFromTokens(col("toks"), k)))
        .toDF("doc_id", "pos", "shingle")
        .select(col("doc_id"), col("pos"),
          shingleHash(col("shingle")).as("g"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dupG = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    // islands: consecutive duplicated positions share pos − row_number
    val runs = grams.join(dupG, "g")
      .select(col("doc_id"),
        (col("pos") - row_number().over(byPos)).as("grp"))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
    runs.groupBy("doc_id").agg(max(col("run")).as("max_run"))
      .filter(col("max_run") >= minRun)
      .select(col("doc_id"), col("max_run"),
        (col("max_run") + lit(k - 1)).as("max_span"))
  }

  /** Exact token coverage of duplicated spans per doc — the REMOVAL
    * volume an exact-substring dedup pass would excise, where
    * [[dupSpans]] reports only the longest run. Each duplicated k-gram
    * at position p covers tokens [p, p+k−1]; the union length of those
    * intervals per doc reduces to ONE lag window via the identity
    * Σ min(k, pᵢ − pᵢ₋₁) (first gram contributes k): a new gram adds
    * exactly its gap's worth of fresh tokens, capped at k. No interval
    * merging, no second pass. Output: (doc_id, n_tokens,
    * dup_span_tokens, coverage_bp).
    */
  def dupSpanCoverage(docs: DataFrame, id: String, text: String,
                      k: Int = 3): DataFrame = {
    val grams = CacheRegistry.register(
      docs.select(col(id).as("doc_id"),
          TextFunctions.tokens(lower(col(text))).as("toks"))
        .filter(size(col("toks")) >= k)
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          posexplode(TextFunctions.shinglesFromTokens(col("toks"), k)))
        .toDF("doc_id", "n_tokens", "pos", "shingle")
        .select(col("doc_id"), col("n_tokens"), col("pos"),
          shingleHash(col("shingle")).as("g"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val dupG = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dupG, "g")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(least(lit(k),
          col("pos") - lag(col("pos"), 1).over(byPos)), lit(k))
          .as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).cast("long").as("n_tokens"),
        sum(col("c")).as("dup_span_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("dup_span_tokens"),
        expr("dup_span_tokens * 10000 div n_tokens").as("coverage_bp"))
  }

  /** Attach both docs' set sizes to the pair common-counts. */
  private def withSizes(common: DataFrame, sizes: DataFrame): DataFrame =
    common
      .join(sizes.withColumnRenamed("sz", "sz_a"),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.withColumnRenamed("sz", "sz_b"),
        col("doc_b") === col("doc_id")).drop("doc_id")

  /** Attach set sizes to common-counts and apply the integer Jaccard
    * threshold: 100·|A∩B| ≥ t·(|A|+|B|−|A∩B|).
    */
  private def thresholdAndSize(common: DataFrame, sizes: DataFrame,
                               thresholdPct: Int): DataFrame =
    withSizes(common, sizes)
      .filter(col("n_common") * 100 >=
        lit(thresholdPct) * (col("sz_a") + col("sz_b") - col("n_common")))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sz_a"), col("sz_b"))
}
