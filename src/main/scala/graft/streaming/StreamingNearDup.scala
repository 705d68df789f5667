package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Streaming near-duplicate detection against a STATIC corpus — the
  * production ingestion pattern for training data: documents arrive as
  * a stream, and each incoming doc must be checked against the
  * already-curated corpus before admission (is this new page a rewrite
  * of something we already hold?). Batch re-clustering per arrival is
  * the O(n) ingest anti-pattern this operator replaces.
  *
  * Shape: the corpus is indexed ONCE as banded MinHash buckets
  * ([[corpusIndex]]: (band, bkey) → doc), exactly the
  * `Dedup.minhashCandidatePairs` arithmetic (shared via
  * [[Dedup.bandKeys]], so the batch and stream banding can never
  * drift). The stream side computes each incoming doc's signature
  * IN-ROW (the same zero-shuffle `minhash_affine` projection), explodes
  * its band keys, and equi-joins the static index — a stream-static
  * join, stateless by construction. Verification is ALSO in-row: both
  * sides carry their (distinct, 60-bit-hashed) shingle SETS, so exact
  * Jaccard is `size(array_intersect(...))` per candidate — no shuffle,
  * no state store, no second pass over either corpus.
  *
  * Emission contract: one row PER MATCHING BAND of each verified pair
  * (multiplicity = band collisions, a pure function of the two
  * signatures — deterministic, and the gate rollup counts it as
  * `n_band_hits`). A production deployment that wants exactly-one-row
  * per pair adds `dropDuplicatesWithinWatermark` on
  * (doc_id, match_id) over an arrival-time watermark; the fixture keeps
  * the transform stateless so the gate exercises pure
  * candidate-generation + verify semantics.
  *
  * 100 TB posture: the static band index carries ONLY (id, band,
  * bkey) — bucket it on write and the per-micro-batch join is
  * co-located; incoming micro-batches shuffle only their own band
  * rows (batch-sized, never corpus-sized). Corpus shingle sets live
  * in a separate id-keyed payload table attached per CANDIDATE row
  * after the band join (guide §2.3: the join decides, the payload
  * moves once). State: zero.
  *
  * Constants mirror the batch LSH family (TextQueries/Dedup defaults):
  * k = 3 word shingles, 16 hashes, 4 bands, Jaccard ≥ 60 %.
  */
object StreamingNearDup {

  private[graft] val K = 3
  private[graft] val NUM_HASHES = 16
  private[graft] val BANDS = 4
  private[graft] val THRESH = 60

  /** (doc_id, shset, sz, mh0..mh{n-1}) in ONE shuffle-free projection:
    * distinct word-shingle strings → 60-bit hashed shingle SET (the
    * in-row verify operand) + mod-p base hashes → fused native MinHash.
    * Works identically on a batch or streaming DataFrame — that is the
    * point: the index and the stream run the same arithmetic.
    */
  private def prepared(docs: DataFrame,
                       carry: Seq[String] = Nil): DataFrame = {
    val c = carry.map(col)
    docs
      .select(Seq(col("doc_id"),
        TextFunctions.tokens(lower(col("text"))).as("toks")) ++ c: _*)
      .filter(size(col("toks")) >= K)
      .select(Seq(col("doc_id"),
        array_distinct(TextFunctions.shinglesFromTokens(col("toks"), K))
          .as("shstr")) ++ c: _*)
      .select(Seq(col("doc_id"),
        array_distinct(transform(col("shstr"),
          s => Dedup.shingleHash(s))).as("shset"),
        transform(col("shstr"),
          s => Dedup.hash32(0, s) % Dedup.P).as("hm")) ++ c: _*)
      // sizes as LONG: the verify arithmetic multiplies counts by 10⁴,
      // and size() returns Int — a ≥215k-shingle document would wrap
      // 32-bit under non-ANSI arithmetic while the BIGINT oracle
      // doesn't (review, round 14)
      .select(Seq(col("doc_id"), col("shset"),
        size(col("shset")).cast("long").as("sz"),
        call_function("minhash_affine", col("hm"), lit(NUM_HASHES))
          .as("sig")) ++ c: _*)
      .select(Seq(col("doc_id"), col("shset"), col("sz")) ++
        (0 until NUM_HASHES).map(i =>
          element_at(col("sig"), i + 1).as(s"mh$i")) ++ c: _*)
  }

  /** One (id-renamed) banded row per (doc, band). */
  private def banded(p: DataFrame, idAs: String,
                     carry: Seq[String] = Nil): DataFrame =
    p.select(Seq(col("doc_id").as(idAs),
        col("shset").as(s"${idAs}_shset"), col("sz").as(s"${idAs}_sz")) ++
        carry.map(col) :+
        posexplode(Dedup.bandKeys(NUM_HASHES, BANDS)): _*)
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")

  /** The static corpus index, SPLIT into the two shapes the join
    * actually needs (r17, guide §2.3 "shuffle keys and metadata, not
    * payloads"): `bands` carries ONLY (match_id, band, bkey) — the
    * equi-join side, 3 fixed-width columns, broadcast-sized at any
    * candidate volume the banding admits — and `payload` carries each
    * corpus doc's verify operands (shset, sz) exactly ONCE, attached
    * by id AFTER candidate generation. The old single banded table
    * shipped every corpus shingle SET 4× (once per band row) through
    * the join's sort/shuffle; measured on the gate fixture that was
    * the dominant addBatch term (r17: 10.1 s, PERF.md §Retired probe
    * mains). Both ride ONE persisted `prepared` pass, so the corpus is
    * tokenized/hashed once, same as before.
    */
  case class CorpusIndex(bands: DataFrame, payload: DataFrame)

  def corpusIndex(corpus: DataFrame): CorpusIndex = {
    val prep = graft.CacheRegistry.persist(
      prepared(corpus.select(col("doc_id"), col("text"))))
    val bands = banded(prep, "match_id")
      .select(col("match_id"), col("band"), col("bkey"))
    val payload = prep.select(col("doc_id").as("match_id"),
      col("shset").as("match_id_shset"), col("sz").as("match_id_sz"))
    CorpusIndex(bands, payload)
  }

  /** The stateless stream transform: banded candidates against the
    * static index, in-row exact-Jaccard verify, threshold at
    * [[THRESH]] %. Output columns: (doc_id, match_id, band, n_common,
    * sz_in, sz_match, jaccard_bp) — one row per verified (pair, band).
    */
  def neardupStream(docsStream: DataFrame,
                    index: CorpusIndex): DataFrame =
    verified(banded(prepared(docsStream), "doc_id"), index)

  /** [[neardupStream]] with the PRODUCTION exactly-once-per-pair
    * emission: the incoming stream carries an arrival-time column
    * (`tsColName`), and verified candidates are deduplicated with
    * `dropDuplicatesWithinWatermark` on (doc_id, match_id) — a pair
    * colliding in several bands emits ONCE, with state bounded by the
    * watermark horizon instead of all history (the contract plain
    * `dropDuplicates` can't give an unbounded stream). The base
    * variant stays the gate surface because its band multiplicity is
    * deterministic and hash-checkable; this one is the shape a real
    * deployment wires, pinned by StreamingSpec.
    */
  def neardupStreamExactlyOnce(docsStream: DataFrame, index: CorpusIndex,
                               tsColName: String,
                               delay: String): DataFrame =
    verified(
        banded(prepared(docsStream, carry = Seq(tsColName)), "doc_id",
          carry = Seq(tsColName)),
        index, carry = Seq(tsColName))
      .withWatermark(tsColName, delay)
      .dropDuplicatesWithinWatermark("doc_id", "match_id")
      // band identifies WHICH duplicate survived — arbitrary under the
      // dedup, so it is not part of this variant's output contract
      .drop(tsColName, "band")

  /** Shared band-join + in-row exact-Jaccard verify stage: candidate
    * generation runs on the SLIM band index (ids + keys only), the
    * corpus verify operands join in by id afterwards — each matched
    * doc's shingle set crosses the wire once per candidate row, never
    * once per banded index row.
    */
  private def verified(in: DataFrame, index: CorpusIndex,
                       carry: Seq[String] = Nil): DataFrame = {
    val union: Column =
      col("doc_id_sz") + col("match_id_sz") - col("n_common")
    in.join(index.bands, Seq("band", "bkey"))
      .filter(col("doc_id") =!= col("match_id"))
      .join(index.payload, Seq("match_id"))
      .withColumn("n_common",
        size(array_intersect(col("doc_id_shset"), col("match_id_shset")))
          .cast("long"))
      .filter(col("n_common") * 100 >= lit(THRESH) * union)
      .select(Seq(col("doc_id"), col("match_id"), col("band"),
        col("n_common"),
        col("doc_id_sz").as("sz_in"), col("match_id_sz").as("sz_match"),
        expr("n_common * 10000 div (doc_id_sz + match_id_sz - n_common)")
          .as("jaccard_bp")) ++ carry.map(col): _*)
  }
}
