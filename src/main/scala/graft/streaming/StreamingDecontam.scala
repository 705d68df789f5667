package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BloomPrune, Curation, Dedup}

/** Contamination firewall at INGEST — benchmark decontamination
  * (the q_decontaminate semantics) served on a document stream: the
  * held-out/eval shingle set is indexed ONCE offline, and each
  * arriving document's shingles are checked against it inside the
  * micro-batch. The emitted (doc, test-doc, shingle) hits are exact:
  * the bloom prefilter only prunes (false positives die in the exact
  * join, false negatives are impossible), so a rollup over the stream
  * equals the batch decontamination join row for row.
  *
  * Two-tier check, both stateless:
  *   1. bloom literal probe MAP-SIDE ([[BloomPrune]] — the sketch of
  *      the held shingle set rides the plan as a binary literal), so
  *      the overwhelmingly-clean traffic never reaches the join;
  *   2. stream-static broadcast equi-join with the exact held shingle
  *      table for the survivors.
  *
  * 100 TB posture: the held side is the EVAL set — bounded by
  * construction (a 10M-shingle benchmark at 1 % fpp is a ~12 MB bloom
  * + a broadcastable exact table), while the unbounded side is the
  * stream, touched one micro-batch at a time with no state store:
  * admission cost is O(batch shingles), with only the bloom-surviving
  * fraction (matches + fpp) paying the join.
  *
  * Reference anchor: the reference has no eval hygiene at all; this is
  * the ingest-time form of the decontamination the training-data tier
  * runs in batch (`Curation.scala` q_decontaminate /
  * q_bloom_decontaminate — same shingle width, same hash, same ground
  * truth SQL).
  */
object StreamingDecontam {

  /** The static held-out index a batch job publishes: the eval split's
    * hashed k-shingles (distinct per doc), the bloom literal over
    * them, and the shingle width `k` itself — carried IN the index so
    * the stream side can never probe with a different width (a k
    * mismatch would silently report every contaminated doc as clean).
    */
  case class HeldIndex(shingles: DataFrame, bloom: Array[Byte], k: Int)

  def heldIndex(held: DataFrame, k: Int = Curation.DECON_K,
                fpp: Double = 0.03): HeldIndex = {
    val sh = graft.CacheRegistry.persist(
      Dedup.docShingles(held, "doc_id", "text", k)
        .select(col("doc_id").as("test_id"),
          Dedup.shingleHash(col("shingle")).as("shingle")))
    HeldIndex(sh,
      BloomPrune.buildBloom(sh, col("shingle"), sh.count(), fpp), k)
  }

  /** (doc_id, test_id, shingle) per exact contamination hit of an
    * arriving document against the held index (shingled at the
    * index's own width). `docs` may be a stream (the intended use) or
    * a batch frame — the plan is identical.
    */
  def contaminationStream(docs: DataFrame, idx: HeldIndex): DataFrame =
    Dedup.docShingles(docs, "doc_id", "text", idx.k)
      .select(col("doc_id"),
        Dedup.shingleHash(col("shingle")).as("shingle"))
      .filter(BloomPrune.mightContain(idx.bloom, col("shingle")))
      .join(broadcast(idx.shingles), "shingle")
      .select(col("doc_id"), col("test_id"), col("shingle"))
}
