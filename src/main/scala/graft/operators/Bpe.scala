package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.functions.TextFunctions

/** Byte-pair-encoding merge training ON the engine — the tokenizer-
  * construction step of an LLM data pipeline (Sennrich et al., ACL'16
  * shape), run over the corpus the engine already holds instead of a
  * separate single-node tool. Units here are the corpus' whitespace
  * tokens (the same tokenization every text query binds to), so a
  * learned merge is a multi-token unit; the algorithm is
  * representation-agnostic — on character-split input it IS subword
  * BPE.
  *
  * Each round is two corpus-shaped jobs, both scale-safe:
  * 1. adjacent-pair counts — one map-side-combinable hash aggregate
  *    over in-row zipped (tokenᵢ, tokenᵢ₊₁) pairs (the q_bpe_pairs
  *    shape);
  * 2. the argmax pair — `orderBy(...).limit(1)`, which Spark executes
  *    as TakeOrdered (per-partition top-1 partials, never a global
  *    sort), with (count DESC, left ASC, right ASC) making the pick
  *    deterministic under ties;
  * then the merge is applied corpus-wide as an IN-ROW left-to-right
  * fold (`aggregate` HOF — greedy first-occurrence semantics, exactly
  * the BPE re-tokenization rule) and the token table moves one
  * PERSISTED generation forward (the next round's count job doubles
  * as the cache fill). Lineage is still truncated through [[Fixpoint]]
  * — the plan grows one nested fold per round otherwise — but only
  * every TRUNC rounds, so the small-merge trainer gates never pay a
  * write job.
  *
  * 100 TB posture: cost is O(nMerges · corpus) by construction — the
  * standard contract is to train on a bounded sampled slice (tokenizer
  * training saturates in the low-GB range; [[Curation.hashBucket]] is
  * the sampling rule) and APPLY the learned table everywhere via
  * [[applyMerges]], which is nMerges nested in-row folds: zero
  * shuffle, no state, stream-safe.
  */
object Bpe {

  /** One merge (left, right) applied greedy-left-to-right to a token
    * array, as a single fold: append each token unless it completes
    * the pair with the accumulator's last element, in which case the
    * last element is replaced by the merged unit. Greedy first-wins on
    * overlaps ([a,a,a] with merge (a,a) → [{a a}, a]) because the
    * freshly merged unit no longer equals `left`. Merged units join
    * with a space, so they compose with q_bpe_pairs' pair naming and
    * later rounds can merge merged units.
    */
  def applyMerge(toks: Column, left: String, right: String): Column = {
    val merged = left + " " + right
    aggregate(
      toks,
      array().cast(ArrayType(StringType)),
      (acc, t) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(left) && t === lit(right),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
          .otherwise(concat(acc, array(t))))
  }

  /** A whole merge TABLE applied in rank order — nested folds, pure
    * projection. `merges` must be rank-ascending (the order train
    * learned them in; applying out of order is a different tokenizer).
    */
  def applyMerges(toks: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toks) { case (c, (l, r)) => applyMerge(c, l, r) }

  /** Train `nMerges` BPE merges over `docs(idCol, textCol)`.
    *
    * @return (rank, left, right, n_occurrences): rank 1 = first merge
    *         learned; n_occurrences = the pair count at pick time
    *         (before application). Stops early when no pair occurs
    *         twice — merging a count-1 pair learns noise.
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
            nMerges: Int): DataFrame = {
    val spark = docs.sparkSession

    // r17 (guide §1.2 fixed cost per round): iteration state rides a
    // PERSISTED chain — each round's pair count doubles as the cache
    // fill for that round's token table, so no round pays the old
    // parquet-write job + commit + re-read. A round still costs about
    // three jobs: adaptive execution submits the pair count's shuffle
    // stage and the top-1 stage as jobs of their own (53 jobs for 17
    // merges on sf0.001 documents, two of them truncation writes;
    // BpeSpec bounds it). The fold chain grows the logical plan by one
    // applyMerge per round (physical reads stay on the previous round's
    // InMemoryRelation via cache substitution), so lineage is still
    // truncated through the parquet scratch — but only every TRUNC
    // rounds instead of every round; the trainer gates (≤ 8 merges)
    // never pay a write.
    val TRUNC = 8
    val slots = new Fixpoint.Rolling(graft.CacheRegistry.scratch("bpe"), "toks")
    def persisted(df: DataFrame): DataFrame =
      graft.CacheRegistry.register(df.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    var toks = persisted(
      docs.select(col(idCol).cast("long").as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("toks")))

    val learned = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, Long)]
    var rank = 0
    var exhausted = false
    // the round-(k−1) cache may only be freed once round k's count job
    // has materialized round k's table FROM it — freed at the top of
    // the next loop pass, after that collect
    var prevToks: Option[DataFrame] = None
    while (rank < nMerges && !exhausted) {
      // in-row adjacent pairs: zip the array with its own tail — the
      // explode is the only row-multiplying step and the aggregate
      // combines map-side, so the shuffle carries pair partials only
      val top = toks
        .filter(size(col("toks")) >= 2)
        .select(explode(arrays_zip(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
        .groupBy(col("p.0").as("l"), col("p.1").as("r"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1)
        .collect()
      // this collect materialized `toks`; its parent cache is now dead
      prevToks.foreach(_.unpersist(blocking = false))
      prevToks = None
      if (top.isEmpty || top(0).getLong(2) < 2) exhausted = true
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        rank += 1
        learned += ((rank.toLong, l, r, n))
        prevToks = Some(toks)
        val next = toks.select(col("doc_id"),
          applyMerge(col("toks"), l, r).as("toks"))
        // lineage truncation fires only at the TRUNC cadence (and
        // never for the final round — consumed once); the write job
        // materializes eagerly, so its parent cache can be freed here
        if (rank % TRUNC == 0 && rank < nMerges) {
          toks = persisted(slots(next, rank))
          prevToks.foreach(_.unpersist(blocking = false))
          prevToks = None
        } else toks = persisted(next)
      }
    }
    slots.close()

    import spark.implicits._
    learned.toSeq.toDF("rank", "left", "right", "n_occurrences")
  }
}
