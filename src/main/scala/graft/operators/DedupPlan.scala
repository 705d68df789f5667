package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.CacheRegistry
import graft.functions.TextFunctions

/** The SHARED dedup composition a production pipeline actually runs —
  * once — with every consumer joining the same persisted intermediates.
  *
  * The oracle-gated queries (q_dup_clusters, q_cluster_survivors,
  * q_golden_record, q_dedup_pipeline) each derive the LSH→verify→CC
  * pipeline INDEPENDENTLY because the correctness gate prices every
  * query cold and standalone. A production run does not: it resolves
  * the pair table and the cluster membership one time and then answers
  * every downstream question — keep/drop list, golden records, removal
  * accounting — as one cheap aggregate each over the persisted member
  * table. This class is that composition (VERDICT r5 #5); the
  * standalone queries stay as the gate surface, and DedupPlanSpec pins
  * that each consumer here matches its standalone twin row-for-row.
  *
  * Ordering contract (from [[Dedup]]): exact dedup runs FIRST and the
  * near-dup tiers see only exact survivors — identical-content clusters
  * would otherwise quadratically inflate every LSH band bucket.
  *
  * 100 TB posture: `pairs` and `members` are corpus-derived but
  * pair/cluster-sized (bounded by true duplication, not corpus size);
  * both persist MEMORY_AND_DISK through [[CacheRegistry]]. The CC
  * fixpoint inside [[Clusters.memberTable]] already truncates lineage
  * through [[Fixpoint]], so the shared plan adds no new iterative-plan
  * blowup. Call [[graft.Graft.releaseCaches]] when done: it drops the
  * caches and deletes the truncations' scratch slots together.
  */
final class DedupPlan private (docs: DataFrame, id: String, text: String,
                               k: Int, numHashes: Int, bands: Int,
                               thresholdPct: Int) {

  /** Content-hash groups: (fp, keep_id, n_dups) — exact tier. */
  lazy val exactGroups: DataFrame =
    CacheRegistry.persist(Dedup.exactGroups(docs, id, text))

  /** One surviving id per identical-content group. */
  lazy val exactSurvivors: DataFrame =
    exactGroups.select(col("keep_id").as(id))

  /** The corpus restricted to exact survivors — survivor-bounded
    * (≤ one row per distinct content) and LINEAGE-TRUNCATED through
    * [[Fixpoint]]: the LSH chain references this table from ~6
    * plan positions (two signature sides, two verify sides, sizes), so
    * a mere persist would cache the data but let every downstream job
    * re-analyze the corpus subtree that many times — the dominant
    * DRIVER cost at rehearsal ×100. After the truncation the whole
    * dedup plan hangs off one flat scan.
    */
  private lazy val survivorDocs: DataFrame =
    truncated(docs.join(exactSurvivors, Seq(id), "left_semi"), "survivors")

  /** LSH-verified near-dup pairs over exact survivors ONLY — the table
    * every downstream consumer shares. The restriction is applied to
    * the INPUT docs (semi-join before shingling), not to the output
    * pairs: band candidates are per-pair collisions and the verify is
    * per-pair exact Jaccard, so removing non-survivor docs changes no
    * surviving pair — but it removes their postings from every band
    * bucket, which is the whole point of the exact-first ordering
    * contract. The round-12 rehearsal (PERF.md) measured the difference
    * at worst-case duplication: filtering pairs AFTER banding cost 575 s
    * at ×100 replication (every bucket held 100× postings → ×10⁴
    * candidates); shingling survivors keeps the LSH tier priced at the
    * deduplicated corpus.
    *
    * The result is LINEAGE-TRUNCATED through a pair-bounded
    * [[Fixpoint]] write, not merely persisted: a persist caches data,
    * but each downstream job would still re-ANALYZE the pair plan,
    * which embeds the corpus subtree ~6× (two signature sides, two
    * verify sides, the semi-join) — measured as ~60 s of pure driver
    * plan work per consumer at rehearsal ×100. After the truncation
    * every consumer starts from a flat scan.
    */
  lazy val pairs: DataFrame =
    truncated(Dedup.lshVerifiedPairs(survivorDocs,
      id, text, k, numHashes, bands, thresholdPct), "pairs")

  /** `df` truncated into a fresh scratch slot, then persisted. */
  private def truncated(df: DataFrame, name: String): DataFrame =
    CacheRegistry.persist(
      Fixpoint.truncate(df, CacheRegistry.scratch(s"dedup_$name")))

  /** (doc_id, cluster_id, cluster_sz) — near-dup pairs closed into
    * connected components, persisted. The one CC fixpoint in the plan.
    */
  lazy val members: DataFrame = CacheRegistry.persist(
    Clusters.memberTable(pairs.select("doc_a", "doc_b")))

  /** Keep/drop list: one survivor per cluster by (quality desc, id
    * asc). `quality` carries (doc_id, quality). One aggregate over
    * [[members]].
    */
  def survivors(quality: DataFrame): DataFrame =
    Clusters.survivorsFromMembers(members, quality)

  /** Golden record per cluster: survivor id plus best-of fields merged
    * across members (max quality, max chars, distinct langs). `attrs`
    * carries (doc_id, quality, n_chars, lang). One aggregate over
    * [[members]] — the q_golden_record shape.
    */
  def goldenRecords(attrs: DataFrame): DataFrame =
    members
      .join(attrs, "doc_id")
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

  /** Ids removed by the near-dup tier (cluster non-minima). */
  def nearRemoved: DataFrame =
    members.filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))

  /** Final kept ids: exact survivors minus near-dup removals. */
  def keepList: DataFrame =
    exactSurvivors.join(
      nearRemoved.select(col("doc_id").as(id)), Seq(id), "left_anti")

  /** One-row removal accounting — the q_dedup_pipeline shape:
    * (n_docs, n_exact_removed, n_near_removed, n_final, tokens_final).
    */
  def summary: DataFrame = {
    val tok = docs.select(col(id),
      TextFunctions.tokenCount(col(text)).cast("long").as("t"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(exactGroups.agg(count(lit(1)).as("n_exact_survivors")))
      .crossJoin(nearRemoved.agg(count(lit(1)).as("n_near_removed")))
      .crossJoin(keepList.join(tok, id)
        .agg(count(lit(1)).as("n_final"),
          coalesce(sum(col("t")), lit(0L)).as("tokens_final")))
      .select(col("n_docs"),
        (col("n_docs") - col("n_exact_survivors")).as("n_exact_removed"),
        col("n_near_removed"), col("n_final"), col("tokens_final"))
  }
}

object DedupPlan {

  /** Build the shared plan over `docs(id, text)` with the same knobs as
    * the standalone operators (defaults = the gate constants). Each of
    * its truncations writes a fresh slot from
    * [[graft.CacheRegistry.scratch]], deleted by
    * [[graft.Graft.releaseCaches]] with the persisted intermediates it
    * backs.
    */
  def apply(docs: DataFrame, id: String = "doc_id",
            text: String = "text", k: Int = 3, numHashes: Int = 16,
            bands: Int = 4, thresholdPct: Int = 60): DedupPlan =
    new DedupPlan(docs, id, text, k, numHashes, bands, thresholdPct)
}
