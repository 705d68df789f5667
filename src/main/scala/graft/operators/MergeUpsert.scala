package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge-upsert: align two tables by column name (schema evolution
  * allowed), then keep one row per key with a DETERMINISTIC survivor.
  *
  * Reference semantics: src/utils/bucket.py:63-89
  * (`existing.unionByName(new, allowMissingColumns=True)
  *   .dropDuplicates(dedup_keys)` then overwrite). Two deliberate fixes
  * over the reference (SURVEY.md §7.1):
  *   1. `dropDuplicates(subset)` keeps an ARBITRARY row per key; here the
  *      survivor is chosen by an explicit tiebreak ordering (new-rows-win
  *      by default), so the merge is reproducible and oracle-checkable.
  *   2. The reference lazily overwrites the very path it just read
  *      (correctness hazard); [[saveOrUpdate]] materializes to a temp dir
  *      and swaps.
  *
  * Scale notes: a union that fits one scan split
  * ([[VersionedTable.oneSplit]]) is planned as one partition, which the
  * window's clustered distribution accepts as is: the merge runs in one
  * task with no shuffle. Above one split it shuffles once on the dedup
  * keys (window + row_number); the window frame is per-key so skew is
  * bounded by key cardinality. At 100 TB this is the same plan shape a
  * Delta/Iceberg MERGE would lower to when the whole table must be
  * rewritten. The survivors are the same under both plans: the
  * ordering is total.
  */
object MergeUpsert {

  /** Union `existing` and `incoming` by name, keep one row per `keys`.
    * `tiebreak` orders candidate survivors (first row wins). If empty,
    * incoming rows win via an internal priority column.
    *
    * The incoming-wins priority is ALWAYS appended after any user-supplied
    * `tiebreak`, and a full-row hash after that, so the ordering is total
    * up to 64-bit hash collisions and byte-identical rows (which are
    * interchangeable survivors): two rows with the same key and tied
    * tiebreak values (a re-observation with identical ordering columns
    * but changed attributes) would otherwise get an arbitrary row_number
    * winner, breaking the reproducibility contract and q_neo_backfill's
    * arrival-order-free convergence. Each column is hashed to its own
    * non-null term first (a null input leaves xxhash64 at its seed —
    * a stable per-column value; map-bearing columns go through
    * to_json) so null placement and map contents both participate —
    * a single flat xxhash64 over all columns skips null arguments and
    * rejects MapType, which would leave distinguishable rows tied
    * (ADVICE r13).
    */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            tiebreak: Seq[Column] = Nil): DataFrame = {
    // internal column names must not shadow user columns (a user column
    // literally named __merge_priority would be overwritten then dropped)
    def fresh(base: String, taken: Set[String]): String =
      Iterator.from(0)
        .map(i => if (i == 0) base else s"${base}_$i")
        .find(!taken.contains(_)).get
    val taken = (existing.columns ++ incoming.columns).toSet
    val prio = fresh("__merge_priority", taken)
    // existing stays the LEFT operand so the merged column order follows
    // the on-disk table (incoming-only columns append last)
    // one partition when the union fits one scan split: the window's
    // clustered distribution is then met without an exchange
    val unioned = VersionedTable.oneSplit(existing.withColumn(prio, lit(2))
      .unionByName(incoming.withColumn(prio, lit(1)),
        allowMissingColumns = true))
    def containsMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(f => containsMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
      case _ => false
    }
    // per-column terms keep null placement distinguishing: xxhash64 is
    // non-nullable — a null input is SKIPPED and the term is the fixed
    // seed (42), so a null column still contributes a stable,
    // position-preserved value to the outer hash (no coalesce needed;
    // an earlier sentinel wrapper here was unreachable — review r14)
    val hashTerms = unioned.schema.fields
      .filter(_.name != prio)
      .map { f =>
        val c = if (containsMap(f.dataType)) to_json(col(f.name))
                else col(f.name)
        xxhash64(c)
      }.toIndexedSeq
    val rowHash =
      if (hashTerms.nonEmpty) xxhash64(hashTerms: _*) else lit(0L)
    val order = tiebreak ++ Seq(col(prio).asc, rowHash.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val rn = fresh("__merge_rn", taken)
    unioned.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn, prio)
  }

  /** Reference `save_or_update_table`: read existing parquet at `path` if
    * present, merge, write back — as a `retain = 0`
    * [[VersionedTable.merge]], the library's one table commit.
    *
    * The commit writes the new version to a temp sibling and swaps it
    * in, so some complete table version exists on disk at every instant
    * except the rename-to-rename window, and THAT window is recoverable:
    * the next writer on `path` (of any kind) finishes or rolls back the
    * interrupted swap on entry. The reference instead lazily overwrites
    * the path it is still reading (bucket.py:69-87) — a data-loss
    * hazard.
    *
    * This is a parquet-directory stand-in for a Delta/Iceberg
    * transactional commit; those jars are not available offline in this
    * build (BASELINE.md names them as the declared approach), and the
    * swap keeps the same merge plan a MERGE INTO would lower to for a
    * full-table rewrite. The commit-protocol slice it does reproduce:
    * a single-writer lock (concurrent writers on one path fail fast
    * instead of interleaving renames), a monotonic version stamped
    * through the swap, and a last-writer check at commit — see
    * [[DirSwap]].
    */
  def saveOrUpdate(spark: SparkSession, incoming: DataFrame, path: String,
                   keys: Seq[String],
                   tiebreak: Seq[Column] = Nil): Unit =
    VersionedTable(spark, path, retain = 0).merge(incoming, keys, tiebreak)
}
