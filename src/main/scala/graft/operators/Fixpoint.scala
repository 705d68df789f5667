package graft.operators

import scala.util.DynamicVariable

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one owner of lineage truncation and of the driver-or-distributed
  * choice for the iterative operators ([[Clusters]], [[Bpe]],
  * [[Hierarchy]], [[KMeans]], [[DedupPlan]] and the logit descent).
  *
  * '''Bounded lineage.''' A loop whose round reads its own previous
  * output grows its logical plan by one round per iteration, and a round
  * that references the state twice (a self-join, a join plus a union)
  * doubles it: 2^k leaf scans by round k. A table that several plan
  * positions read (a graph's canonical edges, a dedup pair list) drags
  * its whole upstream pipeline into each of them. Analysis and
  * optimization re-walk that plan for every job, so driver time grows
  * with the round count or the reference count, not with the data: the
  * round-12 graph probe measured 316 s of plan work for a 240-pair CC
  * fixpoint at ×100 before truncation and ~3 s after (PERF.md §Round 12),
  * and an unchecked PageRank loop planned 122 exchanges. Persisting
  * caches the data but keeps the plan, so the plan must be cut.
  *
  * '''Why parquet, not `localCheckpoint`.''' [[truncate]] writes the
  * frame to a scratch slot and reads it back, so the next round starts
  * from a flat scan. A local checkpoint would cut the plan too, but it
  * leaves persisted RDD blocks that no lifecycle owns (neither
  * [[graft.CacheRegistry]] nor a scratch slot's deletion can free them)
  * and it is lost with its executor. A parquet slot lives under a
  * directory from [[graft.CacheRegistry.scratch]], deleted with the
  * caches at [[graft.Graft.releaseCaches]]; on a cluster
  * `SPARK_GRAFT_STAGE_DIR` puts it on shared storage, the same
  * requirement as RDD checkpointing. The read-back names the
  * written frame's own schema, so it runs no schema-inference job: a
  * truncation is exactly one job, and metrics observed on it
  * ([[truncateObserving]]) cost no second scan.
  *
  * A table that is bounded by construction (a centroid set) is cut
  * instead by [[onDriver]]: collected once and returned as a local
  * relation, with no files at all.
  *
  * '''The driver budget.''' Below a size, an iterative operator runs an
  * exact driver mirror of its rounds over one collect instead of
  * O(rounds) distributed jobs whose fixed cost dominates at that size.
  * [[fitsDriver]] makes that choice from an estimate of the collected
  * form's bytes against one budget: a fixed share of this JVM's maximum
  * heap. Each caller states its per-row cost next to its constant.
  */
object Fixpoint {

  /** Write `df` to `dir` and read it back under its own schema. */
  def truncate(df: DataFrame, dir: String): DataFrame =
    truncateObserving(df, dir)._1

  /** [[truncate]] with `metrics` observed on the write job; returns the
    * read-back frame and the observed values by alias.
    */
  def truncateObserving(df: DataFrame, dir: String, metrics: Column*)
      : (DataFrame, Map[String, Any]) = {
    val obs = if (metrics.isEmpty) None else Some(Observation())
    obs.fold(df)(df.observe(_, metrics.head, metrics.tail: _*))
      .write.mode("overwrite").parquet(dir)
    (df.sparkSession.read.schema(df.schema).parquet(dir),
      obs.fold(Map.empty[String, Any])(_.get))
  }

  /** A loop's state slots under `dir`: round `i` is truncated into
    * `<prefix>_<i>`, then the slot the previous call wrote is deleted,
    * since nothing reads it once the new slot is written.
    */
  final class Rolling(dir: String, prefix: String) {
    private var dropLast: () => Unit = () => ()

    def apply(df: DataFrame, round: Int): DataFrame = observing(df, round)._1

    def observing(df: DataFrame, round: Int, metrics: Column*)
        : (DataFrame, Map[String, Any]) = {
      val slot = s"$dir/${prefix}_$round"
      val out = truncateObserving(df, slot, metrics: _*)
      dropLast()
      dropLast = () => graft.StageDirs.deleteRecursively(slot)
      out
    }

    /** Delete the last slot, once the loop's result no longer reads it. */
    def close(): Unit = { dropLast(); dropLast = () => () }
  }

  /** Collect a bounded table and return it as a local relation. The
    * caller guarantees the bound (a centroid set: C·dim floats, which
    * every downstream step broadcasts anyway).
    */
  def onDriver(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Share of the maximum heap that one driver mirror may fill with its
    * collected form. The collect also holds Spark's serialized and
    * decoded copies while it runs, and the mirror builds per-node maps
    * over the result, so the measured collected form gets an eighth.
    */
  private val HEAP_SHARE = 8L

  private val budget = new DynamicVariable[Option[Long]](None)

  /** Bytes a driver mirror may collect: `maxMemory / 8`, unless scoped. */
  private def driverBudget: Long =
    budget.value.getOrElse(Runtime.getRuntime.maxMemory / HEAP_SHARE)

  /** Does a non-empty table of `rows` rows, each `bytesPerRow` once
    * collected, fit the driver budget?
    */
  def fitsDriver(rows: Long, bytesPerRow: Long): Boolean =
    rows > 0 && rows <= driverBudget / bytesPerRow

  /** Run `body` with the driver budget fixed at `bytes` on this thread
    * (0 forces every distributed path). Specs use it to compare a
    * mirror with its distributed loop.
    */
  private[graft] def withDriverBudget[T](bytes: Long)(body: => T): T =
    budget.withValue(Some(bytes))(body)
}
