package graft

import org.apache.spark.sql.SparkSession

import graft.operators.VersionedTable
import graft.sources.{FeedFetcher, Layout}

/** The reference's user surface: a configured session, the daily
  * medallion pipeline, SQL serving over the gold star, versioned tables
  * and the release of what the library persisted.
  *
  *   - [[sessionConf]] / [[newSession]]: every graft session (the
  *     library, Verify, Bench, PlanAudit, the specs, the pipeline CLI)
  *     is built from the one conf list, which registers the graft
  *     extensions (`bounded_topk`, `cosine_sim`, `l2_sq`, among others);
  *   - [[runPipeline]]: ingest → silver → gold for a date range;
  *   - [[serve]]: the gold star as version-pinned SQL views;
  *   - [[table]]: a versioned table (merge, delete, time travel);
  *   - [[releaseCaches]]: drop every cache, view and scratch slot the
  *     operators left for their lazy results.
  *
  * Everything below that surface is called on its operator module, one
  * public name each: `operators.Dedup`, `Clusters`, `TextQueries`,
  * `VectorQueries`, `EventQueries`, `Curation`, `Sketches`, the
  * `streaming` objects and the rest.
  */
object Graft {

  /** The ONE ordered conf list every graft session is built from —
    * the library, Verify, Bench, PlanAudit, the test suite and the
    * pipeline CLI fold exactly this onto their builder, so a plan one of
    * them inspects is the plan the others run:
    *   - streaming state: RocksDB provider + join state format v3
    *     (virtual column families — ONE store per partition for a
    *     stream-stream join instead of four; measured 2.5× on the
    *     stream-stream attribution gates, 7.8 → 3.0 s: PERF.md §Retired
    *     probe mains), with changelog checkpointing (each commit
    *     uploads the batch's changelog, not a full snapshot: cumulative
    *     state-commit time on the dedupe gates −40 %) and no
    *     get-before-put row counting for the numRowsTotal metric the
    *     library never reads. State layout
    *     never changes emitted rows — the stream gates' oracle hashes
    *     pin that;
    *   - UTC session time zone;
    *   - graft extensions (`bounded_topk`, `cosine_sim`, `l2_sq`);
    *   - `nanosAsLong`: nanos-era parquet (TIMESTAMP(NANOS)) reads as
    *     int64 instead of erroring; micros data ignores it, and
    *     [[Tables.epochMs]] handles both physical shapes downstream;
    *   - the InferFiltersFromGenerate exclusion: the rule synthesizes
    *     size(genInput) > 0 filters that pushdown rebuilds below the scan
    *     with the full generator expression substituted in — for
    *     expression-built arrays (k-shingles) an O(tokens²) rebuild per
    *     row on the unparallelized scan, ~10× on those queries (PERF.md
    *     §1). Explode drops empty arrays regardless;
    *   - `canChangeCachedPlanOutputPartitioning=false`: cached plans
    *     expose their output partitioning, so the iterative operators'
    *     persisted repartition(col) rounds stay co-located instead of
    *     AQE re-shuffling every consumer (PlanShapeSpec pins the
    *     one-exchange-per-round shape);
    *   - a generated-class cache of 20000 entries: the default LRU of
    *     100 thrashed both on the driver board (r16: every rep
    *     re-compiled every whole-stage fragment) and on the daily gold
    *     stage (16 Janino compiles per day for plans that are the same
    *     every day). Keyed on generated source text, never data. It is a
    *     STATIC conf read once into a JVM-wide cache, so the first
    *     session of the JVM sets it;
    *   - for LOCAL masters only, shuffle partitions = the worker-thread
    *     count: the stock 200 turns every small shuffle into 200
    *     near-empty tasks (4× on sub-second queries at local[32]). On
    *     cluster masters AQE coalescing and site config own it.
    *
    * Deployment settings are NOT here and stay with the caller:
    * `spark.ui.enabled` (build.sbt's `javaOptions` and perfbench pass
    * `-Dspark.ui.enabled=false`), heap, local dirs and warehouse path.
    */
  def sessionConf(master: String): Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      ("org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider"),
    "spark.sql.streaming.join.stateFormatVersion" -> "3",
    "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.stateStore.rocksdb." +
      "trackTotalNumberOfRows" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "20000"
  ) ++ localWorkerThreads(master).map(n =>
    "spark.sql.shuffle.partitions" -> n.toString)

  /** A session configured the way the library expects: [[sessionConf]]. */
  def newSession(master: String = "local[*]",
                 appName: String = "graft"): SparkSession =
    sessionConf(master).foldLeft(
      SparkSession.builder().master(master).appName(appName)) {
      case (b, (k, v)) => b.config(k, v) }.getOrCreate()

  /** Worker-thread count of a LOCAL master string, None for cluster
    * masters. Covers every form Spark's `local` family accepts — a
    * partial parse here silently mismatches shuffle partitions to the
    * thread count (`local` runs ONE thread; defaulting it to nproc
    * would fan every small shuffle into nproc near-empty tasks):
    *   `local`                → 1
    *   `local[N]`/`local[N,F]` → N      (F = task max-failures)
    *   `local[*]`/`local[*,F]` → nproc
    *   `local-cluster[n,c,m]` → n·c    (n workers × c cores each)
    */
  private[graft] def localWorkerThreads(master: String): Option[Int] = {
    val localRe = """local(?:\[(\d+|\*)(?:,\d+)?\])?""".r
    val clusterRe = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r
    master match {
      case localRe(null) => Some(1)
      case localRe("*") => Some(Runtime.getRuntime.availableProcessors)
      case localRe(n) => Some(n.toInt)
      case clusterRe(n, c) => Some(n.toInt * c.toInt)
      case _ => None
    }
  }

  // ── medallion pipeline (reference parity) ────────────────────────────

  /** Run ingest → silver → gold for a date range. */
  def runPipeline(spark: SparkSession, base: String, startDate: String,
                  endDate: String, fetcher: FeedFetcher): Unit =
    tools.PipelineRunner.runRange(spark, Layout(base),
      tools.PipelineRunner.dateRange(startDate, endDate), fetcher)

  /** Register the gold star schema as SQL views (serving surface).
    *
    * The views answer the version of each table that was live at the
    * last `serve`: each reads an in-memory copy pinned to that version,
    * so a later commit neither breaks nor changes them, and calling
    * `serve` again refreshes the tables whose version moved (an
    * unchanged star launches no Spark job). A table that Spark would
    * read as one scan split (`VersionedTable.oneSplit`) is copied into
    * a single partition, so its queries need no shuffle. `spark.catalog
    * .clearCache()` is the one call that un-pins the views. See
    * [[etl.SilverToGold.registerServingViews]].
    */
  def serve(spark: SparkSession, base: String): Unit =
    etl.SilverToGold.registerServingViews(spark, Layout(base))

  /** Open the versioned table at `path`: merge / delete / optimize /
    * history / time-travel reads over the [[operators.DirSwap]] commit
    * protocol — see [[operators.VersionedTable]].
    */
  def table(spark: SparkSession, path: String,
            retain: Int = 3): VersionedTable =
    VersionedTable(spark, path, retain)

  /** Release every intermediate the library has persisted (signatures,
    * shingle sets, fingerprints) and delete every scratch slot its
    * iterative operators wrote (the graph, BPE and hierarchy
    * fixpoints). Call after materializing the results: they cache shared
    * intermediates and read their scratch parquet until then, and only
    * the caller knows when the last action has run. The release is
    * process-wide. See [[CacheRegistry]] for the contract.
    */
  def releaseCaches(): Unit = CacheRegistry.releaseAll()
}
