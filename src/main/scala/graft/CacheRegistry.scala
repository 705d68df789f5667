package graft

import java.util.UUID

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Tracks every DataFrame the library persists, every stream sink view
  * it registers, and owns the per-call directories the library writes,
  * so callers can release all three deterministically.
  *
  * Operators like [[operators.Dedup.lshVerifiedPairs]] persist shared
  * intermediates (signatures, shingle sets) because several downstream
  * stages of one logical result read them. The returned DataFrames are
  * lazy, so the operator itself cannot know when the caller is done —
  * unpersisting inside the operator would evict the cache before the
  * caller's action ran. The contract instead:
  *
  *   - every `persist` in library code goes through [[register]];
  *   - every per-call directory comes from [[scratch]], one fresh slot
  *     per call, so a result outlives any number of later calls: a
  *     [[operators.Fixpoint]] truncation's parquet, a stream gate's
  *     checkpoint and parquet sink, and the table an ops gate rebuilds;
  *   - every memory-sink view a stream gate drains into is recorded by
  *     [[registerView]] and dropped at release, with the rows it holds;
  *   - callers invoke [[Graft.releaseCaches]] (→ [[releaseAll]]) once
  *     they have materialized what they need;
  *   - a long-lived session that never releases leaks nothing NEW per
  *     call with identical inputs (Spark's CacheManager dedups by plan),
  *     but distinct inputs accumulate — hence the explicit hook.
  *
  * DOCUMENTED EXCEPTION: `localCheckpoint()` blocks (the BFS/TextRank
  * lineage truncations, round 14) live on a SECOND lifecycle this
  * registry does not own — Spark's ContextCleaner unpersists them when
  * the checkpointed RDD becomes unreachable (per-invocation locals, so
  * after each query's DataFrame is dropped). They are invisible to
  * [[releaseAll]] by design: there is no public handle to free them
  * earlier, and holding the Dataset here would only DELAY the GC that
  * releases them.
  *
  * One lifetime for all three: a result that reads a scratch slot, a
  * sink view or a cache stays valid until [[releaseAll]]. The release
  * is process-wide: it drops every caller's caches, views and scratch,
  * so a concurrent caller still reading a result must not be released
  * under.
  *
  * Thread-safe; unpersist is non-blocking (async block cleanup).
  */
object CacheRegistry {

  // keyed by the analyzed plan's semantic hash: repeated calls with
  // identical inputs share one CacheManager entry (plan-deduped by
  // Spark), so keeping one handle per PLAN — not per call — stops the
  // registry itself from growing in a long-lived serving process
  private val handles = mutable.LinkedHashMap.empty[Int, Dataset[_]]

  /** Record a persisted Dataset for later release; returns it unchanged. */
  def register[T](ds: Dataset[T]): Dataset[T] = synchronized {
    handles.put(ds.queryExecution.analyzed.semanticHash(), ds)
    ds
  }

  private val views = mutable.ArrayBuffer.empty[(SparkSession, String)]

  /** Record a temp view of `spark` to drop at [[releaseAll]]; returns
    * its name.
    */
  def registerView(spark: SparkSession, name: String): String =
    synchronized { views += spark -> name; name }

  // one scratch root per JVM: the pid keeps two JVMs on one checkout
  // apart, the random suffix a reused pid
  private val jvmId =
    s"${ProcessHandle.current.pid}_${UUID.randomUUID.toString.take(8)}"

  private[graft] def scratchRoot(base: String): Path =
    new Path(base, s"scratch/$jvmId")

  /** Slot `n` of `tag` under `base`'s scratch root, as a path string. */
  private[graft] def slotPath(base: String, tag: String, n: Long): String =
    new Path(scratchRoot(base), s"${tag}_$n").toString

  private val root = scratchRoot(StageDirs.base)
  private var slots = 0L
  private var rootMarked = false

  /** A fresh scratch slot `<StageDirs.base>/scratch/<jvm-id>/<tag>_<n>`
    * for one call's writes. No other call is handed the same slot, and
    * it lives until [[releaseAll]], like the persisted caches it backs.
    * The first slot creates the root and marks it for deletion when the
    * JVM exits, so a process that never releases leaves nothing behind
    * at a normal exit.
    */
  def scratch(tag: String): String = synchronized {
    if (!rootMarked) {
      val fs = StageDirs.fs(root)
      fs.mkdirs(root)
      fs.deleteOnExit(root)
      rootMarked = true
    }
    slots += 1
    slotPath(StageDirs.base, tag, slots)
  }

  /** Unpersist every registered Dataset, drop every registered view,
    * delete this JVM's scratch root with every slot [[scratch]] handed
    * out, and clear the registry.
    */
  def releaseAll(): Unit = synchronized {
    handles.values.foreach(_.unpersist(blocking = false))
    handles.clear()
    views.foreach { case (spark, name) => spark.catalog.dropTempView(name) }
    views.clear()
    StageDirs.deleteRecursively(root.toString)
  }

  /** Number of currently registered handles (for specs/diagnostics). */
  def size: Int = synchronized(handles.size)
}
