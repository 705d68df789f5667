package graft.operators

import java.io.IOException

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.not
import org.apache.spark.sql.types.StructType

/** Delta-flavored table surface and the library's ONE table commit:
  * `merge` / `delete` / `optimize` / `history` / time-travel reads on a
  * plain parquet directory. Every table write — these mutations,
  * [[MergeUpsert.saveOrUpdate]] (a `retain = 0` merge) and the
  * compaction gate (a `retain = 0` optimize) — runs the same
  * transaction: lock → recover → read version v → transform → write
  * tmp → stamp v+1 → last-writer-checked swap → unlock, over the
  * [[DirSwap]] protocol.
  *
  * BASELINE.json declares "Spark SQL + Delta/Iceberg table operations"
  * as the reference's approach; those jars are unavailable in this
  * offline build, so this class exposes the same USER surface over the
  * hand-rolled transaction slice DirSwap provides — single-writer lock,
  * monotonic `_graft_version`, last-writer check, crash-safe swap with
  * `_SUCCESS`-gated recovery. Reference consumption pattern:
  * src/utils/bucket.py:63-89 (read-merge-overwrite, no versioning, no
  * lock).
  *
  * Versioning model (the Delta analogy, directory-shaped):
  *   - the LIVE version is the target directory itself, stamped with
  *     `_graft_version` (Delta: the latest snapshot);
  *   - at `retain > 0` every commit renames the displaced version to a
  *     dot-prefixed sibling `.{name}__v{N}` — a metadata-only move,
  *     invisible to partition discovery (Delta: retained snapshots in
  *     the log); at `retain = 0` it is deleted;
  *   - [[readAt]] reads a retained (or the live) version by number
  *     (Delta: `VERSION AS OF`);
  *   - at most `retain` displaced versions are kept; older ones are
  *     pruned at commit (Delta: `VACUUM`, here eager with a bounded
  *     window — [[vacuum]] tightens it further on demand).
  *
  * Two concurrent writers serialize or abort cleanly (OpsSpec pins the
  * abort), and any writer recovers any other's interrupted commit
  * (TableCommitCrashSpec). Reads are lock-free: the swap keeps a
  * complete table at the target at every recoverable instant.
  *
  * Scale: all mutations are full-snapshot rewrites — the plan a
  * MERGE INTO lowers to when touched-file pruning cannot help; the
  * versioning layer itself is O(1) renames regardless of table size.
  */
final class VersionedTable private (spark: SparkSession, path: String,
                                    retain: Int) {

  import VersionedTable.readParquet

  private val target = new Path(path)
  private val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def retainedPath(v: Long): Path = DirSwap.retainedPath(target, v)

  /** Current committed version (0 = unversioned or absent). */
  def version(): Long = DirSwap.readVersion(fs, target)

  /** The live table, opened without a Spark job: the schema comes from
    * a parquet footer read on the driver ([[VersionedTable.readParquet]]).
    * The footer read and the file listing are two steps, so a commit
    * landing between them would pair one version's schema with the
    * next version's files; the version is re-checked after both and the
    * open repeated when it moved.
    */
  def read(): DataFrame = {
    val v = version()
    val df = readParquet(spark, path)
    if (version() == v) df else read()
  }

  /** The live version opened by its data files rather than by its
    * directory, with the same footer schema and version re-check as
    * [[read]]. Spark's cache matches a file scan by its root paths, so
    * a copy of this frame cached by a reader is never substituted into
    * the next commit's read of the directory ([[mutate]]); a copy read
    * through [[read]] would be, and a copy left stale by another writer
    * would then silently drop that writer's rows.
    */
  def snapshot(): VersionedTable.Snapshot = {
    val v = version()
    val (summaries, data) = VersionedTable.listing(fs, target)
    val reader = spark.read.option("basePath", path)
    val df = VersionedTable.footerSchema(spark, summaries, data)
      .fold(reader)(reader.schema(_)).parquet(data.map(_.getPath.toString): _*)
    if (version() == v) VersionedTable.Snapshot(v, data.map(_.getLen).sum, df)
    else snapshot()
  }

  /** Time travel: read version `v` — the live version or any retained
    * one. Throws with the available window when `v` was pruned.
    *
    * Resolution order closes the check-then-read race with a concurrent
    * writer: the RETAINED sibling is preferred when it exists (it is
    * immutable once parked), and only otherwise is the live directory
    * used — with the version re-checked AFTER the plan's eager file
    * listing, re-resolving to the just-parked sibling if a commit slid
    * in between. The residual window (commit after the re-check but
    * before the scan executes) fails LOUDLY, not wrongly: the listing
    * is pinned at analysis time and commit renames the listed files
    * away, so the scan hits FileNotFound instead of silently serving a
    * different version's rows.
    */
  def readAt(v: Long): DataFrame = {
    val p = retainedPath(v)
    if (fs.exists(p)) readParquet(spark, p.toString)
    else if (v == version()) {
      val df = read() // eager file listing happens here
      val now = version()
      if (now == v) df
      else if (fs.exists(p)) readParquet(spark, p.toString)
      else throw new IOException(
        s"version $v of $path was displaced by a concurrent commit " +
          s"(live is now $now) and is not retained; raise `retain`")
    } else
      throw new IOException(
        s"version $v of $path is not retained (available: " +
          s"${retainedVersions().mkString(",")} + live ${version()}); " +
          "raise `retain` or time-travel sooner")
  }

  /** Versions currently retained on disk (ascending), live excluded. */
  def retainedVersions(): Seq[Long] = DirSwap.retainedVersions(fs, target)

  /** Commit log view: one row per readable version —
    * (version, timestamp_ms, bytes, is_live) — newest first. Driver-side
    * listing of ≤ retain+1 directories, never a data scan.
    */
  def history(): DataFrame = {
    import spark.implicits._
    val rows = (retainedVersions().map(v => (v, retainedPath(v), false)) :+
      ((version(), target, true)))
      .filter { case (_, p, _) => fs.exists(p) }
      .map { case (v, p, live) =>
        val st = fs.getFileStatus(p)
        (v, st.getModificationTime, fs.getContentSummary(p).getLength, live)
      }
      .sortBy(-_._1)
    rows.toDF("version", "timestamp_ms", "bytes", "is_live")
  }

  /** MERGE INTO: upsert `incoming` by `keys` — [[MergeUpsert.merge]]
    * semantics: `tiebreak` orders the candidate survivors, then incoming
    * wins per key, so the survivor is deterministic.
    */
  def merge(incoming: DataFrame, keys: Seq[String],
            tiebreak: Seq[Column] = Nil): Unit =
    mutate { existing =>
      existing.map(MergeUpsert.merge(_, incoming, keys, tiebreak))
        .getOrElse(incoming)
    }

  /** Overwrite the table with `df` as a new version. */
  def overwrite(df: DataFrame): Unit = mutate(_ => df)

  /** DELETE WHERE: drop rows matching `predicate` as a new version. */
  def delete(predicate: Column): Unit =
    mutate {
      case Some(existing) => existing.filter(not(predicate))
      case None => throw new IOException(s"delete on missing table $path")
    }

  /** OPTIMIZE: rewrite into ~`targetBytes` files (round-robin — layout,
    * not clustering). A new version like any other mutation, so a bad
    * compaction is time-travel recoverable too.
    */
  def optimize(targetBytes: Long = 128L * 1024 * 1024): Unit =
    mutate {
      case Some(existing) =>
        val bytes = fs.getContentSummary(target).getLength
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        existing.repartition(n)
      case None => throw new IOException(s"optimize on missing table $path")
    }

  /** OPTIMIZE ZORDER BY (x, y): rewrite the table clustered by Morton
    * z-value so every output file covers a tight axis-aligned cell in
    * BOTH dimensions — the file-footer min/max stats then prune scans
    * filtered on either column (or both), which a single-dim sort only
    * provides for its leading key. `repartitionByRange` on the z-value
    * gives contiguous z-ranges per file (a range shuffle over the
    * sampled z distribution — no global sort), and the within-file
    * sort keeps row groups tight. A new version like any mutation, so
    * a bad layout is time-travel recoverable. The Delta analogy:
    * `OPTIMIZE t ZORDER BY (x, y)`; pruning math pinned in ZOrderSpec.
    */
  def optimizeZOrder(x: Column, y: Column,
                     targetBytes: Long = 128L * 1024 * 1024,
                     numFiles: Option[Int] = None): Unit =
    mutate {
      case Some(existing) =>
        val bytes = fs.getContentSummary(target).getLength
        val n = numFiles.getOrElse(
          math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
        existing
          .withColumn("__graft_z", ZOrder.zValue(x, y))
          .repartitionByRange(n, org.apache.spark.sql.functions.col("__graft_z"))
          .sortWithinPartitions("__graft_z")
          .drop("__graft_z")
      case None =>
        throw new IOException(s"optimizeZOrder on missing table $path")
    }

  /** RESTORE TABLE ... TO VERSION AS OF `v`: commit snapshot `v`'s rows
    * as a NEW version — Delta's RESTORE semantics, where a rollback is
    * itself a commit, so history is preserved and a bad restore is
    * time-travel recoverable like any other mutation. Reads `v` through
    * [[readAt]] under the writer lock, so no commit can slide in
    * between its version check and its read; the snapshot is fully
    * copied to the staging directory before the old live version is
    * displaced, so a crash mid-restore recovers to a complete table
    * either way.
    */
  def restore(v: Long): Unit = mutate(_ => readAt(v))

  /** Prune retained versions beyond the newest `keepLast`. No default:
    * `keepLast = 0` deletes the ENTIRE time-travel window, and that
    * must be something the caller typed, not something a bare
    * `vacuum()` did (Delta's VACUUM guards zero retention the same
    * way).
    */
  def vacuum(keepLast: Int): Unit = DirSwap.prune(fs, target, keepLast)

  /** The one transaction: lock → recover → read v → transform → write
    * tmp(v+1) → last-writer-checked swap that drops or parks v per
    * `retain`.
    */
  private def mutate(f: Option[DataFrame] => DataFrame): Unit = {
    DirSwap.acquireLock(fs, target)
    try {
      DirSwap.recover(fs, target, retain)
      val v0 = DirSwap.readVersion(fs, target)
      val result =
        f(if (fs.exists(target)) Some(readParquet(spark, path)) else None)
      val tmp = DirSwap.tmpPath(target)
      result.write.mode("overwrite").parquet(tmp.toString)
      DirSwap.writeVersion(fs, tmp, v0 + 1)
      DirSwap.commit(fs, target, v0, retain)
    } finally DirSwap.releaseLock(fs, target)
  }
}

object VersionedTable {
  /** Open (or create-on-first-write) the versioned table at `path`,
    * keeping up to `retain` displaced versions for time travel
    * (`retain = 0`: no time travel, each commit deletes the displaced
    * copy).
    */
  def apply(spark: SparkSession, path: String,
            retain: Int = 3): VersionedTable =
    new VersionedTable(spark, path, retain)

  /** One version of a table read by its data files, with their total
    * on-disk bytes.
    */
  final case class Snapshot(version: Long, bytes: Long, df: DataFrame)

  /** `spark.read.parquet(dir)` without its schema-inference job (a
    * one-task Spark job that ships a Hadoop conf to read one footer).
    * The footer Spark's non-merging inference would read — a
    * `_common_metadata` or `_metadata` summary, else the first data file
    * in path order, over the same hidden-name filter as Spark's listing
    * — is read on the driver and converted by Spark's own footer rule,
    * so the schema is the inferring read's for any parquet writer (the
    * Spark schema stamped into the footer, else the parquet schema
    * converted under the session's conf). Partition columns are still
    * discovered from the paths (under `basePath` when given), so they
    * stay last and keep their inferred types. Falls back to the
    * inferring read when the session merges schemas, when there is no
    * data file, or when the footer does not read (the inferring read
    * then reports why).
    */
  private[graft] def readParquet(spark: SparkSession, dir: String,
                                 basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    val d = new Path(dir)
    Try(listing(d.getFileSystem(spark.sparkContext.hadoopConfiguration), d))
      .toOption.flatMap { case (summaries, data) =>
        footerSchema(spark, summaries, data) }
      .fold(reader)(reader.schema(_)).parquet(dir)
  }

  private val SummaryFiles = Seq("_common_metadata", "_metadata")

  /** `dir`'s files under Spark's listing filter (`_`/`.` names are
    * hidden, except summaries), in path order: (summaries, data files).
    */
  private def listing(fs: FileSystem,
                      dir: Path): (Seq[FileStatus], Seq[FileStatus]) = {
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")) &&
        !SummaryFiles.exists(name.startsWith)
    def leaves(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(st => hidden(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) leaves(st.getPath) else Seq(st))
    leaves(dir).sortBy(_.getPath.toString)
      .partition(st => SummaryFiles.contains(st.getPath.getName))
  }

  /** The schema Spark's non-merging inference reads from `dir`'s
    * footer: a summary, else the first data file.
    */
  private def footerSchema(spark: SparkSession, summaries: Seq[FileStatus],
                           data: Seq[FileStatus]): Option[StructType] =
    if (spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean)
      None
    else Try {
      val conf = spark.sparkContext.hadoopConfiguration
      val converter =
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)
      (SummaryFiles.flatMap(n => summaries.find(_.getPath.getName == n)) ++
        data.take(1)).headOption.map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val footer = try r.getFooter finally r.close()
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer), converter)
      }
    }.toOption.flatten
}
