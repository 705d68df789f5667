package graft.operators

import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileSystem, Path}

/** The crash-safe table commit under [[VersionedTable]]'s one
  * transaction (lock → [[recover]] → read version → write [[tmpPath]] →
  * stamp → [[commit]] → unlock), which every table write in the library
  * — merge-upsert, optimize/compaction, versioned mutations — runs.
  * This object is the only place that knows the swap-artifact names,
  * the writer lock, and whether a displaced copy is kept or deleted.
  *
  * [[commit]] renames live-away (to [[oldPath]]), tmp-in, then drops the
  * displaced copy — or, for a table that keeps `retain > 0` versions,
  * parks it as the retained sibling `.{name}__v{N}` and prunes the
  * window. [[recover]] finishes or rolls back an interrupted swap from
  * whichever sibling dirs survive:
  *   - target exists → swap completed (or never started): drop leftovers;
  *   - no target, tmp exists AND is complete (`_SUCCESS` marker — Spark's
  *     committer writes it last) → promote it, drop/park old;
  *   - no target, tmp exists but INCOMPLETE → a crash landed mid-write:
  *     drop the partial tmp and restore old;
  *   - no target, only old → restore old.
  * Every writer uses the same artifact names, so any writer recovers
  * any other writer's interrupted commit.
  *
  * Two writer-coordination layers close the gaps a bare swap leaves
  * (this is the minimal slice of what a Delta/Iceberg commit protocol
  * provides; those jars are unavailable offline):
  *
  *   1. '''Single-writer lock''' — [[acquireLock]] creates
  *      `<target>__swap_lock` with create-if-absent (atomic on HDFS and
  *      object stores with preconditions; best-effort on a raw local
  *      FS). Two concurrent writers interleaving renames would corrupt
  *      the state machine ([[recover]] assumes one writer), so the
  *      second writer fails fast instead. A crashed holder leaves a
  *      stale lock; locks older than ten minutes are broken
  *      automatically.
  *   2. '''Monotonic version file''' — the writer stamps
  *      `_graft_version` (= read version + 1) into tmp before commit,
  *      and [[commit]] re-checks the live table still holds the version
  *      the writer read (last-writer check). A writer that lost the
  *      lock-break race gets a clean abort instead of silently
  *      overwriting a newer table.
  */
private[graft] object DirSwap {

  val VERSION_FILE = "_graft_version"
  private val SUCCESS_FILE = "_SUCCESS"
  // a live writer finishes a swap in seconds; a lock this old is a
  // crashed holder's
  private val LOCK_STALE_MS = 10L * 60 * 1000

  /** Dot-prefixed sibling of `path` — the naming rule for every swap
    * artifact (tmp dir, old dir, lock file, retained versions). The
    * leading dot matters when the target is a PARTITION directory
    * inside a discovered table: Spark's file index skips
    * dot/underscore-prefixed paths, so a crash leftover like
    * `.approach_date=D__tmp_swap` is invisible to readers, whereas
    * `approach_date=D__tmp_swap` would be picked up as a bogus
    * partition value and its rows double-counted.
    */
  private def hiddenSibling(path: Path, suffix: String): Path =
    new Path(path.getParent, "." + path.getName + suffix)

  /** Where a transaction writes the new version before [[commit]]. */
  def tmpPath(target: Path): Path = hiddenSibling(target, "__tmp_swap")
  /** Where [[commit]] moves the live version while it swaps. */
  def oldPath(target: Path): Path = hiddenSibling(target, "__old_swap")
  def lockPath(target: Path): Path = hiddenSibling(target, "__swap_lock")
  def retainedPath(target: Path, v: Long): Path =
    hiddenSibling(target, s"__v$v")

  /** Versions retained beside `target` (ascending), live excluded. */
  def retainedVersions(fs: FileSystem, target: Path): Seq[Long] = {
    val prefix = "." + target.getName + "__v"
    if (!fs.exists(target.getParent)) Seq.empty
    else fs.listStatus(target.getParent).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => n.stripPrefix(prefix).toLongOption)
      .sorted
  }

  /** Delete retained versions beyond the newest `keepLast`. */
  def prune(fs: FileSystem, target: Path, keepLast: Int): Unit =
    retainedVersions(fs, target).dropRight(keepLast)
      .foreach(v => fs.delete(retainedPath(target, v), true))

  /** Current committed version of the table at `dir` (0 = unversioned —
    * either no table yet or one written before versioning existed).
    */
  def readVersion(fs: FileSystem, dir: Path): Long = {
    val f = new Path(dir, VERSION_FILE)
    if (!fs.exists(f)) 0L
    else {
      val in = fs.open(f)
      try {
        // read to EOF — a short read would mis-parse (or drop digits
        // from) the version on filesystems that chunk small reads
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](64)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        new String(out.toByteArray, UTF_8).trim.toLong
      } finally in.close()
    }
  }

  /** Stamp `dir/_graft_version`; called on the COMPLETE tmp dir before
    * [[commit]] so the version travels with the data through the swap.
    */
  def writeVersion(fs: FileSystem, dir: Path, version: Long): Unit = {
    val out = fs.create(new Path(dir, VERSION_FILE), true)
    try out.write(version.toString.getBytes(UTF_8)) finally out.close()
  }

  /** Acquire the single-writer lock for `target`, breaking a stale one.
    * Throws IOException on live contention.
    */
  def acquireLock(fs: FileSystem, target: Path): Unit = {
    val lock = lockPath(target)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(
          s"${java.util.UUID.randomUUID()} ${System.currentTimeMillis()}"
            .getBytes(UTF_8))
        finally out.close()
        true
      } catch {
        case _: IOException if fs.exists(lock) => false
      }
    if (!tryCreate()) {
      val ageMs =
        try System.currentTimeMillis() -
          fs.getFileStatus(lock).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (ageMs <= LOCK_STALE_MS)
        throw new IOException(
          s"concurrent writer on $target: lock $lock is ${ageMs / 1000}s " +
            "old (< stale threshold). If the holder is known dead, " +
            "DirSwap.releaseLock or wait out the threshold.")
      fs.delete(lock, false)
      if (!tryCreate())
        throw new IOException(
          s"concurrent writer on $target: lock $lock recreated during " +
            "stale-lock takeover")
    }
  }

  def releaseLock(fs: FileSystem, target: Path): Unit =
    fs.delete(lockPath(target), false)

  /** Swap [[tmpPath]] into place, aborting unless the live table still
    * holds exactly `expectedVersion` (last-writer check). The displaced
    * version is deleted, or parked for time travel when `retain > 0`.
    */
  def commit(fs: FileSystem, target: Path, expectedVersion: Long,
             retain: Int): Unit = {
    val live = readVersion(fs, target)
    if (live != expectedVersion)
      throw new IOException(
        s"lost update on $target: read version $expectedVersion but " +
          s"live table is now $live — another writer committed; " +
          "re-read and retry")
    val tmp = tmpPath(target)
    val old = oldPath(target)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new IOException(s"swap failed: $target -> $old")
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target) // roll back so readers still see a table
      throw new IOException(s"swap failed: $tmp -> $target")
    }
    displace(fs, target, retain)
  }

  /** Drop the displaced [[oldPath]] — or, at `retain > 0`, rename it to
    * the retained sibling its own `_graft_version` stamp names (a
    * metadata op) and prune the window to `retain`. Commit and recovery
    * both end here, so a crash between [[commit]]'s renames cannot
    * silently shrink a time-travel window. At `retain = 0` this is one
    * delete: no park rename, no parent listing.
    */
  private def displace(fs: FileSystem, target: Path, retain: Int): Unit = {
    val old = oldPath(target)
    if (retain == 0) fs.delete(old, true)
    else if (fs.exists(old)) {
      val dest = retainedPath(target, readVersion(fs, old))
      fs.delete(dest, true)
      // never leave a visible leftover: a failed park drops the copy
      if (!fs.rename(old, dest)) fs.delete(old, true)
      prune(fs, target, retain)
    }
  }

  /** Finish or roll back an interrupted [[commit]] on `target`; the
    * displaced copy is handled per `retain` as in [[commit]].
    */
  def recover(fs: FileSystem, target: Path, retain: Int): Unit = {
    val tmp = tmpPath(target)
    val old = oldPath(target)
    if (fs.exists(target)) {
      fs.delete(tmp, true)
      displace(fs, target, retain)
    } else if (fs.exists(tmp) &&
        fs.exists(new Path(tmp, SUCCESS_FILE))) {
      // tmp is a COMPLETE new version (committer marker present, and
      // renames only start after the write finishes) → promote it
      fs.rename(tmp, target)
      displace(fs, target, retain)
    } else if (fs.exists(tmp)) {
      // partial tmp from a crash mid-write: discard, restore old if any
      fs.delete(tmp, true)
      if (fs.exists(old)) fs.rename(old, target)
    } else if (fs.exists(old)) {
      fs.rename(old, target)
    }
  }
}
