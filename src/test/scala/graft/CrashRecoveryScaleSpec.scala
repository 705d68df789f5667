package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DirSwap, MergeUpsert}

/** Crash-injection rehearsal for the DirSwap/MergeUpsert swap protocol
  * at BENCH scale (sf0.1 events, 100k rows, multi-file parquet) — the
  * round-12 upgrade of MergeUpsertSpec's fixture-sized state-machine
  * tests. A kill at any point of saveOrUpdate manifests on disk as one
  * of the swap's intermediate states; this spec reproduces each state
  * with REAL table volume (32-part directories, where a wrong
  * promotion of a torso would silently lose thousands of rows, not
  * one) and verifies:
  *   - recovery always lands on a COMPLETE version (row count + content
  *     aggregate, never a partial directory),
  *   - the version stamp stays monotonic through crash + recovery,
  *   - a post-crash saveOrUpdate self-heals and commits normally.
  */
class CrashRecoveryScaleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.1"
  private val fs =
    new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpOf(p: String) = DirSwap.tmpPath(new Path(p))
  private def oldOf(p: String) = DirSwap.oldPath(new Path(p))

  /** (row count, changed-row count, id checksum) — a content signature
    * strong enough that promoting a torso or a stale version fails the
    * assert, cheap enough to run six times in one test.
    */
  private def signature(p: String): (Long, Long, Long) = {
    val r = spark.read.parquet(p)
      .agg(count(lit(1)), sum(when(col("event_type") === "REWRITTEN", 1L)
        .otherwise(0L)), sum(col("event_id") % 97))
      .as[(Long, Long, Long)].first()
    r
  }

  test("interrupted swaps at sf0.1: every crash window recovers a " +
    "complete version and versions stay monotonic") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("user_id"), col("event_type"))
    val p = Files.createTempDirectory("graft-crash-scale").toString + "/t"

    // v1: the full 100k-row table through the real commit path
    MergeUpsert.saveOrUpdate(spark, ev.repartition(32), p, Seq("event_id"))
    val v1Sig = signature(p)
    assert(v1Sig._1 === 100000L && v1Sig._2 === 0L)
    assert(DirSwap.readVersion(fs, new Path(p)) === 1L)

    // the incoming increment: half the events re-typed
    val incoming = ev.filter(col("event_id") % 2 === 0)
      .withColumn("event_type", lit("REWRITTEN"))
    val merged: DataFrame =
      MergeUpsert.merge(spark.read.parquet(p), incoming, Seq("event_id"))

    // ── crash window A: after write-new, before ANY rename ────────────
    merged.write.parquet(tmpOf(p).toString)
    DirSwap.writeVersion(fs, tmpOf(p), 2L)
    DirSwap.recover(fs, new Path(p), retain = 0)
    // main was never touched: v1 intact, torso dropped, version fixed
    assert(signature(p) === v1Sig)
    assert(DirSwap.readVersion(fs, new Path(p)) === 1L)
    assert(!fs.exists(tmpOf(p)))

    // ── crash window B: between rename-old-away and rename-new-in ─────
    // (the only instant with no complete table at the target path)
    merged.write.parquet(tmpOf(p).toString)
    DirSwap.writeVersion(fs, tmpOf(p), 2L)
    assert(fs.rename(new Path(p), oldOf(p)))
    DirSwap.recover(fs, new Path(p), retain = 0)
    // tmp was complete (committer marker present): promoted, version 2
    val v2Sig = signature(p)
    assert(v2Sig._1 === 100000L && v2Sig._2 === 50000L)
    assert(DirSwap.readVersion(fs, new Path(p)) === 2L)
    assert(!fs.exists(oldOf(p)) && !fs.exists(tmpOf(p)))

    // ── crash window C: mid-WRITE of the new version (no _SUCCESS) ────
    // a torso with MORE bytes than v2 must still lose to the complete
    // old version — completeness is the marker, not size
    spark.read.parquet(p).unionAll(spark.read.parquet(p))
      .write.parquet(tmpOf(p).toString)
    DirSwap.writeVersion(fs, tmpOf(p), 3L)
    assert(fs.delete(new Path(tmpOf(p), "_SUCCESS"), false))
    assert(fs.rename(new Path(p), oldOf(p)))
    DirSwap.recover(fs, new Path(p), retain = 0)
    assert(signature(p) === v2Sig)
    assert(DirSwap.readVersion(fs, new Path(p)) === 2L)
    assert(!fs.exists(tmpOf(p)))

    // ── self-heal: a normal saveOrUpdate over crash leftovers ──────────
    merged.limit(0).write.parquet(tmpOf(p).toString) // stale empty torso
    MergeUpsert.saveOrUpdate(spark,
      ev.filter(col("event_id") % 2 === 1)
        .withColumn("event_type", lit("REWRITTEN")), p, Seq("event_id"))
    val v3Sig = signature(p)
    assert(v3Sig._1 === 100000L && v3Sig._2 === 100000L)
    assert(DirSwap.readVersion(fs, new Path(p)) === 3L)
  }
}
