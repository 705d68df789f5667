package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clusters, Dedup, DedupPlan, Fixpoint}

/** Library cache discipline: every operator that persists intermediates
  * registers them, and [[Graft.releaseCaches]] leaves the session with
  * ZERO persisted RDDs — a long-lived session using the library must not
  * accumulate cache blocks across calls (round-2 finding: four persists
  * with no unpersist anywhere). The same release deletes the operators'
  * scratch slots, whose paths keep a URI base's authority, and drops the
  * stream gates' memory-sink views.
  */
class CacheLifecycleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"),
    (3L, "one two three four five six seven"),
    (4L, "unrelated words entirely disjoint content here")
  ).toDF("doc_id", "text")

  test("dedup operators leave no persisted RDDs after releaseCaches") {
    Graft.releaseCaches() // start clean whatever other suites did
    // run every persisting operator to completion, sequentially
    Dedup.minhashCandidatePairs(docs, "doc_id", "text").count()
    Dedup.simhashNearDupPairs(docs, "doc_id", "text").count()
    Dedup.jaccardPairs(docs, "doc_id", "text").count()
    Dedup.lshVerifiedPairs(docs, "doc_id", "text").count()
    // 4 unique plans: the signature table is registered by BOTH the LSH
    // and verified paths but dedups to one handle (identical plan)
    assert(CacheRegistry.size >= 4, "operators must register their persists")
    Graft.releaseCaches()
    assert(CacheRegistry.size === 0)
    // unpersist(blocking=false) is async; poll briefly for drain
    val deadline = System.nanoTime() + 10e9.toLong
    def persisted = spark.sparkContext.getPersistentRDDs
    while (persisted.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(persisted.isEmpty,
      s"leaked cache entries: ${persisted.values.map(_.name).mkString(", ")}")
  }

  test("releaseCaches deletes this JVM's scratch root") {
    val root = CacheRegistry.scratchRoot(StageDirs.base)
    def onDisk = StageDirs.fs(root).exists(root)
    Fixpoint.withDriverBudget(0) {
      Clusters.connectedComponents(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b").count()
    }
    DedupPlan(docs).pairs.count()
    assert(onDisk)
    Graft.releaseCaches()
    assert(!onDisk, s"$root left behind")
  }

  test("releaseCaches drops the stream gates' memory-sink views") {
    def sinkViews = spark.catalog.listTables().collect().toSeq
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_gate_"))
      .map(_.name)
    graft.streaming.StreamGateQueries.queries("q_stream_freshness")(
      spark, "/root/testdata/sf0.001").collect()
    assert(sinkViews.nonEmpty)
    Graft.releaseCaches()
    assert(sinkViews === Nil)
  }

  test("a scratch slot under a URI base keeps the base's authority") {
    val slot = CacheRegistry.slotPath("hdfs://nn:8020/stage", "cc", 1L)
    assert(slot.startsWith("hdfs://nn:8020/stage/scratch/"), slot)
    assert(slot.endsWith("/cc_1"), slot)
  }

  test("simhashNearDupPairs rejects radii the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 6)
    }
  }
}
