package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Dedup

/** Dev-only 10× scale rehearsal: replicate the documents corpus with
  * offset ids (50k docs at sf0.1) and run the dedup family — a direct
  * check that the family's cost scales ~linearly and nothing reverts to
  * all-pairs behavior. Replicas share text, so near-dup outputs blow up
  * BY CONSTRUCTION (every replica pair is a dup) — wall time, not row
  * counts, is the signal here.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = graft.Graft.newSession("local[32]", "graft-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val docs = (0 until mult).map(i =>
        base.select((col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
          col("text")))
      .reduce(_ unionAll _)
      .repartition(32)
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[scale] $name%-24s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }
    time(s"docs x$mult")(docs.count())
    time("minhash sigs")(Dedup.minhashSignatures(docs, "doc_id", "text").count())
    time("simhash")(Dedup.simhash60(docs, "doc_id", "text").count())
    time("lsh pairs")(Dedup.minhashCandidatePairs(docs, "doc_id", "text").count())
    time("exact groups")(Dedup.exactGroups(docs, "doc_id", "text").count())

    // ── connected components: rounds stay constant, time follows edges ──
    // Replicas share text, so LSH near-dup pairs grow ~m² per original
    // cluster (every replica pair collides) — the WORST-case input for
    // clustering. The claim under test: propagation ROUND count is set
    // by cluster diameter (which replication does NOT grow — replicas
    // attach to the same dense cluster), so wall time tracks the edge
    // count, never rounds × edges.
    import graft.operators.Clusters
    for (m <- Seq(1, 5)) {
      val docsM = (0 until m).map(i =>
          base.select((col("doc_id") + lit(i.toLong * 10_000_000L))
            .as("doc_id"), col("text")))
        .reduce(_ unionAll _).repartition(32)
      val pairs = Dedup.lshVerifiedPairs(docsM, "doc_id", "text")
      time(s"cc x$m edges")(pairs.count())
      time(s"cc x$m clusters")(
        Clusters.connectedComponents(pairs, "doc_a", "doc_b").count())
    }

    // ── embedding near-dup blocking: fixed vs corpus-scaled cell count ──
    // Replicas are ROTATIONS of the base vectors — rotations of i.i.d.
    // random vectors are effectively independent, so the rehearsal grows
    // the corpus without planting near-dup clusters; candidate volume is
    // then driven purely by cell population. With cells fixed at 16 the
    // within-cell pair count is O(n²/16); with cells = max(16, n/64) it
    // is O(64·n) — the candidate COUNT column printed below is the
    // direct evidence, wall time follows it.
    import graft.operators.VectorQueries
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    for (m <- Seq(1, 5, 20)) {
      val aug = (0 until m).map { i =>
        val rot =
          if (i == 0) col("embedding")
          else concat(
            slice(col("embedding"), lit(i + 1),
              size(col("embedding")) - lit(i)),
            slice(col("embedding"), lit(1), lit(i)))
        emb.select((col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
          rot.as("embedding"))
      }.reduce(_ unionAll _).repartition(32)
      def candCount(nCells: Long): Long = {
        val centArr = VectorQueries.centroidArray(
          emb.filter(col("vec_id") < nCells)
            .select(col("vec_id").as("cell"),
              col("embedding").as("centroid")))
        val assigned = VectorQueries
          .withCell(aug, centArr, col("embedding"))
          .select(col("vec_id"), col("cell"))
        val a = assigned.toDF("vec_a", "cell")
        val b = assigned.toDF("vec_b", "cell")
        a.join(b, Seq("cell")).filter(col("vec_a") < col("vec_b")).count()
      }
      val n = aug.count()
      time(s"emb x$m fixed 16 cells")(candCount(16L))
      time(s"emb x$m scaled ${math.max(16L, n / 64)} cells")(
        candCount(math.max(16L, n / 64)))
      // the round-4 budget: C = ⌊√n⌋ (the standard IVF regime).
      // Assignment is n·√n = O(n^1.5) distance evals and expected cell
      // population √n keeps Σcell² ≈ O(n^1.5) too — BOTH timed rows
      // below must grow ~m^1.5 (≈ 89× at 20×), not m² (400×).
      val sqrtN = math.max(16L, math.sqrt(n.toDouble).toLong)
      val sqrtArr = VectorQueries.centroidArray(
        emb.filter(col("vec_id") < sqrtN)
          .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
      time(s"emb x$m assign-only √n=$sqrtN")(
        // sum forces the per-row argmin (count would prune it away)
        VectorQueries.withCell(aug, sqrtArr, col("embedding"))
          .agg(sum(col("cell"))).head().getLong(0))
      time(s"emb x$m cands √n=$sqrtN cells")(candCount(sqrtN))
    }

    // assignment cost at a large cell count: flat argmin (n×C distance
    // evals) vs the two-level coarse-then-fine descent (~C/fanout +
    // probeGroups·fanout evals per row)
    val augBig = (0 until 20).map { i =>
      val rot =
        if (i == 0) col("embedding")
        else concat(
          slice(col("embedding"), lit(i + 1),
            size(col("embedding")) - lit(i)),
          slice(col("embedding"), lit(1), lit(i)))
      emb.select((col("vec_id") + lit(i.toLong * 10_000_000L)).as("vec_id"),
        rot.as("embedding"))
    }.reduce(_ unionAll _).repartition(32)
    for (bigCells <- Seq(math.max(16L, augBig.count() / 64) /* 625 */,
                         2500L, 10000L, 40000L)) {
      // centroids drawn across replicas (rotations are distinct vectors)
      val perReplica = (bigCells + 19) / 20
      val cents = augBig.filter(col("vec_id") % 10_000_000L < perReplica)
        .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
      val fanout = math.max(8, math.sqrt(bigCells.toDouble).toInt)
      // agg(sum(cell)), NOT count(): count lets Catalyst prune the
      // cell projection, so a bare count times only the broadcast
      // build — which is what the pre-r15 version of this ladder
      // recorded (found building IvfCrossoverProbe, round 15)
      time(s"assign flat $bigCells cells")(
        VectorQueries.withCell(augBig,
            VectorQueries.centroidArray(cents), col("embedding"))
          .agg(sum(col("cell"))).head().getLong(0))
      time(s"assign 2-level $bigCells cells")(
        VectorQueries.withCellTwoLevel(augBig, cents, col("embedding"),
            fanout = fanout, probeGroups = 2)
          .agg(sum(col("cell"))).head().getLong(0))
    }
    spark.stop()
  }
}
