package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.VectorQueries

/** Measures the flat-argmin vs two-level-descent assignment crossover
  * THROUGH the extrapolated cross point (PERF.md pinned
  * TWO_LEVEL_MIN_CELLS = 3·10⁵ from marginals fitted on C ≤ 40k —
  * round-14 verdict asked for a direct record bracketing the cross).
  *
  * Both the rows and the centroid ladder are SYNTHESIZED (deterministic
  * xxhash64-mixed dim-64 float vectors), because no local corpus
  * yields 10⁶ distinct centroids; the assignment kernels under test
  * ([[VectorQueries.withCell]] / [[VectorQueries.withCellTwoLevel]])
  * are the library paths byte-for-byte.
  *
  * MEASUREMENT CONTRACT (round 15): evaluation is forced through
  * `agg(sum(cell))` — a bare `count()` lets Catalyst PRUNE the cell
  * projection entirely, leaving only the broadcast build in the timing
  * (which is what the pre-r15 ScaleProbe ladder actually recorded; its
  * "flat argmin" growth with C was the centroid-array collect+
  * broadcast, not distance evals). Each strategy is also timed at
  * n = 32 rows, which isolates its INDEX-BUILD term (centroid collect/
  * broadcast for flat; the rep assignment + nested children build for
  * two-level) from the per-row assignment term.
  *
  * Env: SPARK_GRAFT_CELLS (csv ladder), SPARK_GRAFT_ROWS.
  */
object IvfCrossoverProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRows = sys.env.getOrElse("SPARK_GRAFT_ROWS", "40000").toLong
    val ladder = sys.env.getOrElse("SPARK_GRAFT_CELLS",
        "10000,40000,100000,300000,1000000")
      .split(",").map(_.trim.toLong).toSeq
    val spark = graft.Graft.newSession(s"local[$cpus]", "graft-ivf-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    // deterministic dim-64 float vectors from an id column
    def vecs(n: Long, idName: String) =
      spark.range(n).select(col("id").as(idName),
        transform(sequence(lit(1), lit(64)), j =>
          (pmod(xxhash64(col("id") * 64 + j), lit(1000))
            / lit(100.0)).cast("float")).as("embedding"))

    def persisted(n: Long) = {
      val df = vecs(n, "vec_id").repartition(cpus.toInt)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val rows = persisted(nRows)
    val tiny = persisted(32)

    def time(label: String)(f: => Long): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      println(f"[ivfcross] $label%-38s ${(System.nanoTime() - t0) / 1e9}%8.2f s  sum=$n")
    }
    // sum(cell) forces the argmin per row — nothing prunable above it
    def force(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("cell"))).head().getLong(0)

    // warm codegen/JIT for both plan shapes so the first ladder row's
    // build-only time is not the session's first-query cost
    force(VectorQueries.withCell(tiny,
      VectorQueries.centroidArray(vecs(1000, "cell")
        .select(col("cell"), col("embedding").as("centroid"))),
      col("embedding")))
    force(VectorQueries.withCellTwoLevel(tiny,
      vecs(1000, "cell")
        .select(col("cell"), col("embedding").as("centroid")),
      col("embedding"), fanout = 32, probeGroups = 2))

    // SPARK_GRAFT_ARMS picks strategies (csv of flat,twolevel,joined;
    // default all three). The broadcast arms OOM at C = 10⁶ — flat
    // from the per-row C-struct temp array, the descent from its
    // ~C-sized nested broadcast row in the probing stage — so the
    // big-C rungs run with ARMS=joined.
    val arms = sys.env.getOrElse("SPARK_GRAFT_ARMS", "flat,twolevel,joined")
      .split(",").map(_.trim).toSet
    for (c <- ladder) {
      val cents = vecs(c, "cell")
        .select(col("cell"), col("embedding").as("centroid"))
      val fanout = math.max(8, math.sqrt(c.toDouble).toInt)
      if (arms("flat")) {
        time(s"flat $c cells build-only (n=32)")(
          force(VectorQueries.withCell(tiny,
            VectorQueries.centroidArray(cents), col("embedding"))))
        time(s"flat $c cells n=$nRows")(
          force(VectorQueries.withCell(rows,
            VectorQueries.centroidArray(cents), col("embedding"))))
      }
      if (arms("twolevel")) {
        time(s"2-level $c cells build-only (n=32)")(
          force(VectorQueries.withCellTwoLevel(tiny, cents, col("embedding"),
            fanout = fanout, probeGroups = 2)))
        time(s"2-level $c cells f=$fanout n=$nRows")(
          force(VectorQueries.withCellTwoLevel(rows, cents, col("embedding"),
            fanout = fanout, probeGroups = 2)))
      }
      if (arms("joined")) {
        time(s"joined $c cells build-only (n=32)")(
          force(VectorQueries.withCellJoined(tiny, cents, col("embedding"),
            Seq("vec_id"), fanout = fanout, probeGroups = 2)))
        time(s"joined $c cells f=$fanout n=$nRows")(
          force(VectorQueries.withCellJoined(rows, cents, col("embedding"),
            Seq("vec_id"), fanout = fanout, probeGroups = 2)))
      }
    }
    spark.stop()
  }
}
