package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Dev-only ×1/×10/×100 scale rehearsal for the ANN / embedding tier —
  * the last operator family without a measured ×100 record (text/search
  * got its rehearsal the same round; graph/dedup in round 12; streams
  * ×100 this round).
  *
  * Protocol (the GraphScaleProbe recipe): the sf0.1 embeddings table
  * (2,000 × 64-d float vectors) replicated ×1/×10/×100 as disjoint
  * copies (vec_ids offset) and STAGED to parquet; every other table is
  * symlinked from the base dir at ×1 size, so the REAL gated queries
  * run unchanged against each staged dir. Replicas share vector values,
  * so near-dup/semdedup outputs blow up BY CONSTRUCTION — wall time is
  * the signal, not row counts.
  *
  * The claims under test: brute-force top-k is linear in the corpus
  * (the calibration tier); IVF probes only nprobe cells so its growth
  * tracks cell occupancy, never all-pairs; near-dup/semdedup stay
  * cell-blocked; k-means rounds are linear per pass with a
  * driver-bounded centroid table.
  */
object VectorScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10,100")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Graft.newSession("local[32]", "graft-vector-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def stageX(m: Int): String = {
      val out = graft.StageDirs.stable(s"vectorscale/x$m")
      val marker = Paths.get(s"$out/_STAGED")
      if (!Files.exists(marker)) {
        Files.createDirectories(Paths.get(out))
        val b = spark.read.parquet(s"$dir/embeddings.parquet")
        (0 until m).map(i => b.withColumn("vec_id",
            col("vec_id") + lit(i.toLong * 100_000_000L)))
          .reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
        // non-replicated tables ride along at base size so any query
        // that joins a side table still resolves its path
        new java.io.File(dir).listFiles()
          .filter(f => f.getName.endsWith(".parquet") &&
            f.getName != "embeddings.parquet")
          .foreach { f =>
            val link = Paths.get(s"$out/${f.getName}")
            if (!Files.exists(link))
              Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
          }
        Files.writeString(marker, "ok")
      }
      out
    }

    val defaults = Seq("q_ann_cosine_topk", "q_ann_ivf_topk",
      "q_ann_ivf_kmeans", "q_ann_ivf_sampled", "q_ann_pq_kmeans",
      "q_ann_pq_sampled", "q_ann_ivfpq_topk", "q_embedding_neardup",
      "q_semdedup", "q_embedding_clusters", "q_kmeans_elbow",
      "q_dbscan", "q_silhouette", "q_kcenter_seeds",
      "q_kcenter_coverage")
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq.filter(_.nonEmpty)
      else defaults

    def time(label: String)(f: => Long): Unit = {
      graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      val n = f
      println(f"[vectorscale] $label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }

    // the Bench rep-hygiene calibration probe (fixed cpu-bound work):
    // one reading per multiplier so every probe row carries its
    // machine-state evidence
    def calibrate(): Double = Calibration.probe(spark)
    calibrate() // codegen warm

    for (m <- mults) {
      val sd = stageX(m)
      println(f"[vectorscale] calib x$m = ${calibrate()}%.3f s")
      for (q <- names) time(s"$q x$m")(
        graft.SparkEntry.queries(q)(spark, sd).count())
    }
    spark.stop()
  }
}
