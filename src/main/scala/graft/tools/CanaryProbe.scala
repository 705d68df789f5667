package graft.tools

/** Times a handful of canary queries in isolation (3 reps each, cold
  * cache per rep — the Bench protocol) to separate machine-state noise
  * from real per-query regressions when a full-suite total moves.
  */
object CanaryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Bench's session, by construction: one shared builder
    // (tools.BenchSession) — canary medians are comparable to bench
    // medians conf-for-conf (ADVICE r16: a hand-built session here had
    // drifted to a smaller codegen cache, so canaries re-included Janino
    // compile time the bench excludes; Graft.sessionConf now sets it).
    val spark = BenchSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q_cluster_survivors", "q_dup_clusters", "q_jaccard_pairs")
    for (name <- names) {
      val ts = (1 to 3).map { _ =>
        graft.CacheRegistry.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(name)(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"CANARY $name median=${ts.sorted.apply(1)}%.2f reps=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
