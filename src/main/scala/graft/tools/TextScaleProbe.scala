package graft.tools

/** Scale-growth checks for the text/search tier.
  *
  * Part 1 (round 5): wall time at sf0.01 vs sf0.1 (10× rows) for the
  * text/LM/pair additions. Sub-linear-to-linear ratios confirm the
  * vocab-bounded-model / df-capped-posting claims; a super-linear
  * ratio would mean a pair build or model table is growing with the
  * corpus after all.
  *
  * Part 2 (round 14, the GraphScaleProbe recipe): the sf0.1 documents
  * table replicated ×1/×10/×100 as disjoint copies (doc_ids offset per
  * copy) and STAGED to parquet, so the REAL gated queries run
  * unchanged against each multiplier — BM25, TF-IDF top-terms,
  * TextRank, the BPE pair table — plus a direct [[graft.operators.Bpe]]
  * trainer run (spec-only surface, driver-side per-round argmax whose
  * LOOP count is vocab-bounded but whose per-round aggregate scans the
  * corpus). Expected shape: token-explode-dominated queries grow
  * ~linearly; model/vocab tables (pair vocab, query-panel df) stay
  * constant-size, so nothing should grow faster than the explode.
  * Select with SPARK_GRAFT_PROBE_PARTS (default "2") and
  * SPARK_GRAFT_SCALE_MULTS (default "1,10,100").
  */
object TextScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Graft.newSession(s"local[$cpus]", "graft-text-scale")
    spark.sparkContext.setLogLevel("ERROR")
    // q_prefix_filter_pairs / q_dedup_ablation: the exact-pair
    // ground-truth tier. Expected growth is the Σ prefix-posting²
    // model — near-linear while prefix postings stay short (the
    // df-ascending order keeps common shingles OUT of prefixes), so a
    // ~10× ratio at 10× rows confirms the sampled-slice economics the
    // 100 TB contract states; quadratic growth would mean a prefix
    // posting list is corpus-sized after all.
    val defaults = Seq("q_dup_ngram_coverage", "q_bigram_lm_score",
      "q_tfidf_pairs", "q_rolling_active", "q_event_transitions",
      "q_prefix_filter_pairs", "q_dedup_ablation",
      "q_logit_fit", "q_logit_fit_sampled", "q_maxcover_docs")
    // args override the default list (comma-separated) so a round can
    // probe just its new queries without re-pricing the whole set
    val names =
      if (args.nonEmpty) args(0).split(",").toSeq.filter(_.nonEmpty)
      else defaults
    val parts = sys.env.getOrElse("SPARK_GRAFT_PROBE_PARTS", "2")
      .split(",").map(_.trim.toInt).toSet

    // part 2's pseudo-names (e.g. maxcover_budget) are not gate keys —
    // part 1 prices gate queries only, so skip them here exactly like
    // part 2's gated loop does, instead of crashing on the Map apply
    if (parts(1)) for (name <- names.filter(graft.SparkEntry.queries.contains)) {
      val ts = Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1").map { sf =>
        val warm = (1 to 2).map { _ =>
          graft.CacheRegistry.releaseAll()
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sf).count()
          (System.nanoTime() - t0) / 1e9
        }
        warm.min
      }
      println(f"TEXTSCALE $name sf0.01=${ts(0)}%.2f sf0.1=${ts(1)}%.2f ratio=${ts(1) / ts(0)}%.1f")
    }

    // ── part 2: ×1/×10/×100 replication of the sf0.1 corpus ────────────
    if (parts(2)) {
      import org.apache.spark.sql.functions._
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.1")
      val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10,100")
        .split(",").map(_.trim.toInt).toSeq
      // stage each multiplier ONCE: every measured run reads identical
      // bytes from disk, exactly like a real corpus would arrive
      def stageX(m: Int): String = {
        val out = graft.StageDirs.stable(s"textscale/x$m")
        val marker = new java.io.File(s"$out/_STAGED")
        if (!marker.exists()) {
          val b = spark.read.parquet(s"$dir/documents.parquet")
          (0 until m).map(i => b.withColumn("doc_id",
              col("doc_id") + lit(i.toLong * 100_000_000L)))
            .reduce(_ unionAll _)
            .repartition(32)
            .write.mode("overwrite").parquet(s"$out/documents.parquet")
          java.nio.file.Files.writeString(marker.toPath, "ok")
        }
        out
      }
      // args narrow part 2 as well (part 1 and 2 share the override)
      val gated =
        if (args.nonEmpty) names
        else Seq("q_bm25_topk", "q_top_terms", "q_textrank_keywords",
          "q_bpe_pairs", "q_boolean_search", "q_phrase_search")
      def time(label: String)(f: => Long): Unit = {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val n = f
        println(f"[textscale] $label%-32s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
      }
      // the Bench rep-hygiene calibration probe: one reading per
      // multiplier so probe rows carry machine-state evidence
      def calibrate(): Double = Calibration.probe(spark)
      calibrate() // codegen warm
      for (m <- mults) {
        val sd = stageX(m)
        println(f"[textscale] calib x$m = ${calibrate()}%.3f s")
        for (q <- gated.filterNot(_ == "maxcover_budget"))
          time(s"$q x$m")(
            graft.SparkEntry.queries(q)(spark, sd).count())
        // pseudo-name: the 100 TB posture of q_maxcover_sampled — the
        // fit gate becomes an ABSOLUTE budget (mod-10⁴ < 2500/m keeps
        // the expected slice constant across multipliers, the
        // bpe_train_sampled recipe), so the only corpus-linear term
        // left is the single true-coverage scoring pass
        if (gated.contains("maxcover_budget"))
          time(s"maxcover_budget x$m")(
            graft.operators.TextQueries.maxCoverageSliced(
              spark.read.parquet(s"$sd/documents.parquet"),
              "doc_id", "text", 8, 100,
              graft.operators.Dedup.hash32(59,
                org.apache.spark.sql.functions.col("doc_id")
                  .cast("string")) % 10000
                < org.apache.spark.sql.functions.lit(2500L / m))
              .count())
        // the two direct trainer runs belong to the DEFAULT sweep; an
        // arg-narrowed probe prices only the named queries
        if (args.isEmpty) {
        time(s"bpe_train(8) x$m")(
          graft.operators.Bpe.train(
            spark.read.parquet(s"$sd/documents.parquet"),
            "doc_id", "text", nMerges = 8).count())
        // the 100 TB trainer posture: the slice percentage becomes an
        // ABSOLUTE row budget (pct = 2500/m bp of the ×m corpus ⇒
        // constant expected slice size), so the per-round pair count —
        // the trainer's one corpus-linear term — stays flat while the
        // corpus grows two decades. Finer-grained bucket (mod 10⁴)
        // than Curation's mod-100 so ×100 still selects 0.25 %.
        time(s"bpe_train_sampled(8) x$m")(
          graft.operators.Bpe.train(
            spark.read.parquet(s"$sd/documents.parquet")
              .filter(graft.operators.Dedup.hash32(71,
                  org.apache.spark.sql.functions.col("doc_id")
                    .cast("string")) % 10000
                < org.apache.spark.sql.functions.lit(2500L / m)),
            "doc_id", "text", nMerges = 8).count())
        }
      }
    }
    spark.stop()
  }
}
