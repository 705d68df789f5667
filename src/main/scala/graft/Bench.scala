package graft
import org.apache.spark.sql.SparkSession

import graft.operators.Observability

/** Driver-run benchmark: times every SparkEntry query at the given SF.
  *
  * Robustness protocol (round-4, after the round-3 record showed 2-9×
  * session-noise swings on unchanged plans):
  *   - every query is timed `reps` times (default 3) and the RECORD is
  *     the per-query median — one slow outlier (GC pause, page-cache
  *     miss, JIT deopt) no longer defines a query's official number;
  *   - caches are released before EVERY timed run
  *     ([[CacheRegistry.releaseAll]] + catalog.clearCache), so each
  *     query pays its own cache fills and inherits nothing from
  *     whoever ran before it — timings are order-independent;
  *   - an explicit GC runs before each timed run, so one query's
  *     garbage is not another query's pause;
  *   - queries run in sorted-name order (not Map hash order); PERF.md
  *     §Bench robustness & the order audit has the reverse-order run;
  *   - each timed `.count()` runs inside [[Observability.launched]],
  *     which counts the Spark jobs and tasks it launched (a stream
  *     gate's micro-batch jobs included); the listener-drain job that
  *     completes the count runs after the timer stops.
  *
  * Output: ONE JSON line `{"metric":"total","value":<sum of medians>,
  * "unit":"sec","queries":{name:median},"sf":...}` (the driver's
  * contract), plus diagnostic keys `cpus`, `reps`, `rep_totals`, and the
  * rep-hygiene pair `calib`/`noisy_reps` (per-rep fixed-probe times;
  * a rep whose calibration reads >1.5× the best one ran under
  * external load — discount its rep_total when adjudicating
  * round-over-round drift). The full record also carries `jobs` and
  * `tasks`, `{name: median over reps}` of each query's launched Spark
  * jobs and tasks. The stdout
  * line carries a fixed 20-query flagship map so it fits the driver's
  * ~2 KB stdout tail; the full 300+-query map is written to
  * BENCH_FULL.json (or /tmp/bench_partial.json for SPARK_GRAFT_ONLY
  * dev runs, which must never clobber the official record).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Graft.newSession(s"local[$cpus]", "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)

    // dev-only single-query iteration: SPARK_GRAFT_ONLY=q_a,q_b
    // (the driver never sets it, so the recorded suite is always full)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val samples =
      scala.collection.mutable.Map.empty[String, List[Double]]
        .withDefaultValue(Nil)
    val launches =
      scala.collection.mutable.Map.empty[String, List[Observability.Launched]]
        .withDefaultValue(Nil)
    val errors = scala.collection.mutable.Map.empty[String, String]
    // Idle-load calibration (round-15 rep-hygiene protocol): before
    // each rep, time a FIXED cpu-bound probe (pure compute, no IO, no
    // plan novelty after warmup). Identical work every time, so its
    // spread measures MACHINE state, not graft: a rep whose calibration
    // reads >1.5× the best rep's was taken under external load and its
    // rep_total should be discounted when adjudicating round-over-round
    // drift (PERF.md §rep-hygiene). Recorded as `calib` + `noisy_reps`
    // in both JSON records.
    calibrate(spark) // codegen warm — the first probe pays compile cost
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val repTotals = (1 to reps).map { _ =>
      calibs += calibrate(spark)
      names.map { name =>
        // every run starts cold-cache and post-GC: the timed body owns
        // its fills, and nobody pays a predecessor's garbage
        CacheRegistry.releaseAll()
        spark.catalog.clearCache()
        System.gc()
        // a failed rep is an ERROR, never a sample: the elapsed time of
        // a crash is not a measurement, and a query that fails every
        // rep must read as -1 in the record, not as a fast median
        try {
          var sec = 0.0
          launches(name) ::= Observability.launched(spark) {
            val t0 = System.nanoTime()
            SparkEntry.queries(name)(spark, sfDir).count()
            sec = (System.nanoTime() - t0) / 1e9
          }
          samples(name) ::= sec
          sec
        } catch {
          case e: Throwable =>
            // JSON-safe: strip ALL control chars (tabs/newlines in Spark
            // analysis messages would break the record line) and never
            // assume a non-empty message
            val raw = Option(e.getMessage).filter(_.nonEmpty)
              .getOrElse(e.getClass.getName)
            errors(name) =
              raw.replaceAll("[\\p{Cntrl}\"\\\\]", " ").take(160)
            0.0
        }
      }.sum
    }

    def median[T: Ordering](xs: List[T]): T = { val s = xs.sorted; s(s.size / 2) }
    val med = names.map(n =>
      n -> (if (samples(n).isEmpty) -1.0 else median(samples(n))))
    def perQuery[T](f: String => T): String =
      names.map(n => s"\"$n\":${f(n)}").mkString("{", ",", "}")
    val qs = perQuery(med.toMap)
    def launchMedian(count: Observability.Launched => Int)(n: String) =
      if (launches(n).isEmpty) -1 else median(launches(n).map(count))
    val jobsJson = perQuery(launchMedian(_.jobs))
    val tasksJson = perQuery(launchMedian(_.tasks))
    // the headline total sums MEASUREMENTS only: a query that failed
    // every rep reports -1 in `queries` (sentinel) and would otherwise
    // SUBTRACT from the total, mixing sentinel and measurement
    // semantics in one number (the exit-1 below already marks the
    // record invalid; the total should still not lie)
    val total = med.map(_._2).filter(_ >= 0).sum
    val rt = repTotals.mkString("[", ",", "]")
    val errJson =
      if (errors.isEmpty) ""
      else errors.toSeq.sorted
        .map { case (k, v) => s"\"$k\":\"$v\"" }
        .mkString(""","errors":{""", ",", "}")
    val calibJson = calibs.map(c => f"$c%.3f").mkString("[", ",", "]")
    val noisyReps =
      if (calibs.isEmpty) 0
      else calibs.count(_ > calibs.min * 1.5)
    val record = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"reps":$reps,"rep_totals":$rt,"calib":$calibJson,"noisy_reps":$noisyReps,"jobs":$jobsJson,"tasks":$tasksJson$errJson}"""
    // The driver keeps only a ~2 KB TAIL of stdout and parses the last
    // JSON line it finds there. A 337-query map is ~10 KB, so printing
    // the full record decapitated it and BENCH_r08..r10 recorded
    // `parsed: null`. stdout therefore gets a COMPACT line — headline
    // total, rep totals, and a fixed 20-query flagship map (one per
    // family) rounded to ms — that always fits the tail; the FULL
    // per-query record goes to BENCH_FULL.json, which PERF.md documents
    // as the authoritative whole-board map.
    val flagship = Seq("q1_agg", "q_star_join", "q_topk", "q_window_rank",
      "q_sha2_sk", "q_merge_upsert", "q_neo_gold_fact", "q_neo_silver",
      "q_dedup_exact", "q_dedup_keyed", "q_minhash_lsh_pairs", "q_simhash",
      "q_ann_cosine_topk", "q_ann_ivf_topk", "q_bm25_topk", "q_lang_id",
      "q_quality_score", "q_pagerank_centrality", "q_stream_sessionize",
      "q_sql_serving")
    val medMap = med.toMap
    val qsShort = flagship.filter(medMap.contains)
      .map(k => f""""$k":${medMap(k)}%.3f""").mkString("{", ",", "}")
    val rtShort = repTotals.map(t => f"$t%.1f").mkString("[", ",", "]")
    val errShort =
      if (errors.isEmpty) ""
      else s""","n_errors":${errors.size},"failed":${errors.keys.toSeq.sorted
        .map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    val fullPath = fullRecordPath(
      sys.env.get("SPARK_GRAFT_BENCH_OUT"), only.isDefined)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qsShort,"n_queries":${med.size},"sf":"$sfDir","cpus":$cpus,"reps":$reps,"rep_totals":$rtShort,"calib":$calibJson,"noisy_reps":$noisyReps,"full":"${shownRecordPath(fullPath)}"$errShort}""")
    // Persist the FULL record (every per-query median, every structured
    // error) to a file the judge reads directly. A dev run filtered by
    // SPARK_GRAFT_ONLY must never clobber the official whole-board
    // record (that is exactly how the committed BENCH_FULL.json became
    // a single-query dev run in round 10) — partial runs default to a
    // scratch path unless SPARK_GRAFT_BENCH_OUT says otherwise.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath), record + "\n")
    catch { case e: Throwable =>
      Console.err.println(s"[bench] full-record write failed: $e") }
    if (errors.nonEmpty) {
      Console.err.println(s"[bench] ${errors.size} queries FAILED: " +
        errors.keys.toSeq.sorted.mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }

  /** Where the full record goes: `SPARK_GRAFT_BENCH_OUT` when set, else
    * `/tmp/bench_partial.json` for a `SPARK_GRAFT_ONLY` run, else
    * `BENCH_FULL.json` in the working directory (the checkout sbt runs
    * in, as for [[StageDirs.base]]), never another checkout's record.
    */
  private[graft] def fullRecordPath(benchOut: Option[String],
                                    partial: Boolean): String =
    benchOut.getOrElse(
      if (partial) "/tmp/bench_partial.json"
      else java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_FULL.json")
        .toString)

  /** `path` as the stdout record names it: relative to the working
    * directory when the file lies under it, so a default run still
    * prints `BENCH_FULL.json`.
    */
  private[graft] def shownRecordPath(path: String): String = {
    val cwd = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    val p = java.nio.file.Paths.get(path).toAbsolutePath
    if (p.startsWith(cwd)) cwd.relativize(p).toString else path
  }

  /** The rep-hygiene calibration: one timed run of a fixed cpu-bound
    * workload, in seconds (PERF.md §rep-hygiene). The first call pays
    * its codegen compile, so discard it before trusting readings.
    */
  private def calibrate(spark: SparkSession): Double = {
    System.gc()
    val t0 = System.nanoTime()
    // bit_xor, not sum: summing 20M full-range xxhash64 values
    // overflows a long under ANSI arithmetic
    spark.range(0L, 20_000_000L, 1L, 32)
      .selectExpr("bit_xor(xxhash64(id))").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Warm the executor pool and the JIT/codegen families the suite
    * shares — regex tokenize, md5/conv, the higher-order chain
    * (transform/slice/flatten/aggregate), ObjectHashAggregate with the
    * injected `bounded_topk`, the native vector expressions, posexplode
    * banding, and bit_count verify — so first-plan compile cost is not
    * attributed to whichever query runs first. 50 rows, results
    * discarded: this warms CODE, it caches no data.
    */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000).selectExpr("sum(id)").collect()
    // text family: tokenize → hash → ObjectHashAggregate(bounded_topk)
    // → posting-list HOF combos (transform/slice/flatten/struct) — the
    // exact jaccard path
    spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
          .as("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("c"),
        expr("bounded_topk(cast(doc_id as double), doc_id, 3)").as("top"))
      .select(flatten(transform(col("top"), (a, i) =>
        transform(slice(col("top"), i + lit(2), size(col("top"))),
          b => struct(a.getField("n").as("a"), b.getField("n").as("b"))))))
      .count()
    // vector + banding family: native cosine_sim/l2_sq loops, in-row
    // argmin over (d2, cell) structs, posexplode band slicing, bit_count
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      .select(col("vec_id"), col("embedding"))
      .withColumn("d", expr("cosine_sim(embedding, embedding)"))
      .withColumn("cell",
        array_min(transform(array(col("embedding")), c =>
          struct(expr("l2_sq(embedding, embedding)").as("d2"),
            lit(0L).as("cell")))).getField("cell"))
      .select(col("vec_id"), col("d"), col("cell"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("vec_id"), b * 15).bitwiseAND(32767L)): _*)))
      .withColumn("hx", bit_count(col("vec_id").bitwiseXOR(col("col"))))
      .agg(count(lit(1)))
      .collect()
    // PQ family: the nested transform→array_min(struct)→aggregate HOF
    // encode and the dtab[m][codes[m]] ADC lookup pay ~10 s on first
    // touch (PERF.md) — mostly HOF-interpreter JIT, which transfers
    // across queries (unlike whole-stage codegen, keyed on exact text;
    // the per-query median already discards the residual cold rep).
    // Warm the interpreter classes here, not inside a timed rep
    // tuning/accuracy family (round 6): the newest first-touch shapes —
    // wide sig-table self-join folded into a per-pair bitmask, a one-row
    // multi-column aggregate, and a stack() reshape (q_lsh_tuning's
    // ladder) plus a tiny pivot (q_pivot_status) — rep 1 of the r5
    // record paid ~21 s of first-touch cost concentrated here. Warms
    // JIT/interpreter classes; per-query codegen is text-keyed and
    // still paid once per novel plan, which the medians absorb
    locally {
      val sg = spark.read.parquet(s"$sfDir/documents.parquet").limit(50)
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .select(col("doc_id"),
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            .as("h"))
      // reduce h below 2^31 BEFORE the affine multiply: 1.1e9 * 2.1e9
      // fits a long, 1.1e9 * a 60-bit md5 prefix does not (ANSI throws)
      val sig = sg.groupBy(col("doc_id")).agg(
        (0 until 4).map(i =>
          min(expr(s"(1103515245 * (h % 2147483647) + $i) % 2147483647"))
            .as(s"s$i")).head,
        (0 until 4).map(i =>
          min(expr(s"(1103515245 * (h % 2147483647) + $i) % 2147483647"))
            .as(s"s$i")).tail: _*)
      val cands = sg.toDF("doc_a", "ha")
        .join(sg.toDF("doc_b", "hb"),
          col("ha") === col("hb") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val sa = sig.toDF("doc_a" +: (0 until 4).map(i => s"a$i"): _*)
      val sb = sig.toDF("doc_b" +: (0 until 4).map(i => s"b$i"): _*)
      val mask = (0 until 4).map(i =>
        when(col(s"a$i") === col(s"b$i"), lit(1L << i)).otherwise(0L))
        .reduce(_ + _)
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .select(mask.as("mask"))
        .agg(sum(when(col("mask").bitwiseAND(lit(3L)) === 3L, 1L)
            .otherwise(0L)).as("c0"),
          sum(when(col("mask").bitwiseAND(lit(12L)) === 12L, 1L)
            .otherwise(0L)).as("c1"))
        .selectExpr("stack(2, CAST(0 AS BIGINT), c0, " +
          "CAST(1 AS BIGINT), c1) AS (b, c)")
        .count()
      spark.read.parquet(s"$sfDir/orders.parquet").limit(50)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus")
        .agg(count(lit(1)))
        .count()
    }
    spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
      .select(col("vec_id"),
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))")
          .as("vq"))
      .withColumn("cb", array(struct(lit(0).as("k"), col("vq").as("cq"))))
      .withColumn("codes", expr(
        """transform(sequence(0, 3), m ->
          |  array_min(transform(sequence(0, 0), k ->
          |    struct(aggregate(sequence(0, size(vq) div 4 - 1),
          |      CAST(0 AS BIGINT), (acc, d) -> acc +
          |        (vq[m * (size(vq) div 4) + d] -
          |          cb[k].cq[m * (size(vq) div 4) + d]) *
          |        (vq[m * (size(vq) div 4) + d] -
          |          cb[k].cq[m * (size(vq) div 4) + d])) AS dist,
          |      k AS k))).k)""".stripMargin))
      .withColumn("dtab", expr(
        "transform(sequence(0, 3), m -> transform(sequence(0, 0), " +
          "k -> CAST(m AS BIGINT)))"))
      .withColumn("adist", expr(
        "aggregate(sequence(0, 3), CAST(0 AS BIGINT), " +
          "(acc, m) -> acc + dtab[m][codes[m]])"))
      .agg(count(lit(1)))
      .collect()
  }
}
