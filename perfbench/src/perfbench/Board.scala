package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{CacheRegistry, SparkEntry}

/** `operator_board`: the library surface of the driver bench. Bench's
  * 20-query flagship list (one query per family) plus the four
  * driver-mirror and streaming queries, on a TPC-H-ish test-data
  * directory. Each query runs cache-cold and after a GC, as in `Bench`,
  * timed by `.count()`; the first pass is warm-up and carries the answer
  * checks.
  */
object Board {
  val Flagship: Seq[String] = Seq("q1_agg", "q_star_join", "q_topk",
    "q_window_rank", "q_sha2_sk", "q_merge_upsert", "q_neo_gold_fact",
    "q_neo_silver", "q_dedup_exact", "q_dedup_keyed", "q_minhash_lsh_pairs",
    "q_simhash", "q_ann_cosine_topk", "q_ann_ivf_topk", "q_bm25_topk",
    "q_lang_id", "q_quality_score", "q_pagerank_centrality",
    "q_stream_sessionize", "q_sql_serving")
  val Queries: Seq[String] = Flagship ++ Seq("q_dbscan", "q_logit_fit_sampled",
    "q_mmr_diversify", "q_stream_neardup_once")

  def layer(q: String): String =
    if (q.startsWith("q_stream_")) "streaming.board_query"
    else "operators.board_query"

  private def cold(spark: SparkSession): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    System.gc()
  }

  /** Row count and an order-insensitive hash of the full answer. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(to_json(struct(col("*")))), lit(4294967296L))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Query name -> (rows, hash) from the recorded-answers file's text. */
  def parseExpected(text: String): Map[String, (Long, Long)] = {
    val entry = """"(q\w+)":\{"rows":(\d+),"hash":(\d+)\}""".r
    entry.findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def run(run: Run): Outcome = {
    val spark = run.spark
    val dir = run.opts.sfDir.getOrElse(
      throw new IllegalArgumentException("operator_board needs --sf-dir"))
    val expected = parseExpected(Files.readString(Paths.get(run.opts.expected
      .getOrElse(throw new IllegalArgumentException("operator_board needs --expected")))))

    // warm-up pass: every query once, then its answer fingerprint
    val seen = Queries.map { q =>
      cold(spark)
      q -> Try {
        val df = SparkEntry.queries(q)(spark, dir)
        df.count()
        fingerprint(df)
      }
    }.toMap
    val wrong = Queries.filterNot(q =>
      seen(q).toOption.exists(got => expected.get(q).contains(got)))
    wrong.foreach(q => run.log(s"$q answer ${seen(q)} != recorded ${expected.get(q)}"))
    val setupS = run.sinceStartS()
    run.tracer.phase = "loop"

    val minPasses = run.minOps(1)
    val passes = mutable.ArrayBuffer.empty[Double]
    val tracedPass, untracedPass = mutable.ArrayBuffer.empty[Double]
    val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var failed = wrong.size
    var attempted = Queries.size
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < run.opts.seconds ||
        passes.size < minPasses) {
      val isTraced = run.traceIteration(passes.size)
      val total = Queries.map { q =>
        cold(spark)
        val (ms, r) = run.timed(run.tracer.span(layer(q))(
          SparkEntry.queries(q)(spark, dir).count()))
        attempted += 1
        // the timed count must match the checked answer's row count
        if (!r.toOption.exists(n => seen(q).toOption.exists(_._1 == n))) failed += 1
        perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
        ms
      }.sum
      passes += total / 1000
      (if (isTraced) tracedPass else untracedPass) += total
    }
    run.tracer.detach()
    run.tracer.phase = "done"
    val all = perQuery.values.flatten.toSeq
    val passS = Stats.median(passes.toSeq)
    Outcome(attempted, failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("op_ms_p50", Stats.median(all), "ms"),
        ("pass_s", passS, "s")),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("error_rate", failed.toDouble / attempted, "fraction"),
        ("passes", passes.size.toDouble, "count")),
      notes = Map("query_ms_p50" -> perQuery.map { case (q, v) =>
        q -> Stats.median(v.toSeq) }, "pass_s" -> passes) ++
        run.overheadPct(tracedPass.toSeq, untracedPass.toSeq)
          .map("trace_overhead_pct" -> _))
  }
}
