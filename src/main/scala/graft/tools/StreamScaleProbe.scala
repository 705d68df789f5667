package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.Tables
import graft.streaming.StreamingEvents

/** Dev-only ×1/×10 scale rehearsal for the STREAMING state paths — the
  * stateful operators the gates run at fixture scale, drained here
  * over a replicated corpus to measure how drain wall tracks input
  * volume. Copies offset user_id AND event_id, so keyed state
  * (sessionize: 3 longs/user; rate anomaly: 5 longs/type×1 — types
  * shared; attribution: window touches/user) grows with the
  * replication exactly as a bigger tenant population would.
  *
  * The claim under test: drain time is ~linear in events (micro-batch
  * scan + keyed shuffle), never super-linear in STATE — watermark
  * bounds every store, nothing is sized by history.
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "1,10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Graft.newSession("local[32]", "graft-stream-scale")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base0 = spark.read.parquet(s"$dir/events.parquet")
    val clean = base0.select(col("event_id"),
      timestamp_millis(Tables.epochMs(base0)).as("ts"), col("user_id"),
      col("event_type"), col("value"))

    def stage(m: Int): String = {
      val out = graft.StageDirs.stable(s"stream_scale_x$m")
      val marker = java.nio.file.Paths.get(s"$out/_STAGED")
      if (!Files.exists(marker)) {
        (0 until m).foreach { i =>
          clean.select(
              (col("event_id") + lit(i.toLong * 1_000_000_000L))
                .as("event_id"),
              col("ts"),
              (col("user_id") + lit(i.toLong * 1_000_000_000L))
                .as("user_id"),
              col("event_type"), col("value"))
            .coalesce(2).write.mode(if (i == 0) "overwrite" else "append")
            .parquet(out)
        }
        Files.createDirectories(marker.getParent)
        Files.writeString(marker, "ok")
      }
      out
    }

    // sink selection: the memory sink (default, the gate harness shape)
    // accumulates every output row DRIVER-side — at ×100 that is 10M+
    // rows of driver heap and GC, a cost a production parquet/Kafka
    // sink never pays. SPARK_GRAFT_STREAM_SINK=noop measures the
    // TRANSFORM alone (executor-side discard), separating state-store
    // growth from sink accumulation when a multiplier looks
    // super-linear.
    val sinkKind = sys.env.getOrElse("SPARK_GRAFT_STREAM_SINK", "memory")
    var n = 0
    def drain(name: String, out: DataFrame): Unit = {
      n += 1
      val ckpt = Files.createTempDirectory("graft_sscale_ckpt_")
      val t0 = System.nanoTime()
      val base = out.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append")
      val q = (if (sinkKind == "noop") base.format("noop")
               else base.format("memory").queryName(s"sscale_$n")).start()
      require(q.awaitTermination(600000), s"$name did not drain")
      q.stop()
      val rows =
        if (sinkKind == "noop") -1L else spark.table(s"sscale_$n").count()
      println(f"[streamscale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  out_rows=$rows")
    }

    // optional stream filter (comma-separated names) to re-probe one
    // path without re-draining the whole family
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    def want(s: String): Boolean = only.forall(_.contains(s))

    for (m <- mults) {
      val staged = stage(m)
      def src: DataFrame =
        spark.readStream.schema(clean.schema).parquet(staged)
      def srcE = src.as[StreamingEvents.Event]
      println(s"[streamscale] ── x$m (${spark.read.parquet(staged).count()} events) ──")
      if (want("hourly_counts"))
        drain(s"hourly_counts x$m", StreamingEvents.hourlyCounts(src))
      if (want("sessionize"))
        drain(s"sessionize x$m",
          StreamingEvents.statefulSessionize(srcE).toDF())
      if (want("dedup"))
        drain(s"dedup x$m", StreamingEvents.dedupStream(src))
      if (want("rate_anomaly"))
        drain(s"rate_anomaly x$m",
          StreamingEvents.rateAnomalyStream(srcE).toDF())
      if (want("attribution"))
        drain(s"attribution x$m",
          StreamingEvents.attributionStream(srcE).toDF())
    }

    // ── neardup: arrival batch FIXED, corpus grows ×m ──────────────────
    // The production shape of q_stream_neardup: a bounded ingest batch
    // (the base sf documents, ~5k) probes a corpus that is 10×/100×
    // bigger. Replication makes every incoming doc an m-plicate of its
    // corpus twins, so output grows ~m·4 bands per doc — the measured
    // question is whether the DRAIN grows with the corpus beyond the
    // index build (it must not: the stream side's shuffle is its own
    // band rows; the index side is the one-time batch build).
    // lazy: only the document-fed modes (neardup, quality, uncertainty,
    // decontam) touch documents.parquet — a probe run restricted to
    // event modes must not require the table
    lazy val docsBase = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // ONE table stager for every non-event mode (dir prefix keeps each
    // mode's staged data reusable across runs): ×m disjoint copies
    // with the id column offset, exactly like the event stager above
    def stageTableAs(base: => DataFrame, idCol: String,
                     prefix: String)(m: Int): String = {
      val out = graft.StageDirs.stable(s"$prefix$m")
      val marker = java.nio.file.Paths.get(s"$out/_STAGED")
      if (!Files.exists(marker)) {
        val b = base
        (0 until m).foreach { i =>
          b.select(
              (col(idCol) + lit(i.toLong * 100_000_000L)).as(idCol) +:
                b.columns.filterNot(_ == idCol).toSeq.map(col): _*)
            .coalesce(2)
            .write.mode(if (i == 0) "overwrite" else "append")
            .parquet(out)
        }
        Files.createDirectories(marker.getParent)
        Files.writeString(marker, "ok")
      }
      out
    }
    def stageDocsAs(prefix: String)(m: Int): String =
      stageTableAs(docsBase, "doc_id", prefix)(m)
    if (want("neardup")) {
      val stageDocs = stageDocsAs("stream_scale_docs_x") _
      val arrivalDir = stageDocs(1)
      for (m <- mults) {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        val corpus = spark.read.parquet(stageDocs(m))
        val idx = graft.streaming.StreamingNearDup.corpusIndex(corpus)
        val arrivals = spark.readStream.schema(docsBase.schema)
          .parquet(arrivalDir)
        drain(s"neardup corpus x$m",
          graft.streaming.StreamingNearDup.neardupStream(arrivals, idx))
      }
    }

    // ── quality: arrival batch FIXED, the fitted model's corpus ×m ─────
    // q_stream_quality's production shape: the model is fitted offline
    // on an ×m corpus (that cost is TextScaleProbe's q_logit_fit row),
    // and a bounded arrival batch is scored against its constants. The
    // drain must be FLAT in m — the scorer is a stateless projection
    // whose plan carries only the model literals, so corpus growth can
    // only reach the stream through the offline fit.
    if (want("quality")) {
      val stageQ = stageDocsAs("stream_scale_qdocs_x") _
      val arrivalDir = stageQ(1)
      for (m <- mults) {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val model = graft.operators.TextQueries.fitQualityModel(
          spark.read.parquet(stageQ(m)))
        println(f"[streamscale] quality fit x$m%-17s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        val arrivals = spark.readStream.schema(docsBase.schema)
          .parquet(arrivalDir)
        drain(s"quality score x$m",
          graft.streaming.StreamingQuality.scoreStream(arrivals, model))
      }
    }

    // ── uncertainty: arrivals FIXED, fit + admission cut on ×m ─────────
    // q_stream_uncertainty's production shape: the trainer AND the
    // batch labeling queue (whose k-th row is the published cut) run
    // offline on the ×m corpus; the stream admits a bounded arrival
    // batch against two plan literals. The drain must be FLAT in m —
    // corpus growth reaches the stream only through the offline
    // fit+cut, timed separately here.
    if (want("uncertainty")) {
      val stageU = stageDocsAs("stream_scale_qdocs_x") _
      val arrivalDir = stageU(1)
      for (m <- mults) {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val corpus = spark.read.parquet(stageU(m))
        val model = graft.operators.TextQueries.fitQualityModel(corpus)
        val (thr, tie) = graft.operators.TextQueries.queueAdmissionCut(
          corpus, model, graft.operators.TextQueries.UNC_K)
        println(f"[streamscale] uncertainty fit+cut x$m%-11s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        val arrivals = spark.readStream.schema(docsBase.schema)
          .parquet(arrivalDir)
        drain(s"uncertainty admit x$m",
          graft.streaming.StreamingQuality.queueAdmissionStream(
            arrivals, model, thr, tie))
      }
    }

    // ── decontam: arrivals FIXED, the held-out index grown ×m ──────────
    // q_stream_decontam's production axes: the unbounded side is the
    // STREAM (one micro-batch at a time, stateless), the held side is
    // the eval set — bounded in practice but the one input that can
    // grow the plan (bloom literal + broadcast exact table). Fixed ×1
    // arrival batch against a ×m held index: index build is the
    // offline term; the drain may grow only through bloom probe width
    // and the broadcast build, never the arrival scan.
    if (want("decontam")) {
      val stageD = stageDocsAs("stream_scale_qdocs_x") _
      val arrivalBase = stageD(1)
      val bkt = graft.operators.Curation.hashBucket(col("doc_id"))
      for (m <- mults) {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val idx = graft.streaming.StreamingDecontam.heldIndex(
          spark.read.parquet(stageD(m)).filter(bkt >= 90),
          graft.operators.Curation.DECON_K)
        println(f"[streamscale] decontam index x$m%-14s ${(System.nanoTime() - t0) / 1e9}%8.2f s  bloom_bytes=${idx.bloom.length}")
        val arrivals = spark.readStream.schema(docsBase.schema)
          .parquet(arrivalBase).filter(bkt < 80)
        drain(s"decontam firewall x$m",
          graft.streaming.StreamingDecontam.contaminationStream(
            arrivals, idx))
      }
    }

    // ── novelty: arrivals FIXED, k-center cover fitted on ×m ───────────
    // The VectorScaleProbe novelty rows grow ARRIVALS with m (the gate
    // streams the staged table itself); this mode isolates the other
    // axis — a bounded arrival batch scored against seeds fitted on an
    // ×m corpus. Seeds are k plan literals regardless of corpus size,
    // so the drain must be FLAT in m; the Gonzalez fit (k bounded
    // scans over ×m rows) is the offline term, timed separately.
    if (want("novelty_fixed")) {
      lazy val embBase = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      def stageE(m: Int): String =
        stageTableAs(embBase, "vec_id", "stream_scale_emb_x")(m)
      val arrivalDir = stageE(1)
      for (m <- mults) {
        graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
        val corpus = spark.read.parquet(stageE(m))
        val arrivals = spark.readStream.schema(embBase.schema)
          .parquet(arrivalDir)
        val t0 = System.nanoTime()
        val scored =
          graft.operators.VectorQueries.noveltyScore(arrivals, corpus)
        println(f"[streamscale] novelty fit x$m%-15s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        drain(s"novelty score-fixed x$m", scored)
      }
    }
    spark.stop()
  }
}
