package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** ORACLE-GATED Structured Streaming — the streaming operators run as
  * real streams (file source → transform → sink) inside `queries()`
  * entries, so their OUTPUT goes through the driver's DuckDB
  * rows+schema+hash gate instead of only spec pins. This upgrades the
  * "streaming twins ≡ batch" claim from a test assertion to the same
  * gate every batch operator faces.
  *
  * Harness: each query stages the events parquet into a file-source
  * directory, runs the [[StreamingEvents]] transform under
  * `Trigger.AvailableNow()` with a FRESH checkpoint in a
  * [[graft.CacheRegistry.scratch]] slot (so every invocation
  * reprocesses from scratch — Verify and each Bench rep get a full
  * run), drains it, and returns the sink table. The staged fixtures
  * are written once ([[graft.StageDirs.stageOnce]]); checkpoints,
  * parquet sinks and memory-sink views are per call and go at
  * [[graft.Graft.releaseCaches]].
  * The memory sink is the conformance harness only — production is the
  * same transform with a parquet/Kafka sink; rows land driver-side
  * here exactly like any gate result does.
  *
  * Determinism contract (what makes a STREAM hash-comparable to SQL):
  *   - one staged file ⇒ one data micro-batch (file source AvailableNow
  *     with no maxFilesPerTrigger), then the no-data batch finalizes
  *     the watermark at floor_ms(max event time) − delay;
  *   - windowed aggregates in append mode emit exactly the windows
  *     with `window_end_ms <= watermark_ms` — INCLUSIVE at equality
  *     (verified empirically: a watermark landing exactly on a window
  *     end emits that window);
  *   - event-time timeouts (statefulSessionize) fire on
  *     `timeout_ms < watermark_ms` — STRICT (the StreamingSpec
  *     equivalence rule);
  *   - the oracle SQL re-derives the same emission rule from
  *     `max(epoch_ms(ts))`, so both engines compute the identical
  *     emitted subset.
  *
  * 100 TB posture: these gates run the SAME code paths the unbounded
  * deployment runs — watermark-bounded state (hourly windows: one row
  * per open (window, type); sessionize: three longs per active user;
  * dedup: id cache bounded by the watermark horizon). Nothing in the
  * transform is sized by history.
  */
object StreamGateQueries {

  private val runCounter = new AtomicInteger(0)

  /** The staged-once fixture home of `what` built from `sfDir`. */
  private def stageTag(sfDir: String, what: String): String =
    s"stream_stage/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}_$what"

  /** Copy the file `from` to `to` through Hadoop's FileSystem. */
  private def copyFile(from: Path, to: Path): Unit = {
    val dst = graft.StageDirs.fs(to)
    FileUtil.copy(graft.StageDirs.fs(from), from, dst, to, false, dst.getConf)
  }

  /** `copies` byte-identical copies of `table`'s parquet in one directory
    * the file source can list, staged once per (sf dir, table, copies).
    * `copies = 2` is the dedup fixture: every event arrives exactly
    * twice. A Spark-written table (a ScaleStage directory) is copied
    * part file by part file: a shallow copy of its directory would stage
    * nothing, and the stream would silently drain zero rows.
    */
  private def stage(sfDir: String, copies: Int,
                    table: String = "events"): String =
    graft.StageDirs.stageOnce(stageTag(sfDir, s"${table}_x$copies")) { out =>
      val src = new Path(s"$sfDir/$table.parquet")
      val fs = graft.StageDirs.fs(src)
      val parts =
        if (!fs.getFileStatus(src).isDirectory) Seq(src)
        else fs.listStatus(src).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
      for (i <- 1 to copies; p <- parts)
        copyFile(p, new Path(out, s"${table}_${i}_${p.getName}"))
    }

  /** Write `df` as the one parquet file `<out>/<name>.parquet`, with
    * mtime `10^12 ms + i · 10 min`: strictly ordered mtimes pin the
    * order a `maxFilesPerTrigger = 1` stream reads the slices in.
    */
  private def writeSlice(df: DataFrame, out: String, name: String,
                         i: Int): Unit = {
    val tmp = new Path(out, s"_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val fs = graft.StageDirs.fs(tmp)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val dst = new Path(out, s"$name.parquet")
    fs.rename(part, dst)
    fs.delete(tmp, true)
    fs.setTimes(dst, 1000000000000L + i * 600000L, -1)
  }

  /** Stage the events table as TWO disjoint parquet files (user_id
    * parity split) with strictly ordered mtimes, so a
    * `maxFilesPerTrigger = 1` stream processes them as two
    * deterministic micro-batches — the fixture update-mode emission
    * semantics need (batch 1: even-user counts; batch 2: cumulative).
    */
  private def stageHalves(s: SparkSession, sfDir: String): String =
    graft.StageDirs.stageOnce(stageTag(sfDir, "halves")) { out =>
      val ev = s.read.parquet(s"$sfDir/events.parquet")
      Seq(0, 1).foreach(half => writeSlice(
        ev.filter(pmod(col("user_id"), lit(2)) === half), out,
        s"half_$half", half))
    }

  /** Stage the events table split by EVENT TIME into three ordered
    * files: slice 0 = the newest 3 h (sets the watermark), slice 1 =
    * the 3–6 h band (burns the batch the late-event watermark lags
    * behind — SPARK-40925 splits the filter watermark from the
    * eviction watermark, and the FILTER one takes effect a batch
    * later), slice 2 = everything older, arriving when the filter
    * watermark is finally live — the rows the stream must DROP. The
    * q_stream_late_drop fixture.
    */
  private val LATE_SPLIT_MS = 3 * 3600000L
  private def stageLate(s: SparkSession, sfDir: String): String =
    graft.StageDirs.stageOnce(stageTag(sfDir, "late3")) { out =>
      val ev = s.read.parquet(s"$sfDir/events.parquet")
      val ms = unix_millis(tsCol(ev.schema))
      val mx = ev.agg(max(ms)).head().getLong(0)
      val (c1, c2) = (mx - LATE_SPLIT_MS, mx - 2 * LATE_SPLIT_MS)
      Seq(ms > c1, ms <= c1 && ms > c2, ms <= c2).zipWithIndex
        .foreach { case (pred, i) =>
          writeSlice(ev.filter(pred), out, s"slice_$i", i) }
    }

  /** Event-time column, type-adaptive exactly like [[graft.Tables.epochMs]]
    * (the testdata generator has changed the parquet physical type
    * before): int64 nanos floor to ms; NTZ relabels under the pinned
    * UTC session; plain timestamp passes through.
    */
  private def tsCol(schema: StructType): Column =
    schema("ts").dataType match {
      case LongType =>
        expr("timestamp_millis((ts - pmod(ts, 1000000)) div 1000000)")
      case TimestampType => col("ts")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other")
    }

  /** Wait up to 300 s for `query` (an AvailableNow trigger) to drain,
    * then stop it.
    */
  private def drain(query: StreamingQuery, label: String): Unit =
    try require(query.awaitTermination(300000),
      s"$label did not drain within 300 s")
    finally query.stop()

  /** Drain `out` in output mode `mode` into a uniquely named memory sink
    * and return the sink's table. The checkpoint is a fresh scratch
    * slot, so every call reprocesses from scratch; the slot and the
    * sink's view live until [[graft.CacheRegistry.releaseAll]].
    */
  private def runToTable(s: SparkSession, out: DataFrame,
                         mode: String = "append"): DataFrame = {
    val nm = graft.CacheRegistry.registerView(s,
      s"graft_stream_gate_${runCounter.incrementAndGet()}")
    drain(out.writeStream.format("memory").queryName(nm)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", graft.CacheRegistry.scratch("stream_ckpt"))
      .outputMode(mode).start(), s"stream gate $nm")
    s.table(nm)
  }

  private def eventsStream(s: SparkSession, dir: String,
                           copies: Int = 1): DataFrame = {
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    s.readStream.schema(schema).parquet(stage(dir, copies))
      .select(col("event_id"), tsCol(schema).as("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  /** The documents table replayed as a file-source stream — the
    * ingestion fixture for the stream-vs-static near-dup gate.
    *
    * The batch is FANNED OUT to the session's parallelism (r16): the
    * staged fixture is one parquet file, so without the repartition
    * every consumer's per-row map work (regex shingling, md5 per
    * shingle, MinHash, model scoring) serialized onto a single core
    * below the first exchange — the neardup gate's 5.8 s addBatch was
    * exactly that single-task stage (PERF.md §Retired probe mains).
    * Same rationale (and row-identical semantics) as
    * [[graft.Tables.load]]'s compute-heavy fan-out: a production
    * micro-batch arrives as many files and the exchange moves
    * batch-sized bytes, never corpus-sized state.
    */
  private def docsStream(s: SparkSession, dir: String): DataFrame = {
    val schema = s.read.parquet(s"$dir/documents.parquet").schema
    s.readStream.schema(schema)
      .parquet(stage(dir, copies = 1, table = "documents"))
      .select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
  }

  // ────────────────────────────────────────────────────────────────────
  // Queries
  // ────────────────────────────────────────────────────────────────────

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── watermarked tumbling-window counts, append-mode emission ───────
    // The finalized subset: windows whose end the final watermark
    // passed (inclusive). total_value is deliberately NOT in the gate
    // projection — it is a raw double sum whose partial order streaming
    // does not pin; the exact-count contract is what append-mode
    // finalization guarantees.
    "q_stream_hourly_counts" -> { (s, dir) =>
      import s.implicits._
      val res = runToTable(s,
        StreamingEvents.hourlyCounts(eventsStream(s, dir)))
      res.select(unix_millis(col("window_start")).as("window_start_ms"),
        col("event_type"), col("n"))
    },

    // ── custom flatMapGroupsWithState sessionization ───────────────────
    // The full state machine under the hash gate: sessions closed by an
    // in-stream gap emit in the data batch; the per-user OPEN session
    // emits via event-time timeout iff (last + gap) < final watermark.
    "q_stream_sessionize" -> { (s, dir) =>
      import s.implicits._
      runToTable(s, StreamingEvents.statefulSessionize(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
    },

    // ── dropDuplicatesWithinWatermark under REAL duplication ───────────
    // The fixture stages every event TWICE (two byte-identical files in
    // one micro-batch); the stream must emit exactly one row per
    // event_id — n_rows == n_ids == the single-copy distinct count per
    // type, which is what the oracle computes from ONE copy.
    "q_stream_dedup" -> { (s, dir) =>
      val ded = runToTable(s,
        StreamingEvents.dedupStream(eventsStream(s, dir, copies = 2)))
      ded.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"))
    },

    // ── stream-static broadcast enrichment, null-padded misses ─────────
    // enrichStream's LEFT-join contract under the hash gate: every
    // event flows through exactly once; events whose user has a
    // customer row pick up c_mktsegment, the rest surface as the NULL
    // segment group instead of silently dropping (the inner-join
    // enrichment bug this operator exists to avoid). Stateless — the
    // dim is re-planned and broadcast per micro-batch, so the gate is
    // the plain batch left join.
    "q_stream_enrich" -> { (s, dir) =>
      val dim = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val enriched = runToTable(s, StreamingEvents.enrichStream(
        eventsStream(s, dir), dim, "user_id"))
      enriched.groupBy(col("segment"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .as("sum_cents"))
    },

    // ── train-offline / score-online quality filtering ─────────────────
    // The logistic quality filter is FITTED on the static corpus (the
    // q_logit_fit trainer, full slice), then every document arriving
    // on the stream is scored in-row against the model constants —
    // stateless, no broadcast, no state store (StreamingQuality). The
    // rollup (docs and summed score per verdict) must equal the batch
    // replay of fit + score exactly: the serving path and the training
    // forward pass can never drift.
    "q_stream_quality" -> { (s, dir) =>
      val model = graft.operators.TextQueries.fitQualityModel(
        graft.Tables.load(s, dir, "documents"))
      val out = runToTable(s, StreamingQuality.scoreStream(
        docsStream(s, dir), model))
      out.groupBy(col("verdict"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("score_m")).as("score_sum_m"))
    },

    // ── streaming labeling-queue admission (active learning online) ────
    // The batch fit publishes its admission cut — the UNC_K-th
    // smallest margin and its tie doc_id (queueAdmissionCut) — and
    // each arriving document is scored in-row and admitted iff its
    // margin beats the cut, the batch queue's own tie rule. Stateless
    // (model + cut are plan literals); the fixture replays the corpus,
    // so the admitted set must equal the batch marginQueue exactly.
    "q_stream_uncertainty" -> { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "documents")
      // one persisted feature projection serves the fit AND the
      // admission-cut scoring pass (plan-match cache substitution; r16)
      graft.CacheRegistry.register(
        graft.operators.TextQueries.qualityBpOf(corpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val model = graft.operators.TextQueries.fitQualityModel(corpus)
      val (thr, tie) = graft.operators.TextQueries.queueAdmissionCut(
        corpus, model, graft.operators.TextQueries.UNC_K)
      runToTable(s, StreamingQuality.queueAdmissionStream(
        docsStream(s, dir), model, thr, tie))
    },

    // ── streaming novelty vs the batch-fitted k-center cover ───────────
    // Out-of-distribution admission: the maximin seeds are fitted ONCE
    // on the corpus, each arriving embedding is assigned in-row to its
    // nearest seed (literals in the plan — stateless) and banded on
    // the cover-radius quartile scale (band 4 = OUTSIDE the Gonzalez
    // cover — farther from every seed than any corpus point ever was).
    // The fixture replays the embeddings table itself, so every
    // per-point (nearest seed, d², band) must equal the batch
    // assignment.
    "q_stream_novelty" -> { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "embeddings")
      val schema = corpus.select(col("vec_id"), col("embedding")).schema
      val in = s.readStream.schema(schema)
        .parquet(stage(dir, copies = 1, table = "embeddings"))
        .select(col("vec_id"), col("embedding"))
      runToTable(s, graft.operators.VectorQueries.noveltyScore(in, corpus))
    },

    // ── streaming score-drift monitor (model monitoring online) ────────
    // The slice-fitted model publishes its BASELINE score histogram
    // (per-bin counts over the fit slice); every arriving doc is
    // scored and binned in-row (stateless — model + grid as literals)
    // and the rollup compares per-bin ppm shares, the drift signal a
    // deployed filter is monitored by. One scoreBins definition serves
    // baseline and stream, so the monitor can never bin differently
    // than its own baseline; the fixture replays the corpus, making
    // the observed side the full-corpus histogram exactly.
    "q_stream_score_drift" -> { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "documents")
      val gate = graft.operators.TextQueries.qualitySliceGate
      // one persisted feature projection serves the slice fit AND the
      // baseline scoring pass (plan-match cache substitution; r16).
      // The slice gate is applied AFTER scoreBins (a row-wise
      // projection preserving doc_id), which is row-for-row identical
      // to filtering first but lets the cached subtree match.
      graft.CacheRegistry.register(
        graft.operators.TextQueries.qualityBpOf(corpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val model =
        graft.operators.TextQueries.fitQualityModelSliced(corpus, gate)
      // the ≤18-row histogram is read twice (join side + nb total) —
      // persist it so the slice scoring pass runs once, not three times
      val base = graft.CacheRegistry.register(
        StreamingQuality.scoreBins(corpus, model).filter(gate)
          .groupBy(col("bin")).agg(count(lit(1)).as("n_base"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val out = runToTable(s,
        StreamingQuality.scoreBins(docsStream(s, dir), model))
      val obs = out.groupBy(col("bin")).agg(count(lit(1)).as("n_obs"))
      obs.join(base, Seq("bin"), "left")
        .na.fill(0L, Seq("n_base"))
        .crossJoin(broadcast(base.agg(sum(col("n_base")).as("nb"))))
        .crossJoin(broadcast(obs.agg(sum(col("n_obs")).as("nt"))))
        .select(col("bin"), col("n_base"), col("n_obs"),
          expr("n_base * 1000000L div nb").as("base_share_ppm"),
          expr("n_obs * 1000000L div nt").as("obs_share_ppm"),
          expr("n_obs * 1000000L div nt - n_base * 1000000L div nb")
            .as("delta_ppm"))
    },

    // ── streaming decontamination firewall (eval hygiene at ingest) ────
    // The held-out split's hashed shingles are indexed once offline
    // (exact table + bloom literal); each arriving train-split doc is
    // shingled in-row, bloom-prefiltered MAP-SIDE, and exact-joined
    // against the broadcast held table — stateless, no state store.
    // The fixture streams the train split itself, so the per-doc
    // rollup must equal the batch q_decontaminate join exactly (the
    // bloom only prunes; the exact join removes its false positives).
    "q_stream_decontam" -> { (s, dir) =>
      val b = graft.Tables.load(s, dir, "documents")
      val bkt = graft.operators.Curation.hashBucket(col("doc_id"))
      val idx = StreamingDecontam.heldIndex(
        b.filter(bkt >= 90), graft.operators.Curation.DECON_K)
      val out = runToTable(s, StreamingDecontam.contaminationStream(
        docsStream(s, dir).filter(bkt < 80), idx))
      out.groupBy(col("doc_id"))
        .agg(countDistinct(col("test_id")).as("n_test_docs"),
          countDistinct(col("shingle")).as("n_shared_shingles"))
    },

    // ── streaming near-dup vs the static corpus (ingestion dedup) ──────
    // Each incoming doc's MinHash bands probe the batch-built corpus
    // index; candidates are exact-Jaccard-verified IN-ROW (shingle-set
    // intersect — stateless, no second corpus pass). The fixture
    // replays the documents table itself, so the verified matches are
    // exactly the SYMMETRIC closure of the batch LSH-verified pairs;
    // the rollup below (per incoming doc: how many corpus matches, how
    // close, over how many band collisions) is what an ingestion
    // pipeline actually routes on.
    "q_stream_neardup" -> { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "documents")
      val out = runToTable(s, StreamingNearDup.neardupStream(
        docsStream(s, dir), StreamingNearDup.corpusIndex(corpus)))
      out.groupBy(col("doc_id"))
        .agg(countDistinct(col("match_id")).as("n_matches"),
          max(col("jaccard_bp")).as("best_jaccard_bp"),
          count(lit(1)).as("n_band_hits"))
    },

    // ── streaming MEDIA near-dup vs the static corpus ──────────────────
    // The multimodal twin of q_stream_neardup: arriving binary
    // payloads are average-hashed in-row, their Hamming band keys
    // probe the corpus's banded index (one shared banding definition
    // with the batch detector), candidates exact-verified by
    // bit_count(xor) in-row. The fixture replays the media table, so
    // the per-media rollup is the symmetric closure of the batch
    // q_media_neardup pairs with band-collision multiplicity.
    "q_stream_media_dedup" -> { (s, dir) =>
      val corpus = graft.operators.Multimodal.fakeMedia(
        graft.Tables.load(s, dir, "documents"))
      val idx = StreamingMediaDedup.corpusIndex(corpus)
      val out = runToTable(s, StreamingMediaDedup.mediaMatchStream(
        graft.operators.Multimodal.fakeMedia(docsStream(s, dir)), idx))
      out.groupBy(col("media_id"))
        .agg(countDistinct(col("match_id")).as("n_matches"),
          min(col("hamming")).as("best_hamming"),
          count(lit(1)).as("n_band_hits"))
    },

    // ── PRODUCTION exactly-once near-dup emission ──────────────────────
    // The same stream-static band join + in-row verify, but each
    // verified (doc, match) pair emits EXACTLY ONE row: a synthetic
    // arrival timestamp rides the stream and
    // dropDuplicatesWithinWatermark collapses multi-band collisions
    // with state bounded by the watermark horizon (the shape an
    // unbounded ingestion pipeline ships — plain dropDuplicates would
    // hold all history). Every emitted column is a pure function of
    // the pair, so the row SET is hash-gated directly.
    "q_stream_neardup_once" -> { (s, dir) =>
      val corpus = graft.Tables.load(s, dir, "documents")
      val in = docsStream(s, dir).withColumn("ingest_ts",
        timestamp_millis(lit(1700000000000L) + col("doc_id")))
      runToTable(s, StreamingNearDup.neardupStreamExactlyOnce(
        in, StreamingNearDup.corpusIndex(corpus),
        "ingest_ts", "10 minutes"))
    },

    // ── first-seen identity state (new vs returning), daily rollup ─────
    // NoTimeout keyed state: each user's first-seen day decides
    // new/returning; the daily rollup over the emitted stream must
    // equal the batch first-day derivation exactly.
    "q_stream_new_vs_returning" -> { (s, dir) =>
      import s.implicits._
      val out = runToTable(s, StreamingEvents.newVsReturningStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
      out.groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"))
    },

    // ── incremental Markov transitions → the batch matrix ──────────────
    // transitionsStream emits one (prev → next) fact per consecutive
    // pair; the rollup (+ margins + ppm rates) must equal
    // q_event_transitions' batch matrix exactly — the in-order
    // single-batch case where the no-replay convention never fires.
    "q_stream_transitions" -> { (s, dir) =>
      import s.implicits._
      // localCheckpoint: the memory-sink MemoryPlan cannot deduplicate
      // attribute refs in a self-join (margins join matrix below) —
      // checkpointing rebases both consumers on a LogicalRDD, which
      // can. Bounded: one row per consecutive event pair.
      val tr = runToTable(s, StreamingEvents.transitionsStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
        .localCheckpoint()
      val tot = tr.groupBy(col("prev_type"))
        .agg(count(lit(1)).as("n_from"))
      tr.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .join(broadcast(tot), "prev_type")
        .withColumn("prob_ppm", expr("n_trans * 1000000 div n_from"))
    },

    // ── incremental ordered funnel → per-step user counts ──────────────
    // funnelStream's gate-refinement state machine, counted per step;
    // equals the batch min-time cascade (view → click → purchase) on
    // an in-order stream.
    "q_stream_funnel" -> { (s, dir) =>
      import s.implicits._
      val adv = runToTable(s, StreamingEvents.funnelStream(
        eventsStream(s, dir).as[StreamingEvents.Event],
        Seq("view", "click", "purchase")).toDF())
      adv.groupBy(col("step"), col("step_name"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ── stream-stream INNER attribution join ───────────────────────────
    // click triggers ⋈ purchase actions within 30 min, both sides
    // watermarked — the canonical conversion-attribution join. Inner
    // matches emit as found (no watermark hold), so the single-batch
    // emitted set equals the batch time-bound join. Timestamps are
    // ms-truncated BEFORE the join so the bound arithmetic is exact in
    // the same unit the oracle computes.
    "q_stream_attribution" -> { (s, dir) =>
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_millis(unix_millis(ts))").as("ts"))
      runToTable(s, StreamingEvents.attributionJoin(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase")))
        .select(col("user_id"), col("trigger_id"), col("action_id"),
          unix_millis(col("trigger_ts")).as("trigger_ms"),
          unix_millis(col("action_ts")).as("action_ms"))
    },

    // ── stream-stream LEFT OUTER attribution join ──────────────────────
    // The deferred-null semantics under the gate: a non-converting
    // trigger null-pads only once the final watermark PROVES no action
    // can still arrive — trigger_ms + bound < min(max_click_ms,
    // max_purchase_ms) − 2 h (global watermark = min over both
    // inputs). Triggers still inside their match window at end of
    // stream are PENDING and must not appear; the oracle re-derives
    // all three classes (matched / proven-unmatched / pending).
    "q_stream_attribution_outer" -> { (s, dir) =>
      val ev = eventsStream(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_millis(unix_millis(ts))").as("ts"))
      runToTable(s, StreamingEvents.attributionJoinLeftOuter(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase")))
        .select(col("user_id"), col("trigger_id"), col("action_id"),
          unix_millis(col("trigger_ts")).as("trigger_ms"),
          unix_millis(col("action_ts")).as("action_ms"))
    },

    // ── sharded Misra–Gries heavy hitters, exact regime ────────────────
    // The shard axis is a JVM-hash routing detail (projected out);
    // with |distinct types| ≤ capacity the merged counters are EXACT,
    // so the gate is the plain per-type count — what "replaying the
    // stream reproduces the batch sketch" means when nothing evicts.
    "q_stream_heavy_hitters" -> { (s, dir) =>
      import s.implicits._
      val hh = runToTable(s, StreamingEvents.heavyHittersStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
      hh.groupBy(col("t").as("event_type"))
        .agg(sum(col("c")).as("n"))
    },

    // ── incremental fixed-bin quantile histograms ──────────────────────
    // Per-type bin counts (value div 5 — the batch q_mergeable_quantiles
    // bins); a single-batch replay must reproduce the batch histogram
    // bit-for-bit. rev is projected out (it counts micro-batches, a
    // harness detail, not data).
    "q_stream_quantile_bins" -> { (s, dir) =>
      import s.implicits._
      val qr = runToTable(s, StreamingEvents.quantileStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
      qr.select(col("event_type"), col("bin"), col("c").as("n"))
    },

    // ── EWMA smoothing over the FINALIZED hourly series ────────────────
    // The streaming twin of q_ewma_daily's comb, on the watermark-
    // finalized per-(type, hour) counts the stream emits: smoothing is
    // a deterministic function OF the finalized series, so it runs as
    // a bounded batch window over the drained sink (|types|·|hours|
    // rows — the same post-aggregation pattern as
    // q_stream_heavy_hitters), never as a second stateful stage racing
    // the first one's emissions. 10-term halving weights over PRESENT
    // hours, renormalizing on ramp-up; all integer.
    "q_stream_ewma" -> { (s, dir) =>
      val res = runToTable(s,
        StreamingEvents.hourlyCounts(eventsStream(s, dir)))
        .select(unix_millis(col("window_start")).as("hour_ms"),
          col("event_type"), col("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("hour_ms"))
      val num = (0 until 10).map { k =>
        coalesce(lag(col("n"), k).over(w), lit(0L)) * lit(1L << (9 - k))
      }.reduce(_ + _)
      val den = (0 until 10).map { k =>
        when(lag(col("n"), k).over(w).isNotNull, lit(1L << (9 - k)))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      res.withColumn("num", num).withColumn("den", den)
        .selectExpr("event_type", "hour_ms", "n",
          "num * 1000 div den AS ewma_milli")
    },

    // ── complete-mode per-type freshness (max event time) state ────────
    // The streaming twin of q_freshness_lag and the one COMPLETE-mode
    // gate: an unwatermarked per-type max is the canonical
    // always-current staleness monitor (state = one long per type —
    // bounded by the type domain, never history). The sink table after
    // drain must equal the batch per-type max exactly; the head/lag
    // readout derives from the |types|-row result.
    "q_stream_freshness" -> { (s, dir) =>
      val perType = runToTable(s,
        eventsStream(s, dir)
          .select(col("event_type"), unix_millis(col("ts")).as("ms"))
          .groupBy(col("event_type")).agg(max(col("ms")).as("last_ms")),
        "complete")
      val head = perType.agg(max(col("last_ms")).as("head_ms"))
      perType.crossJoin(broadcast(head))
        .select(col("event_type"), col("last_ms"),
          (col("head_ms") - col("last_ms")).as("lag_ms"),
          (col("head_ms") - col("last_ms") > 86400000L).as("is_stale"))
    },

    // ── watermark LATE-DATA DROP over three real micro-batches ─────────
    // The semantics every watermark claim rests on, proven POSITIVELY:
    // batch 1 (newest 3 h) sets the watermark to max − 2 h; batch 2
    // (the 3–6 h band) burns the one-batch lag SPARK-40925 gives the
    // late-event FILTER watermark (its rows are accepted and finalized
    // — the probe-measured behavior, eviction wm ≠ filter wm); batch 3
    // delivers everything older, now genuinely filtered as late
    // (numRowsDroppedByWatermark > 0). The drained counts must equal
    // the slices-0∪1-only aggregation: one slice-2 row counted
    // anywhere fails the hash. The oracle computes the newest-6 h
    // counts with the same emission cut.
    "q_stream_late_drop" -> { (s, dir) =>
      val staged = stageLate(s, dir)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val st = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(staged)
        .select(tsCol(schema).as("ts"), col("event_type"), col("value"))
      val res = runToTable(s,
        StreamingEvents.hourlyCounts(st))
      res.select(unix_millis(col("window_start")).as("window_start_ms"),
        col("event_type"), col("n"))
    },

    // ── exactly-once RESUME from checkpoint (two query incarnations) ───
    // The recovery contract a production stream lives on, as a gate:
    // incarnation 1 drains HALF the events into a parquet sink and
    // stops; the second half lands in the source dir; incarnation 2
    // starts with the SAME checkpoint + sink and must process ONLY the
    // new file — the file-sink manifest plus the source offset log make
    // the pair exactly-once. The sink is then batch-read and reduced
    // per type; a re-processed first half doubles counts, a skipped
    // second half undercounts, either fails the hash against the plain
    // whole-table oracle. Fresh dirs per invocation (Verify and every
    // Bench rep replay the full two-incarnation lifecycle).
    "q_stream_resume" -> { (s, dir) =>
      val halves = stageHalves(s, dir)
      val Seq(src, sink, ckpt) = Seq("resume_src", "resume_sink",
        "resume_ckpt").map(graft.CacheRegistry.scratch)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      def incarnation(half: Int): Unit = {
        copyFile(new Path(s"$halves/half_$half.parquet"),
          new Path(src, s"half_$half.parquet"))
        drain(s.readStream.schema(schema).parquet(src)
          .select(col("event_id"), col("event_type"))
          .writeStream.format("parquet")
          .option("path", sink)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start(), "resume gate incarnation")
      }
      incarnation(0)
      incarnation(1)
      s.read.parquet(sink)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("event_id")).as("n_ids"))
    },

    // ── native session_window aggregation as a STREAM ──────────────────
    // Spark's built-in session windows (merging interval state) beside
    // statefulSessionize's hand-rolled state machine: same gap rule,
    // engine-managed merge. Append mode emits sessions whose END the
    // final watermark passed (inclusive, same empirical rule as the
    // tumbling tier); the oracle derives the identical session set from
    // the batch gap rule + the emission cut.
    "q_stream_session_window" -> { (s, dir) =>
      val res = runToTable(s,
        eventsStream(s, dir)
          .withWatermark("ts", "2 hours")
          .groupBy(col("user_id"),
            session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_events")))
      res.select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"))
    },

    // ── UPDATE-mode emission semantics over two real micro-batches ─────
    // The third output mode under the gate (append: windowed tiers;
    // complete: freshness/KMV): an unwatermarked per-type count with
    // maxFilesPerTrigger = 1 over the two-half staged fixture emits
    // only the CHANGED keys per batch — batch 1 the even-user counts,
    // batch 2 the cumulative totals for types the odd half touched.
    // The sink (an emission LOG, not a snapshot) is reduced per type to
    // (n_emissions, n_first, n_final); the oracle re-derives all three
    // from the parity split — the emission rule is the thing proven.
    "q_stream_update_counts" -> { (s, dir) =>
      val staged = stageHalves(s, dir)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      runToTable(s, s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(staged)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n")), "update")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_emissions"),
          min(col("n")).as("n_first"), max(col("n")).as("n_final"))
    },

    // ── KMV distinct sketch as STREAMING state (complete mode) ─────────
    // graft's `kmv_sketch` TypedImperativeAggregate run as real stream
    // state: k smallest DISTINCT hashes per type (state = ≤ k longs per
    // type — duplicate arrivals are no-ops by construction, which is
    // why bounded_topk can't play this role), estimator read off the
    // drained sink. The oracle re-derives h₍ₖ₎ from the same md5 hash
    // stream, so the STREAMING sketch faces the batch hash gate —
    // q_kmv_distinct's merge-exactness story, now incremental.
    "q_stream_kmv" -> { (s, dir) =>
      import graft.operators.Sketches.{KMV_K, KMV_RANGE}
      val perType = runToTable(s,
        eventsStream(s, dir)
          .select(col("event_type"),
            conv(substring(md5(concat(lit("kmv:"),
              col("user_id").cast("string"))), 1, 13), 16, 10)
              .cast("long").as("h"))
          .groupBy(col("event_type"))
          .agg(expr(s"kmv_sketch(h, $KMV_K)").as("sketch")), "complete")
      perType.select(col("event_type"),
        size(col("sketch")).cast("long").as("sketch_size"),
        when(size(col("sketch")) === KMV_K,
          expr(s"get(sketch, ${KMV_K - 1})")).as("kth_h"),
        when(size(col("sketch")) === KMV_K,
          expr(s"${(KMV_K - 1).toLong} * $KMV_RANGE" +
            s" div get(sketch, ${KMV_K - 1})"))
          .otherwise(size(col("sketch")).cast("long"))
          .as("est_distinct"))
    },

    // ── zone maps maintained as streaming ingest state ─────────────────
    // The file-footer stats q_zone_pruning consults don't have to be
    // recomputed by a layout pass — at ingest time they are a
    // complete-mode streaming aggregate: per z-bucket row count and
    // min/max of both dimensions, maintained incrementally as files
    // land (min/max/count are all merge-monotone, so state is exactly
    // |buckets| rows forever). The drained table must hash-match the
    // batch q_zorder_layout derivation — the zone-map twin of
    // q_stream_cms's "incremental ≡ batch" claim.
    "q_stream_zone_maps" -> { (s, dir) =>
      import graft.operators.ZOrder
      val schema = s.read.parquet(s"$dir/lineitem.parquet").schema
      runToTable(s,
        s.readStream.schema(schema)
          .parquet(stage(dir, 1, table = "lineitem"))
          .select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
            shiftright(ZOrder.zValue(col("l_partkey"), col("l_suppkey")),
              ZOrder.LAYOUT_SHIFT).as("zbucket"))
          .groupBy(col("zbucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("x")).as("x_min"), max(col("x")).as("x_max"),
            min(col("y")).as("y_min"), max(col("y")).as("y_max")),
        "complete")
    },

    // ── Count-Min sketch as STREAMING state (complete mode) ────────────
    // The CMS cells are plain counts, so the incremental sketch is a
    // streaming groupBy over the SAME md5 cell family q_cms_join_size
    // builds batch-side (each event adds 1 to its user's DEPTH cells —
    // identical to weighting users by their event counts, so the
    // drained cell table IS the batch sketch). Emitted reduced per
    // depth: cell census, total mass (= event count, every depth), and
    // the self-join inner-product estimate read off streaming state —
    // the q_cms_join_size estimator maintained incrementally. State is
    // ≤ DEPTH·JOIN_WIDTH rows forever, whatever the stream length.
    "q_stream_cms" -> { (s, dir) =>
      import graft.operators.CountMin
      val cells = runToTable(s,
        eventsStream(s, dir)
          .select(CountMin.cellsExploded(
            col("user_id").cast("string"), CountMin.JOIN_WIDTH).as("dc"))
          .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
          .agg(count(lit(1)).as("c")), "complete")
      cells.groupBy(col("d").cast("long").as("d"))
        .agg(count(lit(1)).as("n_cells"),
          sum(col("c")).as("n_events"),
          expr("CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS BIGINT)")
            .as("ip_est"))
    },

    // ── incremental Pareto skyline over a DOCUMENT stream ──────────────
    // The curation trade-off surface maintained as monotone keyed
    // state: quality/token signals derive on the stream with the SAME
    // TextFunctions expressions the batch query binds to, the frontier
    // folds per language, and the max-revision emission (compacted-
    // changelog convention) must equal the batch NOT-EXISTS skyline —
    // the oracle IS the batch q_skyline oracle, point columns only.
    "q_stream_skyline" -> { (s, dir) =>
      import s.implicits._
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val pts = s.readStream.schema(schema)
        .parquet(stage(dir, 1, table = "documents"))
        .select(col("lang").as("group"),
          graft.functions.TextFunctions.qualityScore(col("text"))
            .cast("long").as("x"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast("long").as("y"))
        .as[SkyPoint]
      val out = runToTable(s,
        StreamingEvents.skylineStream(pts).toDF()).localCheckpoint()
      val maxRev = out.groupBy(col("group")).agg(max(col("rev")).as("mrev"))
      out.join(broadcast(maxRev), Seq("group"))
        .filter(col("rev") === col("mrev"))
        .select(col("group").as("lang"), col("x").as("quality"),
          col("y").as("n_tokens"))
    },

    // ── incremental hourly rate-anomaly detection ──────────────────────
    // rateAnomalyStream's prefix test under the hash gate: per type,
    // each hour closes (next hour arrives in-batch, or the final
    // watermark strictly passes its end via event-time timeout) and is
    // tested against the PRIOR closed hours' (n, s, q) moments with the
    // division-free z² > 4 rule, arming after 5 baseline hours. The
    // oracle re-derives exactly that prefix emission: cumulative
    // 1-PRECEDING window sums per type, plus the close rule — every
    // hour but the key's last closes in-batch; the last closes iff
    // hour_end < max_ms − 2 h (strict, the timeout rule).
    "q_stream_rate_anomaly" -> { (s, dir) =>
      import s.implicits._
      runToTable(s, StreamingEvents.rateAnomalyStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
    },

    // ── stateful LINEAR multi-touch attribution ────────────────────────
    // attributionStream's per-user touch-window state machine under the
    // hash gate: each purchase emits its half-cent-rounded value split
    // integer-equally across the user's click/view touches inside the
    // trailing 7-day window, remainder to the earliest (t_ms, t_id)
    // touch. On the gate's in-order stream the emitted credit facts
    // aggregate to the batch q_attribution_linear totals EXCEPT for the
    // stream's processing-order convention on ties: a touch at the
    // purchase's exact ms counts only if its event_id sorts BEFORE the
    // purchase's — which the oracle encodes as a lexicographic
    // (t_ms, t_id) < (p_ms, p_id) pair bound.
    "q_stream_attr_linear" -> { (s, dir) =>
      import s.implicits._
      val credits = runToTable(s, StreamingEvents.attributionStream(
        eventsStream(s, dir).as[StreamingEvents.Event]).toDF())
      credits.groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_credits"),
          countDistinct(col("p_id")).as("n_purchases"),
          sum(col("credit")).as("credit_cents"))
    },

    // ── the NEO medallion, INCREMENTALLY: bronze file stream → silver
    // keyed-merge partitions → gold merge-upserts, then the on-disk
    // SILVER read back under the same hash gate as the batch
    // q_neo_silver. The pipeline replays idempotently (fresh
    // checkpoint each invocation; every write is a keyed merge), so
    // re-runs CONVERGE to the same table — which is exactly what the
    // hash gate proves. Both fixture files fit one micro-batch
    // (maxFilesPerTrigger=10), so the deterministic-survivor contract
    // is batch-order-free.
    "q_neo_stream_silver" -> { (s, _) =>
      runNeoPipeline(s)
      s.read.parquet(graft.operators.NeoQueries.layout.silverAsteroids)
        .select(col("id"), col("neo_reference_id"), col("name"),
          col("absolute_magnitude_h"), col("is_hazardous"),
          col("is_sentry"), col("nasa_jpl_url"), col("link_self"),
          col("diam_min_km"), col("diam_max_km"), col("diam_min_m"),
          col("diam_max_m"), col("diam_min_mi"), col("diam_max_mi"),
          col("diam_min_feet"), col("diam_max_feet"),
          col("approach_date").cast("string").as("approach_date"),
          col("approach_date_full"), col("approach_epoch"),
          col("velocity_km_s"), col("velocity_km_h"),
          col("velocity_mi_h"), col("miss_au"), col("miss_lunar"),
          col("miss_km"), col("miss_mi"), col("orbiting_body"))
    },

    // ── the incrementally-merged GOLD dim_asteroid ─────────────────────
    // Same pipeline run; the gold table on disk after the stream
    // drains must equal the batch deterministic-survivor dim over both
    // days (the identical oracle SQL as q_neo_dim_asteroid).
    "q_neo_stream_gold" -> { (s, _) =>
      runNeoPipeline(s)
      s.read.parquet(
        graft.operators.NeoQueries.layout.gold("dim_asteroid"))
        .select(col("sk_asteroid"), col("id"), col("neo_reference_id"),
          col("name"), col("absolute_magnitude_h"),
          col("diam_min_km"), col("diam_max_km"), col("diam_min_m"),
          col("diam_max_m"), col("diam_min_mi"), col("diam_max_mi"),
          col("diam_min_feet"), col("diam_max_feet"),
          col("is_hazardous"), col("is_sentry"),
          col("nasa_jpl_url"), col("link_self"))
    }
  )

  /** Materialize the fixture bronze, then drain the full streaming
    * medallion (bronze → silver → gold) with a fresh checkpoint.
    */
  private def runNeoPipeline(s: SparkSession): Unit = synchronized {
    graft.operators.NeoQueries.materializeBronze(s)
    drain(StreamingPipeline.start(s, graft.operators.NeoQueries.layout,
      graft.CacheRegistry.scratch("neo_stream_ckpt")),
      "neo streaming pipeline")
  }

  // ────────────────────────────────────────────────────────────────────
  // DuckDB oracle twins — batch SQL + the exact emission rule
  // ────────────────────────────────────────────────────────────────────

  /** CTE chain ending in `ver(doc_id, match_id, n_band_hits, n_common,
    * sz_in, sz_match, jaccard_bp)` — the DuckDB replay of the
    * stream-vs-static near-dup verify (symmetric closure of the batch
    * LSH family), shared by q_stream_neardup and q_stream_neardup_once
    * so the two oracles can never drift.
    */
  private lazy val neardupVerCtes: String = {
    import graft.operators.Dedup
    import StreamingNearDup.{BANDS, K, NUM_HASHES, THRESH}
    val minhashSelect = (0 until NUM_HASHES)
      .map(i => s"min(${Dedup.affineSql(i, "hm")}) AS mh$i")
      .mkString(", ")
    val r = NUM_HASHES / BANDS
    val bandSelects = (0 until BANDS).map { b =>
      val key = (0 until r).map(j => s"CAST(mh${b * r + j} AS VARCHAR)")
        .mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('-', $key)) AS bkey FROM sig"
    }.mkString("\n UNION ALL\n ")
    s"""toks AS (SELECT doc_id,
       |    string_split_regex(trim(lower(text)), '\\s+') AS t
       |  FROM documents WHERE length(trim(text)) > 0),
       |sh AS (SELECT DISTINCT doc_id,
       |    array_to_string(t[CAST(i AS INT):CAST(i + ${K - 1} AS INT)], ' ') AS shingle
       |  FROM toks, unnest(range(1, len(t) - ${K - 2})) AS u(i)
       |  WHERE len(t) >= $K),
       |shh AS (SELECT doc_id, ${Dedup.shingleHashSql("shingle")} AS shingle
       |  FROM sh),
       |hm AS (SELECT doc_id, ${Dedup.hash32Sql(0, "shingle")} % ${Dedup.P} AS hm FROM sh),
       |sig AS (SELECT doc_id, $minhashSelect FROM hm GROUP BY doc_id),
       |bands AS ($bandSelects),
       |scand AS (SELECT a.doc_id AS doc_id, b.doc_id AS match_id,
       |    count(*) AS n_band_hits
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(DISTINCT shingle) AS sz
       |  FROM shh GROUP BY doc_id),
       |common AS (SELECT c.doc_id, c.match_id, c.n_band_hits,
       |    count(DISTINCT a.shingle) AS n_common
       |  FROM scand c JOIN shh a ON a.doc_id = c.doc_id
       |  JOIN shh b ON b.doc_id = c.match_id AND b.shingle = a.shingle
       |  GROUP BY 1, 2, 3),
       |ver AS (SELECT cm.doc_id, cm.match_id, cm.n_band_hits,
       |    cm.n_common, si.sz AS sz_in, sm.sz AS sz_match,
       |    CAST(cm.n_common * 10000
       |      // (si.sz + sm.sz - cm.n_common) AS BIGINT) AS jaccard_bp
       |  FROM common cm
       |  JOIN sizes si ON si.doc_id = cm.doc_id
       |  JOIN sizes sm ON sm.doc_id = cm.match_id
       |  WHERE cm.n_common * 100 >= $THRESH * (si.sz + sm.sz - cm.n_common))""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q_stream_hourly_counts" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM e),
        |w AS (SELECT (ms // 3600000) * 3600000 AS window_start_ms,
        |    event_type, count(*) AS n
        |  FROM e GROUP BY 1, 2)
        |SELECT w.window_start_ms, w.event_type, w.n FROM w, mx
        |WHERE w.window_start_ms + 3600000 <= mx.max_ms - 7200000""".stripMargin,

    "q_stream_freshness" ->
      """WITH pt AS (SELECT event_type, max(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(last_ms) AS head_ms FROM pt)
        |SELECT pt.event_type, pt.last_ms,
        |  h.head_ms - pt.last_ms AS lag_ms,
        |  h.head_ms - pt.last_ms > 86400000 AS is_stale
        |FROM pt, h""".stripMargin,

    "q_stream_late_drop" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM e),
        |head AS (SELECT ms, event_type FROM e, mx
        |  WHERE ms > max_ms - 21600000),
        |w AS (SELECT (ms // 3600000) * 3600000 AS window_start_ms,
        |    event_type, count(*) AS n
        |  FROM head GROUP BY 1, 2)
        |SELECT w.window_start_ms, w.event_type, w.n FROM w, mx
        |WHERE w.window_start_ms + 3600000 <= mx.max_ms - 7200000"""
        .stripMargin,

    "q_stream_rate_anomaly" ->
      """WITH e AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM e),
        |h AS (SELECT event_type,
        |    (ms // 3600000) * 3600000 AS hour_start_ms, count(*) AS c
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT event_type, hour_start_ms, c,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY hour_start_ms) - 1 AS BIGINT) AS n,
        |    CAST(coalesce(sum(c) OVER (PARTITION BY event_type
        |      ORDER BY hour_start_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s,
        |    CAST(coalesce(sum(c * c) OVER (PARTITION BY event_type
        |      ORDER BY hour_start_ms
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS q,
        |    max(hour_start_ms) OVER (PARTITION BY event_type)
        |      AS last_hour
        |  FROM h)
        |SELECT event_type, hour_start_ms, c, n AS n_baseline
        |FROM r, mx
        |WHERE n >= 5
        |  AND (c * n - s) * (c * n - s) > 4 * (n * q - s * s)
        |  AND (hour_start_ms < last_hour
        |       OR hour_start_ms + 3600000 < max_ms - 7200000)"""
        .stripMargin,

    "q_stream_attr_linear" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_ms(ts) AS p_ms,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT event_id AS t_id, user_id, epoch_ms(ts) AS t_ms,
        |    event_type AS touch_type
        |  FROM events WHERE event_type IN ('click', 'view')),
        |pr AS (SELECT p.p_id, p.cents, p.p_ms, t.t_id, t.t_ms, t.touch_type
        |  FROM p JOIN t ON p.user_id = t.user_id
        |  WHERE (t.t_ms < p.p_ms OR (t.t_ms = p.p_ms AND t.t_id < p.p_id))
        |    AND p.p_ms - t.t_ms <= 604800000),
        |per AS (SELECT p_id, CAST(count(*) AS BIGINT) AS nt,
        |    min(t_ms) AS m_ms
        |  FROM pr GROUP BY 1),
        |firstid AS (SELECT pr.p_id, min(pr.t_id) AS f_id
        |  FROM pr JOIN per ON pr.p_id = per.p_id AND pr.t_ms = per.m_ms
        |  GROUP BY 1),
        |credited AS (SELECT pr.touch_type, pr.p_id,
        |    pr.cents // per.nt +
        |      CASE WHEN pr.t_ms = per.m_ms AND pr.t_id = firstid.f_id
        |        THEN pr.cents % per.nt ELSE 0 END AS credit
        |  FROM pr JOIN per ON pr.p_id = per.p_id
        |  JOIN firstid ON pr.p_id = firstid.p_id)
        |SELECT touch_type, count(*) AS n_credits,
        |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
        |  CAST(sum(credit) AS BIGINT) AS credit_cents
        |FROM credited GROUP BY 1""".stripMargin,

    "q_stream_resume" ->
      """SELECT event_type, count(*) AS n_rows,
        |  count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY 1""".stripMargin,

    "q_stream_session_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM e),
        |flagged AS (SELECT *,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |         OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END
        |    AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC)),
        |sessions AS (SELECT *,
        |  sum(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC ROWS UNBOUNDED PRECEDING)
        |    AS session_idx
        |  FROM flagged),
        |agg AS (SELECT user_id, min(ms) AS start_ms,
        |    max(ms) + 1800000 AS end_ms, count(*) AS n_events
        |  FROM sessions GROUP BY user_id, session_idx)
        |SELECT a.user_id, a.start_ms, a.end_ms, a.n_events
        |FROM agg a, mx
        |WHERE a.end_ms <= mx.max_ms - 7200000""".stripMargin,

    "q_stream_update_counts" ->
      """WITH h AS (SELECT event_type,
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS h0,
        |    count(*) AS tot
        |  FROM events GROUP BY 1)
        |SELECT event_type,
        |  CAST((CASE WHEN h0 > 0 THEN 1 ELSE 0 END) +
        |       (CASE WHEN tot - h0 > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_emissions,
        |  CAST(CASE WHEN h0 > 0 THEN h0 ELSE tot END AS BIGINT)
        |    AS n_first,
        |  CAST(tot AS BIGINT) AS n_final
        |FROM h""".stripMargin,

    "q_stream_kmv" -> {
      import graft.operators.Sketches.{KMV_K, KMV_RANGE}
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)),
         |      1, 13)) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n_distinct
         |  FROM dh)
         |SELECT event_type,
         |  CAST(least(max(n_distinct), $KMV_K) AS BIGINT) AS sketch_size,
         |  max(CASE WHEN rn = $KMV_K THEN h END) AS kth_h,
         |  CASE WHEN max(n_distinct) >= $KMV_K
         |    THEN ${(KMV_K - 1).toLong} * $KMV_RANGE
         |      // max(CASE WHEN rn = $KMV_K THEN h END)
         |    ELSE CAST(max(n_distinct) AS BIGINT) END AS est_distinct
         |FROM r GROUP BY 1""".stripMargin
    },

    "q_stream_zone_maps" -> {
      import graft.operators.ZOrder
      s"""WITH z AS (SELECT l_partkey AS x, l_suppkey AS y,
         |    ${ZOrder.zValueSql("l_partkey", "l_suppkey")}
         |    >> ${ZOrder.LAYOUT_SHIFT} AS zbucket
         |  FROM lineitem)
         |SELECT zbucket, count(*) AS n_rows,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY zbucket""".stripMargin
    },

    "q_stream_cms" -> {
      import graft.operators.CountMin
      s"""WITH cells AS (SELECT d,
         |    ${CountMin.cellSql("d", "CAST(user_id AS VARCHAR)",
               CountMin.JOIN_WIDTH)} AS cell
         |  FROM events, unnest(range(0, ${CountMin.DEPTH})) AS dd(d)),
         |sk AS (SELECT d, cell, count(*) AS c FROM cells GROUP BY 1, 2)
         |SELECT d, count(*) AS n_cells,
         |  CAST(sum(c) AS BIGINT) AS n_events,
         |  CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS ip_est
         |FROM sk GROUP BY 1""".stripMargin
    },

    "q_stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |mx AS (SELECT max(ms) AS max_ms FROM e),
        |flagged AS (SELECT *,
        |  CASE WHEN lag(ms) OVER w IS NULL
        |         OR ms - lag(ms) OVER w > 1800000 THEN 1 ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)),
        |sessions AS (SELECT *,
        |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms ASC,
        |    event_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM flagged),
        |agg AS (SELECT user_id, session_idx,
        |    min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |    count(*) AS n_events
        |  FROM sessions GROUP BY 1, 2),
        |last AS (SELECT user_id, max(session_idx) AS max_idx
        |  FROM agg GROUP BY 1)
        |SELECT a.user_id, a.session_start_ms, a.session_end_ms, a.n_events
        |FROM agg a JOIN last l ON a.user_id = l.user_id, mx
        |WHERE a.session_idx <> l.max_idx
        |   OR a.session_end_ms + 1800000 < mx.max_ms - 7200000""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_type, count(*) AS n_rows,
        |  count(DISTINCT event_id) AS n_ids
        |FROM events GROUP BY 1""".stripMargin,

    "q_stream_enrich" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_rows,
        |  count(DISTINCT e.user_id) AS n_users,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1""".stripMargin,

    "q_stream_quality" ->
      graft.operators.TextQueries.streamQualitySql,
    "q_stream_uncertainty" ->
      graft.operators.TextQueries.streamUncertaintySql,
    // pruning/phasing only on the engine side (bloom + stream-static
    // replay): the ground truth is the batch decontamination join
    "q_stream_decontam" ->
      graft.operators.Curation.deconSql,
    "q_stream_score_drift" ->
      graft.operators.TextQueries.streamScoreDriftSql,
    "q_stream_media_dedup" ->
      graft.operators.Multimodal.streamMediaDedupSql,

    "q_stream_novelty" ->
      graft.operators.VectorQueries.streamNoveltySql,

    // The symmetric-closure replay of the batch LSH family's banding +
    // exact verify (same md5/affine arithmetic via the Dedup SQL
    // helpers), aggregated per incoming doc. Set semantics throughout
    // (DISTINCT hashed shingles) — the twin of the stream's in-row
    // array_intersect over distinct shingle sets.
    "q_stream_neardup" ->
      s"""WITH $neardupVerCtes
         |SELECT doc_id, count(*) AS n_matches,
         |  CAST(max(jaccard_bp) AS BIGINT) AS best_jaccard_bp,
         |  CAST(sum(n_band_hits) AS BIGINT) AS n_band_hits
         |FROM ver GROUP BY doc_id""".stripMargin,

    // The exactly-once variant emits the verified PAIR rows themselves
    // (one per (doc, match), band multiplicity collapsed by the
    // watermarked dedup) — every projected column is a pure function
    // of the pair, so the row set is hash-comparable.
    "q_stream_neardup_once" ->
      s"""WITH $neardupVerCtes
         |SELECT doc_id, match_id, n_common, sz_in, sz_match, jaccard_bp
         |FROM ver""".stripMargin,

    "q_stream_new_vs_returning" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
        |d AS (SELECT DISTINCT user_id, day FROM e),
        |f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY 1)
        |SELECT d.day, count(*) AS n_active,
        |  CAST(sum(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_new
        |FROM d JOIN f ON d.user_id = f.user_id GROUP BY 1""".stripMargin,

    "q_stream_transitions" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |tr AS (SELECT event_type AS next_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ms ASC, event_id ASC) AS prev_type
        |  FROM e),
        |t2 AS (SELECT prev_type, next_type FROM tr
        |  WHERE prev_type IS NOT NULL),
        |tot AS (SELECT prev_type, count(*) AS n_from FROM t2 GROUP BY 1),
        |tx AS (SELECT prev_type, next_type, count(*) AS n_trans
        |  FROM t2 GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_trans, n_from,
        |  CAST(n_trans * 1000000 // n_from AS BIGINT) AS prob_ppm
        |FROM tx JOIN tot USING (prev_type)""".stripMargin,

    "q_stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |t1 AS (SELECT user_id, min(ms) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ms) AS t2 FROM e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'click' AND e.ms >= t1.t1
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ms) AS t3 FROM e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ms >= t2.t2
        |       GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name,
        |       (SELECT count(*) FROM t1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
        |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)""".stripMargin,

    "q_stream_attribution" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |t AS (SELECT user_id, event_id AS trigger_id, ms AS trigger_ms
        |  FROM e WHERE event_type = 'click'),
        |a AS (SELECT user_id, event_id AS action_id, ms AS action_ms
        |  FROM e WHERE event_type = 'purchase')
        |SELECT t.user_id, t.trigger_id, a.action_id,
        |  t.trigger_ms, a.action_ms
        |FROM t JOIN a ON t.user_id = a.user_id
        |  AND a.action_ms >= t.trigger_ms
        |  AND a.action_ms <= t.trigger_ms + 1800000""".stripMargin,

    "q_stream_attribution_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |t AS (SELECT user_id, event_id AS trigger_id, ms AS trigger_ms
        |  FROM e WHERE event_type = 'click'),
        |a AS (SELECT user_id, event_id AS action_id, ms AS action_ms
        |  FROM e WHERE event_type = 'purchase'),
        |wm AS (SELECT least((SELECT max(trigger_ms) FROM t),
        |    (SELECT max(action_ms) FROM a)) - 7200000 AS w),
        |m AS (SELECT t.user_id, t.trigger_id, a.action_id,
        |    t.trigger_ms, a.action_ms
        |  FROM t JOIN a ON t.user_id = a.user_id
        |    AND a.action_ms >= t.trigger_ms
        |    AND a.action_ms <= t.trigger_ms + 1800000)
        |SELECT * FROM m
        |UNION ALL
        |SELECT t.user_id, t.trigger_id, NULL AS action_id,
        |  t.trigger_ms, NULL AS action_ms
        |FROM t, wm
        |WHERE t.trigger_ms + 1800000 < wm.w
        |  AND NOT EXISTS (SELECT 1 FROM m
        |    WHERE m.trigger_id = t.trigger_id)""".stripMargin,

    "q_stream_heavy_hitters" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_stream_quantile_bins" ->
      """SELECT event_type, CAST(floor(value) AS BIGINT) // 5 AS bin,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_stream_ewma" -> {
      val numTerms = (0 until 10).map { k =>
        s"coalesce(lag(n, $k) OVER w, 0) * ${1L << (9 - k)}"
      }.mkString(" + ")
      val denTerms = (0 until 10).map { k =>
        s"CASE WHEN lag(n, $k) OVER w IS NOT NULL" +
          s" THEN ${1L << (9 - k)} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
         |mx AS (SELECT max(ms) AS max_ms FROM e),
         |hw AS (SELECT (ms // 3600000) * 3600000 AS hour_ms,
         |    event_type, count(*) AS n
         |  FROM e GROUP BY 1, 2),
         |fin AS (SELECT hw.hour_ms, hw.event_type, hw.n FROM hw, mx
         |  WHERE hw.hour_ms + 3600000 <= mx.max_ms - 7200000),
         |sm AS (SELECT event_type, hour_ms, n,
         |    $numTerms AS num,
         |    $denTerms AS den
         |  FROM fin
         |  WINDOW w AS (PARTITION BY event_type ORDER BY hour_ms ASC))
         |SELECT event_type, hour_ms, n,
         |  CAST(num * 1000 // den AS BIGINT) AS ewma_milli
         |FROM sm""".stripMargin
    },

    // the streaming frontier must land on EXACTLY the batch skyline —
    // the batch oracle, restricted to its point columns
    "q_stream_skyline" ->
      ("SELECT lang, quality, n_tokens FROM (" +
        graft.operators.TextQueries.oracle("q_skyline") + ") sky"),

    // the incremental medallion must land on EXACTLY the batch answer —
    // same oracle SQL, different (streaming) derivation path
    "q_neo_stream_silver" ->
      graft.operators.NeoQueries.oracle("q_neo_silver"),
    "q_neo_stream_gold" ->
      graft.operators.NeoQueries.oracle("q_neo_dim_asteroid")
  )
}
