package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Event-stream batch analytics over the `events` table: gap-based
  * sessionization, tumbling-window aggregation, and JSON property
  * extraction (the semi-structured capability the reference's bronze
  * layer exercises via schema inference — SURVEY.md §1.2).
  *
  * Timestamps are compared in epoch milliseconds (both engines truncate
  * the parquet ns values the same way), and money sums go through
  * DECIMAL for order-insensitive exactness.
  */
object EventQueries {

  private val GAP_MS = 30L * 60 * 1000 // 30-minute session gap
  private val ATTR_WINDOW_MS = 7L * 24 * 3600 * 1000 // attribution window
  private val MARKOV_ITERS = 4 // q_markov_stationary power iterations
  private val AB_SEED = 97     // q_ab_conversion arm-assignment hash seed

  /** events.parquet has shipped `ts` as both TIMESTAMP(NANOS) (int64 via
    * the sessions' `nanosAsLong=true`) and TIMESTAMP(MICROS) (a real
    * timestamp column) across testdata generations; [[Tables.epochMs]]
    * derives epoch ms type-adaptively so the whole event tier keys off
    * one contract — bit-identical to DuckDB's epoch_ms(ts) either way.
    */
  private def loadEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    ev.withColumn("ms", Tables.epochMs(ev))
  }

  /** q_table_diff snapshot cutoffs: 2024-01-15 / 2024-01-25 UTC, as
    * epoch ms (the event log spans January 2024).
    */
  private val DIFF_T1_MS = 1705276800000L
  private val DIFF_T2_MS = 1706140800000L

  /** The purchase⋈touch pair table every attribution model starts from:
    * each purchase (half-cent-rounded integer cents) joined to the same
    * user's click/view touches inside the 7-day window ending at the
    * purchase.
    *
    * 100 TB posture: USER-keyed equi-join (no range fan-out across
    * users); the time predicate bounds pair volume by per-user activity
    * inside one attribution window — the sessionization shuffle shape.
    * Every model downstream aggregates this table by purchase id and
    * then by channel, both map-side combinable.
    */
  private def attributionPairs(s: SparkSession, dir: String): DataFrame = {
    val ev = loadEvents(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ms").as("p_ms"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("event_id").as("t_id"),
        col("ms").as("t_ms"), col("event_type").as("touch_type"))
    purchases.join(touches, "user_id")
      .filter(col("t_ms") <= col("p_ms") &&
        col("p_ms") - col("t_ms") <= ATTR_WINDOW_MS)
  }

  /** DuckDB twin of [[attributionPairs]] — the shared CTE prefix every
    * attribution oracle starts WITH.
    */
  private val attrPairsCtes: String =
    s"""p AS (SELECT event_id AS p_id, user_id, epoch_ms(ts) AS p_ms,
       |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'),
       |t AS (SELECT event_id AS t_id, user_id, epoch_ms(ts) AS t_ms,
       |    event_type AS touch_type
       |  FROM events WHERE event_type IN ('click', 'view')),
       |pr AS (SELECT p.p_id, p.cents, p.p_ms, t.t_id, t.t_ms, t.touch_type
       |  FROM p JOIN t ON p.user_id = t.user_id
       |  WHERE t.t_ms <= p.p_ms AND p.p_ms - t.t_ms <= $ATTR_WINDOW_MS)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── gap-based sessionization + per-session aggregate ────────────────
    // One shuffle on user_id for the windows, then a hash agg on the
    // (user, session) key — the canonical distributed sessionize plan.
    "q_sessionize" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      loadEvents(s, dir)
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull ||
            col("ms") - col("prev_ms") > GAP_MS, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(
          count(lit(1)).as("n_events"),
          min(col("ms")).as("start_ms"),
          max(col("ms")).as("end_ms"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
    },

    // ── tumbling 1-hour window aggregation by event type ────────────────
    "q_event_window_agg" -> { (s, dir) =>
      loadEvents(s, dir)
        .groupBy(
          (expr("ms div 3600000") * 3600000L).as("window_start_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("total_value"))
    },

    // ── JSON property extraction + aggregate ────────────────────────────
    "q_json_extract" -> { (s, dir) =>
      loadEvents(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },

    // ── native session_window (batch mode — same operator Structured
    // Streaming uses). Boundary semantics: a session spans [t, t+gap), so
    // an event at EXACTLY prev+gap starts a new session — the oracle
    // mirrors that with a >= gap split.
    "q_session_window" -> { (s, dir) =>
      loadEvents(s, dir)
        .groupBy(session_window(timestamp_millis(col("ms")), "30 minutes"),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_millis(col("session_window.start")).as("start_ms"),
          unix_millis(col("session_window.end")).as("end_ms"),
          col("n_events"))
    },

    // ── map-function family: JSON → MapType, keys/size/element_at ───────
    "q_map_ops" -> { (s, dir) =>
      val m = from_json(col("props"), "map<string,string>",
        Map.empty[String, String])
      loadEvents(s, dir)
        .select(col("event_id"),
          size(m).as("n_keys"),
          concat_ws(",", sort_array(map_keys(m))).as("keys_csv"),
          element_at(m, "k").cast("long").as("k_val"))
    },

    // ── temporal train/test split with embargo (leakage audit) ─────────
    // Time-based evaluation needs events split at a cutoff WITH an
    // embargo band (De Prado's purged split): train = first 70 % of the
    // observed time span, test = after cutoff + 5 % embargo, the band
    // between is DROPPED so boundary-straddling behavior can't leak
    // label information across the split. The leakage readout is the
    // user overlap: users active on BOTH sides are where temporal
    // generalization claims break (their test rows are near-future
    // continuations of their train rows) — leak_ppm is the number an
    // eval-set owner reads before claiming out-of-time performance.
    //
    // Scale: one min/max fold (broadcast back), one user-keyed
    // conditional aggregate, one final fold. Span-relative cutoffs make
    // the query SF-free; everything integer ms.
    "q_embargo_split" -> { (s, dir) =>
      val e = loadEvents(s, dir).select(col("user_id"), col("ms"))
      val mm = e.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      val per = e.crossJoin(broadcast(mm))
        .withColumn("t_cut", expr("lo + (hi - lo) * 7 div 10"))
        .withColumn("t_test", expr("lo + (hi - lo) * 15 div 20"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("ms") < col("t_cut"), 1L).otherwise(0L))
          .as("n_tr"),
          sum(when(col("ms") >= col("t_test"), 1L).otherwise(0L))
            .as("n_te"),
          count(lit(1)).as("n"))
      per.agg(count(lit(1)).as("n_users"),
        sum(col("n_tr")).as("n_train_events"),
        sum(col("n") - col("n_tr") - col("n_te")).as("n_embargo_events"),
        sum(col("n_te")).as("n_test_events"),
        sum(when(col("n_tr") > 0, 1L).otherwise(0L)).as("n_train_users"),
        sum(when(col("n_te") > 0, 1L).otherwise(0L)).as("n_test_users"),
        sum(when(col("n_tr") > 0 && col("n_te") > 0, 1L).otherwise(0L))
          .as("n_leaky_users"))
        .withColumn("leak_ppm",
          expr("n_leaky_users * 1000000 div n_users"))
    },

    // ── as-of join: each event matched to the user's most recent order
    // at-or-before the event timestamp, through [[asOfJoin]] (the
    // library's one union-and-carry); tied order dates resolve to the
    // greatest o_orderkey, the oracle's max-(date, orderkey) winner.
    "q_asof_join" -> { (s, dir) =>
      val ev = loadEvents(s, dir)
        .select(col("event_id"), col("user_id"), col("ms"))
      val ord = Tables.load(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        // o_orderdate is TIMESTAMP_NTZ; the session runs UTC, so the
        // cast-to-TIMESTAMP epoch equals DuckDB's epoch_ms on the naive
        unix_millis(col("o_orderdate").cast("timestamp")).as("oms"),
        col("o_orderkey"), col("o_totalprice"))
      asOfJoin(ev, ord, "user_id", "ms", "oms")
        .filter(col("matched").isNotNull)
        .select(col("event_id"), col("user_id"), col("ms"),
          col("matched.o_orderkey").as("o_orderkey"),
          col("matched.o_totalprice").as("o_totalprice"))
    },

    // ── ordered funnel: view → click → purchase conversion ──────────────
    // Step N's timestamp must be ≥ step N−1's first qualifying time —
    // the ORDER matters (a click before any view does not advance the
    // funnel). Three keyed aggs + two joins, ALL keyed by user_id:
    // co-partitioned shuffles, no broadcast needed, the canonical
    // distributed funnel plan.
    "q_event_funnel" -> { (s, dir) =>
      funnelCounts(loadEvents(s, dir), Seq("view", "click", "purchase"))
    },

    // ── cohort retention: activity weeks by first-seen week ─────────────
    // Pure-integer week indices (ms div day div 7 — the same exact
    // division both engines do) so the matrix is hash-stable. distinct
    // (user, week) pairs shuffle once; the final (cohort, offset) agg is
    // bounded by weeks², tiny forever.
    "q_cohort_retention" -> { (s, dir) =>
      cohortRetention(loadEvents(s, dir))
    },

    // ── SCD-2-style state runs: change detection → validity intervals ──
    // Collapse each user's event stream into runs of consecutive equal
    // event_type with [valid_from, valid_to) interval bounds — the
    // slowly-changing-dimension build (and the compressed form a
    // feature store serves point-in-time lookups from). Change flags +
    // run ids + the run-level valid_to are three window passes ALL
    // keyed by user_id (high cardinality — no funnel), then one keyed
    // agg; ties broken by event_id everywhere, all integers.
    // ── hopping (sliding) window aggregation ────────────────────────────
    // The overlapping-window twin of q_event_window_agg: 2-hour windows
    // advancing every hour, so each event lands in exactly TWO windows
    // — the standard smoothing/alerting window shape. Implemented as
    // the generic explode-the-offsets rewrite (each row contributes to
    // window_start ∈ {its hour, its hour − 1h}), which is how a hopping
    // window decomposes on ANY engine: a windows/slide-factor row
    // fan-out followed by one tumbling-shaped aggregate. Counts only —
    // integer-exact.
    "q_hopping_window" -> { (s, dir) =>
      loadEvents(s, dir)
        .select(col("event_type"),
          (expr("ms div 3600000") * 3600000L).as("hr"))
        .select(col("event_type"), explode(array(lit(0L), lit(1L)))
          .as("o"), col("hr"))
        .select(col("event_type"),
          (col("hr") - col("o") * 3600000L).as("window_start_ms"))
        .groupBy(col("event_type"), col("window_start_ms"))
        .agg(count(lit(1)).as("n_events"))
    },

    // ── event path mining (ordered k-step sequences) ────────────────────
    // The navigation-pattern table: per user, every consecutive
    // 3-step event-type sequence (with multiplicity), counted across
    // the corpus. One user-keyed sort (shared shape with the
    // sessionizers), two lead() columns, one aggregate over a table
    // bounded by |types|³ — the top rows are the "common journeys" a
    // product/funnel analysis starts from.
    "q_event_paths" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      loadEvents(s, dir)
        .select(col("event_type").as("s1"),
          lead(col("event_type"), 1).over(w).as("s2"),
          lead(col("event_type"), 2).over(w).as("s3"))
        .filter(col("s2").isNotNull && col("s3").isNotNull)
        .select(concat_ws(">", col("s1"), col("s2"), col("s3"))
          .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_occurrences"))
    },

    // ── inter-arrival time histogram per event type ─────────────────────
    // The traffic-model profile behind rate alerting and capacity
    // planning: per type, consecutive-event gaps bucketed into minutes
    // (capped at 60 — the tail folds into one bucket). One type-keyed
    // sort (|types| partitions of the same window the sessionizers
    // use), then a |types|×61-bounded aggregate.
    "q_arrival_histogram" -> { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ms").asc, col("event_id").asc)
      loadEvents(s, dir)
        .select(col("event_type"),
          (col("ms") - lag(col("ms"), 1).over(w)).as("gap_ms"))
        .filter(col("gap_ms").isNotNull)
        .withColumn("bucket_min", expr("least(gap_ms div 60000, 60)"))
        .groupBy(col("event_type"), col("bucket_min"))
        .agg(count(lit(1)).as("n_gaps"))
    },

    // ── mergeable-histogram quantiles ───────────────────────────────────
    // The third mergeable-state pattern beside the HLL (distinct) and
    // MinHash (Jaccard) sketches: per-day VALUE HISTOGRAMS are the
    // persisted state — fixed 5-unit integer bins, so day states merge
    // by plain addition (associative/commutative, any subset) — and
    // any day range's p50/p95 comes from the merged counts without
    // touching raw rows. Built exactly as deployed: the (type, day,
    // bin) aggregate FIRST (the state table a pipeline persists), the
    // day-merge SECOND, so the query demonstrates the merge is a
    // separate cheap stage. Quantiles read off the cumulative window
    // over ≤ |types|×|bins| rows; answers are exact to bin width.
    "q_mergeable_quantiles" -> { (s, dir) =>
      val state = loadEvents(s, dir)
        .groupBy(col("event_type"), expr("ms div 86400000").as("day"),
          expr("CAST(floor(value) AS BIGINT) div 5").as("bin"))
        .agg(count(lit(1)).as("c"))
      val merged = state.groupBy(col("event_type"), col("bin"))
        .agg(sum(col("c")).as("c"))
      val wCum = Window.partitionBy(col("event_type"))
        .orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      merged.withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n_rows"),
          min(when(expr("cum * 2 >= n"), col("bin") * 5)).as("p50_value"),
          min(when(expr("cum * 20 >= n * 19"), col("bin") * 5))
            .as("p95_value"))
    },

    // ── seasonality-adjusted rate anomalies ─────────────────────────────
    // q_rate_anomaly's one-baseline-per-type test flags every rush hour
    // of a diurnal stream; the production fix is to baseline each hour
    // against ITS OWN hour-of-day cohort — (type, hour-of-day) keyed
    // (n, s, q) moments, same division-free z² — so only deviations
    // from the type's seasonal PROFILE fire. Stats table is
    // |types|×24, broadcast; corpus rows never reach the anomaly join.
    "q_seasonal_anomaly" -> { (s, dir) =>
      val hourly = loadEvents(s, dir)
        .groupBy(expr("ms div 3600000").as("h"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .withColumn("hod", expr("h % 24"))
      val st = hourly.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(expr("c * c")).as("q"))
      hourly.join(broadcast(st), Seq("event_type", "hod"))
        .filter(expr("(c * n - s) * (c * n - s) > 4 * (n * q - s * s)"))
        .select(expr("h * 3600000").as("window_start_ms"),
          col("event_type"), col("hod"), col("c"))
    },

    // ── gap + max-duration sessionization ───────────────────────────────
    // The production session rule: a session breaks on a 30-minute gap
    // OR when it reaches 15 minutes of total span (billing/analytics
    // conventions cap runaway sessions a pure gap rule lets grow
    // unbounded). Gap sessions first (the cumulative-flag sum the
    // batch sessionizer uses), then each gap-session subdivides by
    // elapsed-time quotient — both windows keyed by user, no funnel.
    "q_capped_sessions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val gapped = loadEvents(s, dir)
        .withColumn("new_s",
          when(lag(col("ms"), 1).over(w).isNull ||
            col("ms") - lag(col("ms"), 1).over(w) > 1800000L, 1)
            .otherwise(0))
        .withColumn("gap_id", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      gapped
        .withColumn("sub_id",
          expr("(ms - min(ms) OVER (PARTITION BY user_id, gap_id)) " +
            "div 900000"))
        .groupBy(col("user_id"), col("gap_id"), col("sub_id"))
        .agg(min(col("ms")).as("session_start_ms"),
          max(col("ms")).as("session_end_ms"),
          count(lit(1)).as("n_events"))
    },

    // ── rolling 7-day active users (distinct over sliding windows) ──────
    // The DAU/WAU-family metric, and the classic "distinct doesn't
    // slide" problem: a windowed count-distinct cannot reuse adjacent
    // windows' state, so the scalable rewrite is presence-set algebra —
    // dedup to (user, day) once (the only corpus-sized pass), fan each
    // presence out to the ≤7 window-ends it supports, dedup again
    // (users active on several days in one window count once), count.
    // Work is |distinct (user, day)| × 7, independent of event volume.
    "q_rolling_active" -> { (s, dir) =>
      loadEvents(s, dir)
        .select(col("user_id"), expr("ms div 86400000").as("day"))
        .distinct()
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("window_day"))
        .distinct()
        .groupBy(col("window_day"))
        .agg(count(lit(1)).as("n_active_7d"))
    },

    // ── Markov transition matrix over the event stream ──────────────────
    // The behavioral model behind next-event prediction and anomaly
    // scoring: per user, each consecutive (prev → next) event-type pair
    // counts one transition; probabilities are integer parts-per-
    // million over the prev-type's outgoing total. One user-keyed
    // window (same sort the sessionizers already pay), then two
    // aggregates over the |types|²-bounded transition table; the
    // per-prev totals broadcast back. No float division anywhere.
    "q_event_transitions" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val tr = loadEvents(s, dir)
        .select(col("user_id"), col("event_type").as("next_type"),
          lag(col("event_type"), 1).over(w).as("prev_type"))
        .filter(col("prev_type").isNotNull)
      val tot = tr.groupBy(col("prev_type"))
        .agg(count(lit(1)).as("n_from"))
      tr.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .join(broadcast(tot), "prev_type")
        .withColumn("prob_ppm", expr("n_trans * 1000000 div n_from"))
    },

    "q_scd2_runs" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val runs = loadEvents(s, dir)
        .withColumn("chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
            .otherwise(0))
        .withColumn("run_id", sum(col("chg")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("run_id"))
        .agg(min(col("event_type")).as("state"), // constant within a run
          min(col("ms")).as("valid_from_ms"),
          count(lit(1)).as("n_events"))
      val wr = Window.partitionBy(col("user_id"))
        .orderBy(col("run_id").asc)
      runs.withColumn("valid_to_ms",
        lead(col("valid_from_ms"), 1).over(wr))
    },

    // ── key-skew diagnostics: the report an engineer reads BEFORE
    // choosing salt factors / AQE skew thresholds. Heaviest 5 keys via
    // bounded_topk (k-capped map-side partials — no full-count sort),
    // with corpus totals and per-key share in basis points, all
    // integer. One keyed agg + one global agg regardless of key count.
    "q_skew_keys" -> { (s, dir) =>
      loadEvents(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
        .agg(expr("bounded_topk(cast(-cnt as double), user_id, 5)")
          .as("top"),
          sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"))
        .select(col("n_rows"), col("n_keys"), posexplode(col("top")))
        .toDF("n_rows", "n_keys", "pos", "t")
        .select(col("t.n").as("user_id"), (col("pos") + 1).as("rank"),
          (-col("t.s")).cast("long").as("cnt"),
          expr("cast(-t.s as long) * 10000 div n_rows").as("share_bp"),
          col("n_keys"), col("n_rows"))
    },

    // ── per-group z-score outlier detection, integer-exact ──────────────
    // Anomaly triage per event_type: flag events whose value sits more
    // than 2σ from the group mean. The whole test runs in 64-bit
    // integer arithmetic on floor(value) — (v·n − S)² > 4·(n·Q − S²) is
    // z² > 4 cleared of divisions — so both engines compute identical
    // booleans (no float variance drift; bounds: v ≤ ~10³, n ≤ 10⁶ per
    // group keeps every product < 2⁶³). One tiny per-type aggregate
    // broadcast back over the stream: a map-side filter at any scale.
    "q_outliers" -> { (s, dir) =>
      val e = loadEvents(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("v"))
      val st = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(expr("v * v")).as("q"))
      e.join(broadcast(st), "event_type")
        .filter(expr("(v * n - s) * (v * n - s) > 4 * (n * q - s * s)"))
        .select(col("event_id"), col("event_type"), col("v"))
    },

    // ── hourly event-rate anomalies per type (time-series twin of
    // q_outliers): aggregate to hourly counts first — corpus-sized rows
    // never reach the anomaly test — then flag hours whose count sits
    // >2σ from that type's mean hourly rate, in the same division-free
    // integer form. Hours with zero events are absent by construction
    // (the baseline is "hours with traffic"); counts are small, so
    // every product stays far from 2⁶³.
    "q_rate_anomaly" -> { (s, dir) =>
      val hourly = loadEvents(s, dir)
        .groupBy(expr("(ms div 3600000) * 3600000").as("window_start_ms"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
      val st = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
          sum(expr("c * c")).as("q"))
      hourly.join(broadcast(st), "event_type")
        .filter(expr("(c * n - s) * (c * n - s) > 4 * (n * q - s * s)"))
        .select(col("window_start_ms"), col("event_type"), col("c"))
    },

    // ── winsorized robust stats per type (outlier-resistant sums) ──────
    // The robust-aggregation twin of q_outliers: clip each value to its
    // type's exact [p05, p95] before summing, so a handful of extreme
    // rows cannot dominate the statistic. Quantiles come from the
    // distributed-exact shape (pre-agg to distinct values, cumulative
    // window over the tiny per-type value table — Curation.q_quantiles'
    // pattern); the clip itself is a broadcast join + map-side
    // greatest/least. Integer arithmetic end to end.
    "q_winsorized_stats" -> { (s, dir) =>
      val e = loadEvents(s, dir)
        .select(col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("v"))
      val byVal = e.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val bounds = byVal
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        // cum·20 ≥ n ⇔ cum ≥ 5 % of n; cum·20 ≥ 19·n ⇔ cum ≥ 95 %
        .agg(min(when(col("cum") * 20 >= col("n"), col("v"))).as("lo"),
          min(when(col("cum") * 20 >= col("n") * 19, col("v"))).as("hi"))
      e.join(broadcast(bounds), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("lo")).as("lo"),
          max(col("hi")).as("hi"),
          sum(greatest(col("lo"), least(col("hi"), col("v"))))
            .as("sum_winsorized"))
    },

    // ── cohort retention in basis points (the chartable form) ──────────
    // q_cohort_retention's counts normalized by each cohort's size
    // (its offset-0 row — every user is active in their first week by
    // definition, so that row IS the denominator). The matrix stays
    // |cohorts|×|offsets|-bounded; one extra self-join on the tiny
    // matrix, no new corpus pass.
    "q_retention_pct" -> { (s, dir) =>
      val m = cohortRetention(loadEvents(s, dir))
      val sizes = m.filter(col("week_offset") === 0)
        .select(col("cohort_wk"), col("n_users").as("n_cohort"))
      m.join(sizes, "cohort_wk")
        .select(col("cohort_wk"), col("week_offset"),
          col("n_users"), col("n_cohort"),
          expr("n_users * 10000 div n_cohort").as("retention_bp"))
    },

    // ── windowed event dedup (batch twin of the streaming dedup) ───────
    // Collapse repeated (user, type) firings inside each 5-minute
    // tumbling window to one survivor (min event_id) — the batch
    // counterpart of dropDuplicatesWithinWatermark's guarantee, and
    // the idempotency layer a replayed event feed needs. One keyed
    // aggregation; the window id is integer division, so the survivor
    // set is deterministic and engine-exact.
    "q_window_dedup" -> { (s, dir) =>
      loadEvents(s, dir)
        .groupBy(col("user_id"), col("event_type"),
          expr("ms div 300000").as("w"))
        .agg(min(col("event_id")).as("event_id"),
          count(lit(1)).as("n_collapsed"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("w") * 300000).as("window_start_ms"),
          col("n_collapsed"))
    },

    // ── heavy hitters via the mergeable Misra–Gries sketch ─────────────
    // graft's freq_sketch TypedImperativeAggregate in its EXACT regime
    // (distinct event types ≪ capacity ⇒ no decrement ever fires, in
    // any partial buffer), so the DuckDB plain-count oracle pins the
    // whole update/merge/serialize path bit-for-bit. The approximate
    // regime (vocab ≫ capacity) carries Misra–Gries lower-bound
    // guarantees instead and is spec-pinned (FreqSketchSpec); persisted
    // per-unit sketches merge via Sketches.mergedFreq without rescans.
    "q_heavy_hitters" -> { (s, dir) =>
      loadEvents(s, dir)
        .agg(expr("freq_sketch(event_type, 64)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.t").as("event_type"), col("e.c").as("n"))
    },

    // ── MAD robust outliers per type (median absolute deviation) ───────
    // The robust-scale sibling of q_outliers: z-scores break when the
    // mean/stddev are themselves dragged by the outliers they should
    // flag; median ± k·MAD is the standard resistant rule. Both
    // medians (value, then |v − med|) come from the distributed-exact
    // quantile shape — pre-agg to distinct values, cumulative window
    // over the tiny per-type value table — and the per-type
    // (med, mad) row broadcasts back for a map-side outlier count.
    // "Median" is the exact lower median (smallest v with 2·cum ≥ n),
    // integer end to end.
    "q_mad_outliers" -> { (s, dir) =>
      val e = loadEvents(s, dir)
        .select(col("event_type"),
          expr("CAST(floor(value) AS BIGINT)").as("v"))
      val byVal = e.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(col("event_type"))
      val med = byVal
        .withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("n"), col("v"))).as("med"))
      val wCumD = Window.partitionBy(col("event_type")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val mad = byVal.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), abs(col("v") - col("med")).as("d"))
        .agg(sum(col("c")).as("c"))
        .withColumn("cum", sum(col("c")).over(wCumD))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("event_type"))
        .agg(min(when(col("cum") * 2 >= col("n"), col("d"))).as("mad"))
      e.join(broadcast(med), "event_type")
        .join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(abs(col("v") - col("med")) > col("mad") * 3, 1L)
            .otherwise(0L)).as("n_outliers"))
    },

    // ── linear multi-touch attribution (batch) ──────────────────────────
    // Each purchase's cents split EQUALLY across the user's touches in
    // the window; the integer-division remainder goes to the earliest
    // touch (min (t_ms, t_id) — deterministic, and credit sums exactly
    // to the purchase value). The batch twin of the streaming
    // attribution join (attributionJoinLeftOuter). Shuffle shape: see
    // [[attributionPairs]]; the remainder rule needs no window — one
    // struct-min per purchase.
    "q_attribution_linear" -> { (s, dir) =>
      val pairs = attributionPairs(s, dir)
      val per = pairs.groupBy(col("p_id"))
        .agg(count(lit(1)).as("nt"),
          min(struct(col("t_ms"), col("t_id"))).as("first"))
      pairs.join(per, "p_id")
        .select(col("touch_type"), col("p_id"),
          expr("""cents div nt + CASE WHEN t_id = first.t_id
                 | THEN cents % nt ELSE CAST(0 AS BIGINT) END"""
            .stripMargin).as("credit"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("p_id")).as("n_purchases"),
          sum(col("credit")).as("credit_cents"))
    },

    // ── last-touch attribution ──────────────────────────────────────────
    // 100 % of each purchase's cents to the LAST touch in the window
    // (max (t_ms, t_id) — t_id is a unique event id, so the struct-max
    // survivor is deterministic). One struct-max per purchase carries
    // the winning channel along — no join-back, no window.
    "q_attribution_last" -> { (s, dir) =>
      attributionPairs(s, dir)
        .groupBy(col("p_id"))
        .agg(max(struct(col("t_ms"), col("t_id"), col("touch_type")))
            .as("last"),
          max(col("cents")).as("cents"))
        .select(col("last.touch_type").as("touch_type"), col("cents"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("credit_cents"))
    },

    // ── time-decay attribution (1-day half-life, integer weights) ───────
    // Touch weight halves per day of age: w = 64 >> min(age_days, 6),
    // so weights are exact powers of two in [1, 64] and all credit math
    // stays in integers. Per-touch base credit = cents·w div Σw; the
    // total rounding shortfall (cents − Σ base) goes to the earliest
    // touch, so credit again sums EXACTLY to the purchase value. Three
    // purchase-keyed aggregates/joins — all equi-joins on p_id, all
    // map-side combinable; no window.
    "q_attribution_decay" -> { (s, dir) =>
      val wt = attributionPairs(s, dir)
        .withColumn("w", expr(
          "shiftright(64L, CAST(least((p_ms - t_ms) div 86400000, 6) AS INT))"))
      val per = wt.groupBy(col("p_id"))
        .agg(sum(col("w")).as("sw"),
          min(struct(col("t_ms"), col("t_id"))).as("first"))
      val based = wt.join(per, "p_id")
        .select(col("touch_type"), col("p_id"), col("t_id"), col("cents"),
          col("first"), expr("(cents * w) div sw").as("b"))
      val bt = based.groupBy(col("p_id"))
        .agg(sum(col("b")).as("base_total"))
      based.join(bt, "p_id")
        .select(col("touch_type"),
          (col("b") + when(col("t_id") === col("first.t_id"),
            col("cents") - col("base_total")).otherwise(0L)).as("credit"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).as("credit_cents"))
    },

    // ── position-based (U-shaped 40/20/40) attribution ──────────────────
    // First and last touch get 40 % each (integer: (cents·2) div 5),
    // middles split the remainder evenly with the rounding residue on
    // the FIRST middle; a lone touch takes everything, a pair splits
    // 50/50 with the odd cent to the first. Credit provably sums to
    // cents in every arity. Needs touch rank AND count per purchase —
    // one Window keyed by p_id (high-cardinality partition key, the
    // allowed shape), then a channel aggregate.
    "q_attribution_position" -> { (s, dir) =>
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("t_ms").asc, col("t_id").asc)
      attributionPairs(s, dir)
        .withColumn("rk", row_number().over(w))
        .withColumn("nt", count(lit(1)).over(
          Window.partitionBy(col("p_id"))))
        .select(col("touch_type"), expr(
          """CASE WHEN nt = 1 THEN cents
            |  WHEN rk = 1 THEN CASE WHEN nt = 2
            |    THEN cents - (cents div 2) ELSE (cents * 2) div 5 END
            |  WHEN rk = nt THEN CASE WHEN nt = 2
            |    THEN cents div 2 ELSE (cents * 2) div 5 END
            |  ELSE (cents - 2 * ((cents * 2) div 5)) div (nt - 2) +
            |    CASE WHEN rk = 2
            |      THEN (cents - 2 * ((cents * 2) div 5)) % (nt - 2)
            |      ELSE CAST(0 AS BIGINT) END
            |END""".stripMargin).as("credit"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_touches"),
          sum(col("credit")).as("credit_cents"))
    },

    // ── conversion-lag histogram (view → purchase time-to-event) ────────
    // Time from a user's FIRST view to their FIRST purchase, bucketed
    // into whole hours: one user-keyed aggregate (two conditional mins
    // in a single pass) plus a histogram agg over the tiny bucket
    // domain. Users who purchased before ever viewing (or never did
    // both) are excluded.
    "q_conversion_lag" -> { (s, dir) =>
      loadEvents(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ms")))
            .as("first_view"),
          min(when(col("event_type") === "purchase", col("ms")))
            .as("first_purchase"))
        .filter(col("first_view").isNotNull &&
          col("first_purchase").isNotNull &&
          col("first_purchase") >= col("first_view"))
        .select(expr("(first_purchase - first_view) div 3600000")
          .as("lag_hours"))
        .groupBy(col("lag_hours"))
        .agg(count(lit(1)).as("n_users"))
    },

    // ── CDC change feed between two entity-state snapshots ─────────────
    // See [[ChangeFeed]]: per-user state (event count + latest
    // event_type) as of Jan 15 vs Jan 25, diffed into the
    // insert/update/delete feed a downstream consumer replays. Each
    // snapshot is ONE struct-max aggregate (no window funnel); the diff
    // is one full-outer join on the user key.
    "q_table_diff" -> { (s, dir) =>
      val ev = loadEvents(s, dir)
      def snap(cutMs: Long) = ChangeFeed.snapshotState(ev,
        col("user_id"), col("ms"), col("event_id"), col("event_type"),
        lit(cutMs))
      ChangeFeed.diff(snap(DIFF_T1_MS), snap(DIFF_T2_MS))
        .select(col("k").as("user_id"), col("action"),
          col("old_n"), col("new_n"), col("old_attr"), col("new_attr"))
    },

    // ── scalable profile: approx_count_distinct (HLL), oracle-gated by
    // TOLERANCE: raw sketch estimates differ per engine (different HLL
    // hashing), so the row can never hash-match on values — instead
    // each engine checks ITS OWN estimate against its own exact count
    // and emits the engine-independent verdict (within ±15 %, integer
    // arithmetic — ≈3σ of Spark's default rsd 0.05; DuckDB's sketch is
    // tighter). The capability under test — "the approx profile is a
    // faithful stand-in for the exact one" — is exactly what the
    // boolean pins, in both engines; the exact-profile twin is
    // q_profile_onepass.
    "q_profile_approx" -> { (s, dir) =>
      loadEvents(s, dir).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        approx_count_distinct(col("user_id")).as("au"),
        approx_count_distinct(col("event_type")).as("at"))
        .select(col("n_rows"), col("n_users"), col("n_types"),
          (abs(col("au") - col("n_users")) * 100 <=
            col("n_users") * 15).cast("int").as("users_within_15pct"),
          (abs(col("at") - col("n_types")) * 100 <=
            col("n_types") * 15).cast("int").as("types_within_15pct"))
    },

    // ── PII scrub audit over semi-structured payloads ───────────────────
    // The redaction-coverage report a privacy pass emits: digit runs
    // (account-number shape — the only PII-like signal this synthetic
    // payload carries; a real deployment swaps the rule list) matched,
    // redacted, and counted per event type. Complements
    // q_blocklist_redact (per-doc projection form) with the AUDIT form:
    // rows hit, total matches, chars redacted — the numbers a DPIA
    // wants per category. Regex is RE2-safe so the oracle runs it
    // verbatim. One codegen'd regex projection + a low-cardinality
    // keyed aggregate with map-side partials; zero joins.
    "q_pii_scrub" -> { (s, dir) =>
      Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("regexp_count(props, '[0-9]{2,}')").as("m"),
          (length(col("props")) -
            length(regexp_replace(col("props"), "[0-9]{2,}", "")))
            .as("chars"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_hit_rows"),
          sum(col("m").cast("long")).as("n_matches"),
          sum(col("chars").cast("long")).as("chars_redacted"))
    },

    // ── DAU/WAU stickiness ─────────────────────────────────────────────
    // Distinct daily actives over distinct weekly actives, per day in
    // basis points — the engagement-density number a product dashboard
    // leads with (10000 bp = every weekly user shows up daily). Two
    // distinct-user aggregates (day- and week-keyed — Spark's two-phase
    // distinct, map-side partial on (key, user)) joined on the tiny
    // week table; all integer epoch-day/week arithmetic.
    "q_stickiness" -> { (s, dir) =>
      val days = loadEvents(s, dir)
        .select(col("user_id"), expr("ms div 86400000").as("day"))
        .withColumn("week", expr("day div 7"))
      val dau = days.groupBy(col("day"), col("week"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = days.groupBy(col("week"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(broadcast(wau), "week")
        .select(col("day"), col("week"), col("dau"), col("wau"),
          expr("dau * 10000 div wau").as("stickiness_bp"))
    },

    // ── per-user inter-arrival burstiness (CV² of gaps, ppm) ───────────
    // The bot/automation screen q_arrival_histogram (per-TYPE traffic
    // shape) can't see: a Poisson-ish human has gap CV² ≈ 10⁶ ppm, a
    // cron-driven client sits near 0 (metronome regularity), and a
    // scraper burst pushes it far above 10⁶. Per user with ≥ 2 gaps:
    // gap count, integer mean gap (seconds), and the squared
    // coefficient of variation (n·Σg² − (Σg)²)·10⁶ div (Σg)² — the
    // biased-variance/mean² identity, so one pass of plain sums
    // suffices and both engines compute it bit-identically. Moments go
    // through DECIMAL(38,0)/HUGEINT (q_correlation's headroom pattern:
    // month-scale gaps in seconds square to ~10¹³, and n·Σg²·10⁶
    // leaves int64 long before sf1). The lag window is USER-keyed —
    // the sessionization shuffle shape, no low-cardinality funnel.
    "q_burstiness" -> { (s, dir) => burstiness(loadEvents(s, dir)) },

    // ── daily bounce rate (single-event sessions, bp) ──────────────────
    // The engagement-quality readout on top of the shared gap
    // sessionization: per day (of session START), how many sessions
    // consisted of exactly one event and the bounce share in basis
    // points — the number a funnel owner checks before blaming the
    // funnel (a traffic-quality regression shows here first). Same
    // user-keyed window as q_sessionize, then a |days|-bounded rollup;
    // all integer epoch-day arithmetic.
    "q_bounce_rate" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      loadEvents(s, dir)
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull ||
            col("ms") - col("prev_ms") > GAP_MS, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"), min(col("ms")).as("start_ms"))
        .select(expr("start_ms div 86400000").as("day"),
          when(col("n_events") === 1, 1L).otherwise(0L).as("b"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("b")).as("n_bounces"))
        .withColumn("bounce_bp",
          expr("n_bounces * 10000 div n_sessions"))
    },

    // ── RFM segmentation (recency / frequency / monetary bands) ────────
    // The classic customer-base cut, with FIXED integer band rules as
    // the operator contract (quantile bands would make each user's
    // score depend on global sort order; fixed thresholds are
    // engine-exact, explainable, and stable across reruns — the same
    // determinism argument as the hash splits): recency in DAYS since
    // the corpus frontier (r 5..1), frequency in bands of 20 events,
    // monetary in bands of 400 currency units of purchase value
    // (half-cent-rounded integer cents, the attribution convention).
    // One user-keyed aggregate + a broadcast 1-row frontier + a
    // ≤125-row segment rollup.
    "q_rfm_segments" -> { (s, dir) =>
      val ev = loadEvents(s, dir)
      val frontier = ev.agg(max(col("ms")).as("now_ms"))
      ev.groupBy(col("user_id"))
        .agg(max(col("ms")).as("last_ms"),
          count(lit(1)).as("freq"),
          sum(when(col("event_type") === "purchase",
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("cents"))
        .crossJoin(broadcast(frontier))
        .withColumn("r_score",
          expr("5 - least(4, (now_ms - last_ms) div 86400000)"))
        .withColumn("f_score", expr("least(5, 1 + freq div 20)"))
        .withColumn("m_score", expr("least(5, 1 + cents div 40000)"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("cents")).as("segment_cents"))
    },

    // ── Markov stationary distribution of the event-type chain ─────────
    // Where user behavior SETTLES: the long-run share of each event
    // type under the measured transition matrix — the number that says
    // what the steady-state mix looks like if today's transition
    // behavior persists (vs the raw historical mix, which still
    // carries the cold-start). MARKOV_ITERS unrolled integer power
    // iterations (the q_pagerank_centrality convention: constant
    // round count, oracle replays identical CTEs): π'(b) =
    // Σ_a (π(a)·n(a→b)) div n(a→·) in ppm, uniform init 10⁶ div
    // |types|. Truncation sheds ≤ |types| ppm per round by design —
    // mass is NOT renormalized, so the floor division stays the whole
    // contract. The only corpus-sized work is the shared transition
    // aggregation (q_event_transitions' shape); every iteration runs
    // on the |types|²-row matrix.
    "q_markov_stationary" -> { (s, dir) =>
      markovStationary(loadEvents(s, dir), MARKOV_ITERS)
    },

    // ── NEAREST as-of join (both directions, closest wins) ─────────────
    // The merge_asof(direction='nearest') variant of q_asof_join's
    // backward-only rule: each event picks its user's closest order in
    // TIME, before or after. Tie contract (part of the operator):
    // equal distance → backward wins; equal (distance, direction) →
    // the union-window formulation's natural pick (largest orderkey
    // backward, smallest forward), which the oracle's independent
    // join+row_number formulation reproduces via a signed-key sort.
    // Same single user-keyed merge window as q_asof_join — ONE sort
    // covers both directions (a per-event range join would fan out),
    // orders never shuffle twice.
    "q_asof_nearest" -> { (s, dir) =>
      val ev = loadEvents(s, dir).select(
        col("user_id"), col("ms"), lit(1).as("kind"),
        col("event_id"), lit(null).cast("long").as("o_orderkey"))
      val ord = Tables.load(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        unix_millis(col("o_orderdate").cast("timestamp")).as("ms"),
        lit(0).as("kind"), lit(null).cast("long").as("event_id"),
        col("o_orderkey"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("kind").asc, col("o_orderkey").asc)
      val wPrev = w.rowsBetween(Window.unboundedPreceding,
        Window.currentRow)
      val wNext = w.rowsBetween(Window.currentRow,
        Window.unboundedFollowing)
      val ordStruct = when(col("kind") === 0,
        struct(col("ms").as("o_ms"), col("o_orderkey")))
      ev.unionByName(ord)
        .withColumn("prev_ord",
          last(ordStruct, ignoreNulls = true).over(wPrev))
        .withColumn("next_ord",
          first(ordStruct, ignoreNulls = true).over(wNext))
        .filter(col("kind") === 1 &&
          (col("prev_ord").isNotNull || col("next_ord").isNotNull))
        .withColumn("pick", expr(
          """CASE
            |  WHEN prev_ord IS NULL THEN next_ord
            |  WHEN next_ord IS NULL THEN prev_ord
            |  WHEN ms - prev_ord.o_ms <= next_ord.o_ms - ms
            |    THEN prev_ord
            |  ELSE next_ord
            |END""".stripMargin))
        .select(col("event_id"), col("user_id"), col("ms"),
          col("pick.o_orderkey").as("o_orderkey"),
          col("pick.o_ms").as("o_ms"),
          when(col("pick.o_ms") <= col("ms"), "b").otherwise("f")
            .as("direction"))
    },

    // ── within-session ordered funnel ──────────────────────────────────
    // The funnel scoped to ONE sitting: view→click→purchase must
    // happen in order INSIDE a session — the global funnel
    // (q_event_funnel) credits a purchase days after the view, this
    // one answers "does the visit itself convert". Sessions come from
    // the shared gap rule; the session then becomes the funnel's
    // grouping key via a composite surrogate (user·10⁶ + session_idx
    // — session counts per user are bounded far below 10⁶ by the gap
    // rule; at 100 TB the key is whatever session id the sessionizer
    // materialized). Same gated min-time cascade as funnelCounts,
    // session-keyed.
    "q_session_funnel" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val sess = loadEvents(s, dir)
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ms").isNull ||
            col("ms") - col("prev_ms") > GAP_MS, 1).otherwise(0))
        .withColumn("session_idx",
          sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select((col("user_id") * 1000000 + col("session_idx"))
          .as("user_id"), col("event_type"), col("ms"))
      funnelCounts(sess, Seq("view", "click", "purchase"))
        .withColumnRenamed("n_users", "n_sessions")
    },

    // ── overdue users (silence vs personal cadence, churn screen) ──────
    // Recency alone can't flag churn — a weekly user silent for 5 days
    // is fine, an hourly user silent for 5 days is gone. Per user with
    // ≥ 2 gaps: current silence (frontier − last event), the user's
    // OWN mean inter-event gap, and the overdue factor silence·10⁶
    // div mean_gap — at_risk once silence passes 3× the personal
    // cadence. Same user-keyed lag window as q_burstiness, one
    // broadcast frontier row; all integer ms/s arithmetic.
    "q_overdue_users" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val ev = loadEvents(s, dir)
      val frontier = ev.agg(max(col("ms")).as("now_ms"))
      ev.select(col("user_id"), col("ms"), col("event_id"))
        .withColumn("prev_ms", lag(col("ms"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("ms")).as("last_ms"),
          count(when(col("prev_ms").isNotNull, 1)).as("n_gaps"),
          sum(when(col("prev_ms").isNotNull,
            col("ms") - col("prev_ms"))).as("sum_gap_ms"))
        .filter(col("n_gaps") >= 2)
        .crossJoin(broadcast(frontier))
        .select(col("user_id"),
          expr("(now_ms - last_ms) div 1000").as("silent_s"),
          expr("(sum_gap_ms div n_gaps) div 1000").as("typical_gap_s"),
          expr("""CASE WHEN sum_gap_ms div n_gaps = 0
            |  THEN CAST(NULL AS BIGINT)
            |  ELSE ((now_ms - last_ms) * 1000000)
            |    div (sum_gap_ms div n_gaps)
            |END""".stripMargin).as("overdue_ppm"))
        .withColumn("at_risk",
          coalesce(col("overdue_ppm") > 3000000L, lit(false)))
    },

    // ── audience overlap between event types (user-set Jaccard) ────────
    // "Do the people who click also purchase?" — the |types|² matrix
    // of user-set overlap: shared users, each side's audience size,
    // and Jaccard in bp per canonical type pair. One distinct
    // (type, user) projection (two-phase distinct, map-side partial),
    // then a user-keyed self-join whose fan-out is bounded by
    // |types-per-user|² — never |users|² — and a |types|²-row rollup.
    "q_audience_overlap" -> { (s, dir) =>
      val tu = graft.CacheRegistry.persist(
        Tables.load(s, dir, "events")
          .select(col("event_type"), col("user_id")).distinct())
      val sz = tu.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
      val common = tu.toDF("type_a", "user_id")
        .join(tu.toDF("type_b", "user_id"), "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_common"))
      common
        .join(broadcast(sz.toDF("type_a", "n_a")), "type_a")
        .join(broadcast(sz.toDF("type_b", "n_b")), "type_b")
        .select(col("type_a"), col("type_b"), col("n_common"),
          col("n_a"), col("n_b"),
          expr("n_common * 10000 div (n_a + n_b - n_common)")
            .as("jaccard_bp"))
    },

    // ── seasonal-naïve forecast error (WAPE backtest) ───────────────────
    // The baseline every traffic forecast must beat: predict each
    // hour's event count as the SAME HOUR LAST WEEK (lag 168 h), score
    // by weighted absolute percentage error in bp — Σ|c−ĉ|·10⁴ / Σc per
    // type. The lag is an hour-keyed EQUI-join (hour − 168), never a
    // window over the corpus: sparse hours simply find no partner and
    // drop out (n_hours_scored says how many scored). All integer —
    // counts, absolute differences, one floor division at the end.
    "q_seasonal_naive_error" -> { (s, dir) =>
      val hourly = graft.CacheRegistry.persist(
        loadEvents(s, dir)
          .groupBy(col("event_type"),
            expr("ms div 3600000").as("hour_idx"))
          .agg(count(lit(1)).as("c")))
      hourly
        .join(hourly.select(col("event_type"),
            (col("hour_idx") + 168).as("hour_idx"),
            col("c").as("pred")),
          Seq("event_type", "hour_idx"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours_scored"),
          sum(abs(col("c") - col("pred"))).as("abs_err"),
          sum(col("c")).as("actual"))
        .withColumn("wape_bp", expr("abs_err * 10000 div actual"))
    },

    // ── new vs returning users per day (acquisition decomposition) ─────
    // The growth-accounting readout DAU alone hides: of each day's
    // active users, how many are seen for the FIRST time (acquisition)
    // vs returning (retention). First-seen day per user is one
    // user-keyed min; the daily rollup joins it back user-keyed —
    // no windows, all integer epoch days.
    "q_new_vs_returning" -> { (s, dir) =>
      val ev = loadEvents(s, dir)
        .select(col("user_id"), expr("ms div 86400000").as("day"))
      val firstDay = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("first_day"))
      ev.distinct()
        .join(firstDay, "user_id")
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("day"), col("n_active"), col("n_new"),
          (col("n_active") - col("n_new")).as("n_returning"),
          expr("n_new * 10000 div n_active").as("new_share_bp"))
    },

    // ── CUPED covariate statistics (pre-period adjustment inputs) ──────
    // The variance-reduction companion to q_ab_conversion: CUPED
    // adjusts a post-period metric by θ·(x − x̄) with θ = cov(x,y)/var(x)
    // over a PRE-period covariate. Emitted as the six ALGEBRAIC SUMS
    // the adjustment is formed from — (n, Σx, Σy, Σxy, Σx², Σy²) — and
    // nothing divided or cross-multiplied engine-side: θ is signed (a
    // div would hit the truncate/floor split) and n·Σy² − (Σy)²
    // overflows int64 at this very SF, so the consumer forms the
    // rationals in whatever width it owns. The sums are the same
    // mergeable moment state as q_mergeable_moments — two experiment
    // snapshots merge by addition. Covariate = pre-cutoff event count,
    // metric = post-cutoff value cents; Σy² rides a DECIMAL partial
    // (HUGEINT on the oracle side) and comes back to long via
    // TRY-semantics casts on BOTH sides, so past the int64 width
    // (≈ 10⁸ users at these value scales) the column reads NULL in
    // both engines — Spark's ANSI-off CAST already NULLs on decimal
    // overflow and the oracle's TRY_CAST mirrors it; a plain DuckDB
    // CAST would throw and split the engines on the same input.
    "q_cuped_theta" -> { (s, dir) =>
      loadEvents(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("ms") < DIFF_T1_MS, 1L).otherwise(0L)).as("x"),
          sum(when(col("ms") >= DIFF_T1_MS,
            expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
            .otherwise(0L)).as("y"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS BIGINT)")
            .as("sxy"),
          expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS BIGINT)")
            .as("sxx"),
          expr("CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS BIGINT)")
            .as("syy"))
    },

    // ── A/B conversion readout (two-proportion z², exact integers) ─────
    // The experiment-analysis primitive: split users into two arms by a
    // seeded hash (the same determinism contract as q_train_test_split),
    // measure purchase conversion per arm, and report the two-proportion
    // z² statistic in milli-units — z² ≥ 3841 ⟺ |z| ≥ 1.96, the 95 %
    // line. Rates are bp-QUANTIZED by contract before the test (both
    // engines floor the same integers), which keeps every product
    // inside DECIMAL(38,0)/HUGEINT up to ~10⁹ users per arm:
    // z² = d_bp²·n_a·n_b / (p_bp·(10⁴−p_bp)·N) with d the rate gap and
    // p the pooled rate. Degenerate pools (0 % / 100 %) emit NULL.
    //
    // 100 TB posture: one user-keyed conversion aggregate, a 2-row arm
    // rollup, then single-row integer algebra.
    "q_ab_conversion" -> { (s, dir) =>
      val arms = Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("converted"))
        .withColumn("arm",
          Dedup.hash32(AB_SEED, col("user_id").cast("string")) % 2)
      arms.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("converted")).otherwise(0L))
            .as("conv_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1, col("converted")).otherwise(0L))
            .as("conv_b"))
        // empty-arm guard: Spark `x div 0` NULLs under ANSI-off while
        // DuckDB `// 0` throws — a degenerate split must read NULL in
        // BOTH engines, not split them
        .withColumn("rate_a_bp", expr(
          "CASE WHEN n_a = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE conv_a * 10000 div n_a END"))
        .withColumn("rate_b_bp", expr(
          "CASE WHEN n_b = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE conv_b * 10000 div n_b END"))
        .withColumn("pooled_bp", expr(
          "CASE WHEN n_a + n_b = 0 THEN CAST(NULL AS BIGINT)" +
            " ELSE (conv_a + conv_b) * 10000 div (n_a + n_b) END"))
        .withColumn("z2_milli", expr(
          """CASE WHEN n_a = 0 OR n_b = 0
            |  OR pooled_bp = 0 OR pooled_bp = 10000
            |  THEN CAST(NULL AS BIGINT)
            |ELSE CAST(
            |  CAST((rate_a_bp - rate_b_bp) AS DECIMAL(38,0))
            |    * (rate_a_bp - rate_b_bp) * n_a * n_b * 1000
            |  div (CAST(pooled_bp AS DECIMAL(38,0))
            |    * (10000 - pooled_bp) * (n_a + n_b)) AS BIGINT)
            |END""".stripMargin))
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          col("rate_a_bp"), col("rate_b_bp"), col("pooled_bp"),
          col("z2_milli"))
    },

    // ── Markov next-event prediction accuracy (baseline eval) ──────────
    // q_event_transitions gives the matrix and q_markov_stationary its
    // long-run mix; this is the EVAL — if you predict each user's next
    // event as the argmax transition from their current one (the
    // Markov-1 baseline every sequence model must beat), how often are
    // you right, per state? In-sample by design: this prices the
    // baseline's ceiling on the data itself (a held-out eval composes
    // with q_train_test_split's hash gate). Argmax via one struct-min
    // fold (count DESC, type ASC tie-break), model broadcast; the only
    // corpus-sized work is the user-keyed lead window + one aggregate.
    "q_markov_accuracy" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      val pairs = graft.CacheRegistry.persist(
        loadEvents(s, dir)
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .select(col("event_type"), col("next_type")))
      val model = pairs
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("event_type"))
        .agg(min(struct((-col("c")).as("nc"), col("next_type"))).as("m"))
        .select(col("event_type"), col("m.next_type").as("predicted_next"))
      pairs.join(broadcast(model), "event_type")
        .groupBy(col("event_type"), col("predicted_next"))
        .agg(count(lit(1)).as("n_transitions"),
          sum(when(col("next_type") === col("predicted_next"), 1L)
            .otherwise(0L)).as("n_hits"))
        .withColumn("acc_bp", expr("n_hits * 10000 div n_transitions"))
    },

    // ── mergeable moment sketches (algebraic day states) ───────────────
    // Completes the mergeable-state family (HLL distinct / MinHash
    // Jaccard / histogram quantiles / Misra–Gries top-k) with the
    // MOMENTS sketch: per (type, day) the algebraic state (n, Σc, Σc²)
    // in half-cent-rounded integer cents. States merge by plain
    // addition, so daily jobs maintain them incrementally and any time
    // range's exact mean/variance is a sum of states — never a rescan.
    // This query drives the two-level path (day states THEN merge);
    // the oracle computes straight from rows, so the hash match IS the
    // mergeability proof. Variance stays division-free until the final
    // (n·Σc² − (Σc)²) div n², every product on DECIMAL(38,0)/HUGEINT.
    "q_mergeable_moments" -> { (s, dir) =>
      val state = loadEvents(s, dir)
        .select(col("event_type"), expr("ms div 86400000").as("day"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("c"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s1"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
      state.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"),
          sum(col("s1")).as("sum_c"), sum(col("s2")).as("s2"))
        .select(col("event_type"), col("n_days"), col("n_events"),
          col("sum_c"), expr("sum_c div n_events").as("mean_c"),
          expr("(CAST(n_events AS DECIMAL(38,0)) * s2 -" +
            " CAST(sum_c AS DECIMAL(38,0)) * sum_c)" +
            " div (CAST(n_events AS DECIMAL(38,0)) * n_events)")
            .as("var_cc"))
    },

    // ── association lift between event types within sessions ───────────
    // q_audience_overlap asks "do the same USERS do both (ever)";
    // this asks the basket question — "do both types happen in the
    // same VISIT", which is what cross-sell/next-action models feed
    // on. Sessions come from the shared 30-min gap rule (composite
    // surrogate, the q_session_funnel convention); per canonical type
    // pair: co-session count and the lift n_both·S / (n_a·n_b) in bp
    // (monotone with PMI, integer-exact — products ride DECIMAL(38,0)
    // / HUGEINT so no width cliff at any scale). Lift > 10⁴ = the
    // pair co-occurs beyond independence.
    //
    // 100 TB posture: the sessionize window is user-keyed; the
    // pair-generation self-join is session-keyed with fan-out bounded
    // by |types-per-session|² (the audience-overlap shape, never
    // |sessions|²); margins and the total are broadcast-scale.
    "q_session_lift" -> { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms").asc, col("event_id").asc)
      // the distinct (session, type) table feeds four consumers (total,
      // margins, both pair-join sides) — persist it or each one re-runs
      // the corpus-wide sessionize window
      val st = graft.CacheRegistry.persist(
        loadEvents(s, dir)
          .withColumn("prev_ms", lag(col("ms"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ms").isNull ||
              col("ms") - col("prev_ms") > GAP_MS, 1).otherwise(0))
          .withColumn("session_idx",
            sum(col("new_sess")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select((col("user_id") * 1000000 + col("session_idx"))
            .as("sess"), col("event_type"))
          .distinct())
      val tot = st.select(col("sess")).distinct()
        .agg(count(lit(1)).as("n_sessions"))
      val per = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val pair = st.toDF("sess", "type_a")
        .join(st.toDF("sess", "type_b"), "sess")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      pair
        .join(broadcast(per.toDF("type_a", "n_a")), "type_a")
        .join(broadcast(per.toDF("type_b", "n_b")), "type_b")
        .crossJoin(broadcast(tot))
        .select(col("type_a"), col("type_b"), col("n_both"),
          col("n_a"), col("n_b"), col("n_sessions"),
          expr("CAST(n_both AS DECIMAL(38,0)) * n_sessions * 10000" +
            " div (CAST(n_a AS DECIMAL(38,0)) * n_b)").as("lift_bp"))
    },

    // ── day-of-week × hour traffic profile (seasonality heatmap) ───────
    // The time-OF-DAY shape q_arrival_histogram's inter-event gaps
    // can't see and q_seasonal_anomaly consumes only implicitly: event
    // and distinct-user counts per (dow, hour) UTC cell — the 7×24
    // heatmap capacity planning and anomaly baselining start from.
    // Both coordinates are pure integer epoch-ms arithmetic (epoch day
    // 0 = Thursday, so dow = (day + 4) % 7 with Sunday = 0), identical
    // in DuckDB — no timestamp formatting, no locale, no DST.
    //
    // 100 TB posture: one map-side-combined aggregate onto ≤ 168 keys;
    // the distinct-user count is the only expansion (two-phase
    // distinct) and its key space is (cell × user), shuffled once.
    "q_dow_hour_profile" -> { (s, dir) =>
      loadEvents(s, dir)
        .select(expr("(ms div 86400000 + 4) % 7").as("dow"),
          expr("(ms div 3600000) % 24").as("hour"),
          col("user_id"), col("event_id"))
        .groupBy(col("dow"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
    }
  )

  /** The q_markov_stationary body over any (user_id, ms, event_id,
    * event_type) event table — see the query comment above for the
    * integer power-iteration contract.
    */
  private[graft] def markovStationary(events: DataFrame,
                                      iters: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    val tr = events
      .select(col("user_id"), col("event_type").as("next_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
    val tot = tr.groupBy(col("prev_type"))
      .agg(count(lit(1)).as("n_from"))
    val tx = graft.CacheRegistry.persist(
      tr.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("n_trans"))
        .join(broadcast(tot), "prev_type"))
    val states = tx.select(col("prev_type").as("t"))
      .union(tx.select(col("next_type").as("t"))).distinct()
    var pi = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("ns"))))
      .select(col("t"), expr("1000000 div ns").as("pi_ppm"))
    for (_ <- 1 to iters) {
      pi = tx.join(pi.toDF("prev_type", "pi_ppm"), "prev_type")
        .select(col("next_type").as("t"),
          expr("(pi_ppm * n_trans) div n_from").as("c"))
        .groupBy(col("t")).agg(sum(col("c")).as("pi_ppm"))
    }
    pi.select(col("t").as("event_type"), col("pi_ppm"))
  }

  /** The q_burstiness body over any (user_id, ms, event_id) event
    * table: per-user gap count, integer mean gap in seconds, and CV²
    * of the inter-arrival gaps in ppm (biased variance over squared
    * mean — one pass of plain sums). Users with fewer than two gaps
    * are dropped; an all-zero gap sum yields NULL (CV undefined).
    */
  private[graft] def burstiness(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("ms"), col("event_id"))
      .withColumn("prev_ms", lag(col("ms"), 1).over(w))
      .withColumn("gap_s", expr("(ms - prev_ms) div 1000"))
      .filter(col("gap_s").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap_s")).as("sg"),
        sum(expr("gap_s * gap_s")).as("sgg"))
      .filter(col("n_gaps") >= 2)
      .selectExpr("user_id", "CAST(n_gaps AS DECIMAL(38,0)) AS n",
        "CAST(sg AS DECIMAL(38,0)) AS sg",
        "CAST(sgg AS DECIMAL(38,0)) AS sgg")
      .selectExpr("user_id", "CAST(n AS BIGINT) AS n_gaps",
        "CAST(sg div n AS BIGINT) AS mean_gap_s",
        """CASE WHEN sg = 0 THEN CAST(NULL AS BIGINT)
          |  ELSE CAST(((n * sgg - sg * sg) * 1000000) div (sg * sg)
          |    AS BIGINT) END AS cv2_ppm""".stripMargin)
  }

  /** As-of join: each `left` row with the latest `right` row of the same
    * `key` whose `rightTs` is at or before its `leftTs`, as a `matched`
    * struct of that right row's other columns (null when none precedes).
    * Spark has no native ASOF JOIN; this is the union-and-carry plan:
    * both sides tagged and sorted once per key (right rows before left
    * rows at equal timestamps) and the latest right row carried forward
    * with last(_, ignoreNulls) — ONE shuffle + sort, no range fan-out (a
    * `leftTs >= rightTs` join materializes every earlier right row per
    * left row). Right rows tied on the timestamp are ordered by their
    * payload struct, so the carried one is the greatest payload (first
    * column first), never an arbitrary pick.
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTs: String, rightTs: String): DataFrame = {
    val payload = right.columns.toSeq
      .filterNot(c => c == key || c == rightTs).map(col)
    val r = right.select(col(key), col(rightTs).as("__ts"),
      lit(0).as("__kind"), struct(payload: _*).as("__payload"))
    val w = Window.partitionBy(col(key))
      .orderBy(col("__ts").asc, col("__kind").asc, col("__payload").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.withColumn("__ts", col(leftTs)).withColumn("__kind", lit(1))
      .unionByName(r, allowMissingColumns = true)
      .withColumn("matched",
        last(col("__payload"), ignoreNulls = true).over(w))
      .filter(col("__kind") === 1)
      .drop("__ts", "__kind", "__payload")
  }

  /** Ordered-funnel user counts over (user_id, event_type, ms): one row
    * per step with the number of users whose FIRST qualifying time for
    * that step follows their previous step's time.
    */
  def funnelCounts(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val e = events.select(col("user_id"), col("event_type"), col("ms"))
    // each gate table feeds BOTH its count branch and the next step's
    // join — persist (registered) or every later branch re-derives the
    // whole earlier chain and events gets scanned O(steps²) times
    val stepTimes = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, i)) =>
        val mine = e.filter(col("event_type") === step)
        val gated = prev match {
          case None => mine
          case Some(p) =>
            mine.join(p.select(col("user_id"), col(s"t$i").as("t_prev")),
                "user_id")
              .filter(col("ms") >= col("t_prev"))
        }
        Some(graft.CacheRegistry.persist(
          gated.groupBy(col("user_id"))
            .agg(min(col("ms")).as(s"t${i + 1}"))))
    }.flatten
    stepTimes.zip(steps).zipWithIndex.map { case ((t, name), i) =>
      t.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"),
          col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** (cohort_wk, week_offset, n_users): distinct active users per weeks-
    * since-first-seen, cohorted by first-seen week. Week = integer
    * epoch-week (ms div 86400000 div 7).
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weeks = events
      .select(col("user_id"), expr("ms div 86400000 div 7").as("wk"))
      .distinct()
    val first = weeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    weeks.join(first, "user_id")
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      // rows are distinct (user, wk) pairs → count ≡ distinct users
      .agg(count(lit(1)).as("n_users"))
  }

  val oracle: Map[String, String] = Map(
    "q_embargo_split" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |mm AS (SELECT min(ms) AS lo, max(ms) AS hi FROM e),
        |per AS (SELECT user_id,
        |    sum(CASE WHEN ms < lo + (hi - lo) * 7 // 10
        |      THEN 1 ELSE 0 END) AS n_tr,
        |    sum(CASE WHEN ms >= lo + (hi - lo) * 15 // 20
        |      THEN 1 ELSE 0 END) AS n_te,
        |    count(*) AS n
        |  FROM e, mm GROUP BY 1),
        |a AS (SELECT count(*) AS n_users,
        |    CAST(sum(n_tr) AS BIGINT) AS n_train_events,
        |    CAST(sum(n - n_tr - n_te) AS BIGINT) AS n_embargo_events,
        |    CAST(sum(n_te) AS BIGINT) AS n_test_events,
        |    CAST(sum(CASE WHEN n_tr > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_train_users,
        |    CAST(sum(CASE WHEN n_te > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_test_users,
        |    CAST(sum(CASE WHEN n_tr > 0 AND n_te > 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_leaky_users
        |  FROM per)
        |SELECT *, CAST(n_leaky_users * 1000000 // n_users AS BIGINT)
        |  AS leak_ppm
        |FROM a""".stripMargin,

    "q_profile_approx" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(abs(approx_count_distinct(user_id)
        |      - count(DISTINCT user_id)) * 100
        |    <= count(DISTINCT user_id) * 15 AS INT) AS users_within_15pct,
        |  CAST(abs(approx_count_distinct(event_type)
        |      - count(DISTINCT event_type)) * 100
        |    <= count(DISTINCT event_type) * 15 AS INT) AS types_within_15pct
        |FROM events""".stripMargin,

    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
         |flagged AS (SELECT *,
         |  CASE WHEN lag(ms) OVER w IS NULL
         |         OR ms - lag(ms) OVER w > $GAP_MS THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)),
         |sessions AS (SELECT *,
         |  CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM flagged)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |  min(ms) AS start_ms, max(ms) AS end_ms,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM sessions GROUP BY user_id, session_idx""".stripMargin,

    "q_event_window_agg" ->
      """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q_map_ops" ->
      """SELECT event_id,
        | len(json_keys(props)) AS n_keys,
        | array_to_string(list_sort(json_keys(props)), ',') AS keys_csv,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events""".stripMargin,

    "q_event_funnel" ->
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

    "q_cohort_retention" ->
      """WITH wks AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 // 7 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM wks GROUP BY user_id)
        |SELECT f.cohort_wk, w.wk - f.cohort_wk AS week_offset,
        |       count(*) AS n_users
        |FROM wks w JOIN f ON w.user_id = f.user_id
        |GROUP BY f.cohort_wk, w.wk - f.cohort_wk""".stripMargin,

    "q_retention_pct" ->
      """WITH wks AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 // 7 AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM wks GROUP BY user_id),
        |m AS (SELECT f.cohort_wk, w.wk - f.cohort_wk AS week_offset,
        |    count(*) AS n_users
        |  FROM wks w JOIN f ON w.user_id = f.user_id
        |  GROUP BY 1, 2),
        |sz AS (SELECT cohort_wk, n_users AS n_cohort FROM m
        |  WHERE week_offset = 0)
        |SELECT m.cohort_wk, m.week_offset, m.n_users, sz.n_cohort,
        |  CAST(m.n_users * 10000 // sz.n_cohort AS BIGINT) AS retention_bp
        |FROM m JOIN sz ON m.cohort_wk = sz.cohort_wk""".stripMargin,

    // deterministic as-of: among orders with oms <= event ms, the winner
    // is max (oms, orderkey) — mirrored by the Spark union-and-carry sort
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events),
        |o AS (SELECT o_custkey, o_orderkey, o_totalprice,
        |        epoch_ms(o_orderdate) AS oms FROM orders),
        |j AS (SELECT e.event_id, e.user_id, e.ms, o.o_orderkey, o.o_totalprice,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.oms DESC, o.o_orderkey DESC) AS rn
        |  FROM e JOIN o ON e.user_id = o.o_custkey AND o.oms <= e.ms)
        |SELECT event_id, user_id, ms, o_orderkey, o_totalprice
        |FROM j WHERE rn = 1""".stripMargin,

    "q_arrival_histogram" ->
      """WITH e AS (SELECT event_type, event_id,
        |    epoch_ms(ts) AS ms FROM events),
        |g AS (SELECT event_type,
        |    ms - lag(ms) OVER (PARTITION BY event_type
        |      ORDER BY ms ASC, event_id ASC) AS gap_ms
        |  FROM e)
        |SELECT event_type,
        |  CAST(least(gap_ms // 60000, 60) AS BIGINT) AS bucket_min,
        |  count(*) AS n_gaps
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q_rolling_active" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |uw AS (SELECT DISTINCT user_id, day + o AS window_day
        |  FROM ud, range(0, 7) t(o))
        |SELECT window_day, count(*) AS n_active_7d
        |FROM uw GROUP BY 1""".stripMargin,

    "q_hopping_window" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_ms(ts) // 3600000) * 3600000 AS hr FROM events)
        |SELECT event_type, hr - o * 3600000 AS window_start_ms,
        |  count(*) AS n_events
        |FROM e, range(0, 2) t(o)
        |GROUP BY 1, 2""".stripMargin,

    "q_event_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |p AS (SELECT event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS s3
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC))
        |SELECT s1 || '>' || s2 || '>' || s3 AS path,
        |  count(*) AS n_occurrences
        |FROM p WHERE s2 IS NOT NULL AND s3 IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q_event_transitions" ->
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

    "q_scd2_runs" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |f AS (SELECT *,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC)),
        |r AS (SELECT *,
        |    CAST(sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY ms ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_id
        |  FROM f),
        |g AS (SELECT user_id, run_id, min(event_type) AS state,
        |    min(ms) AS valid_from_ms, count(*) AS n_events
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, run_id, state, valid_from_ms, n_events,
        |  lead(valid_from_ms) OVER (PARTITION BY user_id
        |    ORDER BY run_id ASC) AS valid_to_ms
        |FROM g""".stripMargin,

    "q_table_diff" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |e1 AS (SELECT * FROM e
        |  WHERE ms < epoch_ms(TIMESTAMP '2024-01-15')),
        |e2 AS (SELECT * FROM e
        |  WHERE ms < epoch_ms(TIMESTAMP '2024-01-25')),
        |s1 AS (SELECT c.user_id, c.old_n, l.old_attr
        |  FROM (SELECT user_id, count(*) AS old_n FROM e1 GROUP BY 1) c
        |  JOIN (SELECT user_id, event_type AS old_attr FROM (
        |      SELECT user_id, event_type, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
        |      FROM e1) WHERE rn = 1) l USING (user_id)),
        |s2 AS (SELECT c.user_id, c.new_n, l.new_attr
        |  FROM (SELECT user_id, count(*) AS new_n FROM e2 GROUP BY 1) c
        |  JOIN (SELECT user_id, event_type AS new_attr FROM (
        |      SELECT user_id, event_type, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rn
        |      FROM e2) WHERE rn = 1) l USING (user_id))
        |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'insert'
        |       WHEN s2.user_id IS NULL THEN 'delete'
        |       WHEN s1.old_n <> s2.new_n
        |         OR s1.old_attr <> s2.new_attr THEN 'update' END AS action,
        |  s1.old_n, s2.new_n, s1.old_attr, s2.new_attr
        |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
        |WHERE CASE WHEN s1.user_id IS NULL THEN 'insert'
        |       WHEN s2.user_id IS NULL THEN 'delete'
        |       WHEN s1.old_n <> s2.new_n
        |         OR s1.old_attr <> s2.new_attr THEN 'update' END
        |  IS NOT NULL""".stripMargin,

    "q_winsorized_stats" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value) AS BIGINT) AS v FROM events),
        |vc AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
        |cum AS (SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM vc),
        |b AS (SELECT event_type,
        |    min(CASE WHEN cum * 20 >= n THEN v END) AS lo,
        |    min(CASE WHEN cum * 20 >= n * 19 THEN v END) AS hi
        |  FROM cum GROUP BY 1)
        |SELECT e.event_type, count(*) AS n, max(lo) AS lo, max(hi) AS hi,
        |  CAST(sum(greatest(lo, least(hi, v))) AS BIGINT) AS sum_winsorized
        |FROM e JOIN b USING (event_type)
        |GROUP BY 1""".stripMargin,

    "q_heavy_hitters" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_window_dedup" ->
      """SELECT min(event_id) AS event_id, user_id, event_type,
        |  (epoch_ms(ts) // 300000) * 300000 AS window_start_ms,
        |  count(*) AS n_collapsed
        |FROM events
        |GROUP BY user_id, event_type, epoch_ms(ts) // 300000""".stripMargin,

    "q_mad_outliers" ->
      """WITH e AS (SELECT event_type,
        |    CAST(floor(value) AS BIGINT) AS v FROM events),
        |vc AS (SELECT event_type, v, count(*) AS c FROM e GROUP BY 1, 2),
        |cumv AS (SELECT event_type, v,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM vc),
        |med AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= n THEN v END) AS med
        |  FROM cumv GROUP BY 1),
        |dc AS (SELECT vc.event_type, abs(v - med) AS d, sum(c) AS c
        |  FROM vc JOIN med USING (event_type) GROUP BY 1, 2),
        |cumd AS (SELECT event_type, d,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n FROM dc),
        |mad AS (SELECT event_type,
        |    min(CASE WHEN cum * 2 >= n THEN d END) AS mad
        |  FROM cumd GROUP BY 1)
        |SELECT e.event_type, count(*) AS n, max(med) AS med,
        |  max(mad) AS mad,
        |  CAST(sum(CASE WHEN abs(v - med) > mad * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM e JOIN med USING (event_type) JOIN mad USING (event_type)
        |GROUP BY 1""".stripMargin,

    "q_attribution_linear" ->
      s"""WITH $attrPairsCtes,
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
         |SELECT touch_type, count(*) AS n_touches,
         |  CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
         |  CAST(sum(credit) AS BIGINT) AS credit_cents
         |FROM credited GROUP BY 1""".stripMargin,

    "q_attribution_last" ->
      s"""WITH $attrPairsCtes,
         |m AS (SELECT p_id, max(t_ms) AS m_ms FROM pr GROUP BY 1),
         |l AS (SELECT pr.p_id, max(pr.t_id) AS l_id
         |  FROM pr JOIN m ON pr.p_id = m.p_id AND pr.t_ms = m.m_ms
         |  GROUP BY 1)
         |SELECT pr.touch_type, count(*) AS n_purchases,
         |  CAST(sum(pr.cents) AS BIGINT) AS credit_cents
         |FROM pr JOIN l ON pr.p_id = l.p_id AND pr.t_id = l.l_id
         |GROUP BY 1""".stripMargin,

    "q_attribution_decay" ->
      s"""WITH $attrPairsCtes,
         |wt AS (SELECT p_id, cents, t_id, t_ms, touch_type,
         |    CAST(64 >> CAST(least((p_ms - t_ms) // 86400000, 6) AS INT)
         |      AS BIGINT) AS w
         |  FROM pr),
         |per AS (SELECT p_id, CAST(sum(w) AS BIGINT) AS sw,
         |    min(t_ms) AS m_ms
         |  FROM wt GROUP BY 1),
         |firstid AS (SELECT wt.p_id, min(wt.t_id) AS f_id
         |  FROM wt JOIN per ON wt.p_id = per.p_id AND wt.t_ms = per.m_ms
         |  GROUP BY 1),
         |based AS (SELECT wt.touch_type, wt.p_id, wt.t_id, wt.cents,
         |    (wt.cents * wt.w) // per.sw AS b
         |  FROM wt JOIN per ON wt.p_id = per.p_id),
         |bt AS (SELECT p_id, CAST(sum(b) AS BIGINT) AS base_total
         |  FROM based GROUP BY 1)
         |SELECT based.touch_type, count(*) AS n_touches,
         |  CAST(sum(based.b + CASE WHEN based.t_id = firstid.f_id
         |    THEN based.cents - bt.base_total ELSE 0 END) AS BIGINT)
         |    AS credit_cents
         |FROM based JOIN firstid ON based.p_id = firstid.p_id
         |JOIN bt ON based.p_id = bt.p_id
         |GROUP BY 1""".stripMargin,

    "q_attribution_position" ->
      s"""WITH $attrPairsCtes,
         |rk AS (SELECT p_id, cents, t_id, touch_type,
         |    row_number() OVER (PARTITION BY p_id ORDER BY t_ms, t_id)
         |      AS rk,
         |    count(*) OVER (PARTITION BY p_id) AS nt
         |  FROM pr),
         |c AS (SELECT touch_type, CASE WHEN nt = 1 THEN cents
         |    WHEN rk = 1 THEN CASE WHEN nt = 2
         |      THEN cents - (cents // 2) ELSE (cents * 2) // 5 END
         |    WHEN rk = nt THEN CASE WHEN nt = 2
         |      THEN cents // 2 ELSE (cents * 2) // 5 END
         |    ELSE (cents - 2 * ((cents * 2) // 5)) // (nt - 2) +
         |      CASE WHEN rk = 2
         |        THEN (cents - 2 * ((cents * 2) // 5)) % (nt - 2)
         |        ELSE 0 END
         |  END AS credit FROM rk)
         |SELECT touch_type, count(*) AS n_touches,
         |  CAST(sum(credit) AS BIGINT) AS credit_cents
         |FROM c GROUP BY 1""".stripMargin,

    "q_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
        |  WHERE event_type IN ('view', 'purchase')),
        |f AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ms END) AS first_view,
        |    min(CASE WHEN event_type = 'purchase' THEN ms END) AS first_purchase
        |  FROM e GROUP BY 1)
        |SELECT (first_purchase - first_view) // 3600000 AS lag_hours,
        |  count(*) AS n_users
        |FROM f
        |WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
        |  AND first_purchase >= first_view
        |GROUP BY 1""".stripMargin,

    "q_mergeable_quantiles" ->
      """WITH state AS (SELECT event_type,
        |    epoch_ms(ts) // 86400000 AS day,
        |    CAST(floor(value) AS BIGINT) // 5 AS bin, count(*) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |merged AS (SELECT event_type, bin, CAST(sum(c) AS BIGINT) AS c
        |  FROM state GROUP BY 1, 2),
        |cum AS (SELECT event_type, bin, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM merged)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
        |  CAST(min(CASE WHEN cum * 2 >= n THEN bin * 5 END) AS BIGINT)
        |    AS p50_value,
        |  CAST(min(CASE WHEN cum * 20 >= n * 19 THEN bin * 5 END)
        |    AS BIGINT) AS p95_value
        |FROM cum GROUP BY event_type""".stripMargin,

    "q_seasonal_anomaly" ->
      """WITH h0 AS (SELECT epoch_ms(ts) // 3600000 AS h, event_type,
        |    count(*) AS c FROM events GROUP BY 1, 2),
        |h2 AS (SELECT h, event_type, c, h % 24 AS hod FROM h0),
        |st AS (SELECT event_type, hod, count(*) AS n, sum(c) AS s,
        |    sum(c * c) AS q FROM h2 GROUP BY 1, 2)
        |SELECT h * 3600000 AS window_start_ms, h2.event_type, h2.hod, c
        |FROM h2 JOIN st ON st.event_type = h2.event_type
        |  AND st.hod = h2.hod
        |WHERE (c * n - s) * (c * n - s) > 4 * (n * q - s * s)"""
        .stripMargin,

    "q_capped_sessions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
        |  FROM events),
        |g AS (SELECT user_id, event_id, ms,
        |    CASE WHEN lag(ms) OVER w IS NULL
        |           OR ms - lag(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ms ASC, event_id ASC)),
        |gi AS (SELECT user_id, ms,
        |    sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ms ASC, event_id ASC
        |      ROWS UNBOUNDED PRECEDING) AS gap_id
        |  FROM g),
        |si AS (SELECT user_id, gap_id, ms,
        |    (ms - min(ms) OVER (PARTITION BY user_id, gap_id))
        |      // 900000 AS sub_id
        |  FROM gi)
        |SELECT user_id, CAST(gap_id AS BIGINT) AS gap_id,
        |  CAST(sub_id AS BIGINT) AS sub_id,
        |  min(ms) AS session_start_ms, max(ms) AS session_end_ms,
        |  count(*) AS n_events
        |FROM si GROUP BY 1, 2, 3""".stripMargin,

    "q_rate_anomaly" ->
      """WITH h AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
        |    event_type, count(*) AS c FROM events GROUP BY 1, 2),
        |st AS (SELECT event_type, count(*) AS n, sum(c) AS s,
        |    sum(c * c) AS q FROM h GROUP BY 1)
        |SELECT window_start_ms, h.event_type, c
        |FROM h JOIN st USING (event_type)
        |WHERE (c * n - s) * (c * n - s) > 4 * (n * q - s * s)""".stripMargin,

    "q_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(floor(value) AS BIGINT) AS v FROM events),
        |st AS (SELECT event_type, count(*) AS n, sum(v) AS s,
        |    sum(v * v) AS q FROM e GROUP BY 1)
        |SELECT event_id, e.event_type, v
        |FROM e JOIN st USING (event_type)
        |WHERE (v * n - s) * (v * n - s) > 4 * (n * q - s * s)""".stripMargin,

    "q_skew_keys" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |        count(*) AS n_keys FROM c),
        |r AS (SELECT user_id, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, user_id ASC) AS rank
        |  FROM c)
        |SELECT r.user_id, r.rank, r.cnt,
        |  r.cnt * 10000 // t.n_rows AS share_bp, t.n_keys, t.n_rows
        |FROM r, t WHERE r.rank <= 5""".stripMargin,

    "q_session_window" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
         |flagged AS (SELECT *,
         |  CASE WHEN lag(ms) OVER w IS NULL
         |         OR ms - lag(ms) OVER w >= $GAP_MS THEN 1 ELSE 0 END AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms ASC, event_id ASC)),
         |sessions AS (SELECT *,
         |  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM flagged)
         |SELECT user_id, min(ms) AS start_ms, max(ms) + $GAP_MS AS end_ms,
         |  count(*) AS n_events
         |FROM sessions GROUP BY user_id, session_idx""".stripMargin,

    "q_pii_scrub" ->
      """WITH m AS (SELECT event_type,
        |    len(regexp_extract_all(props, '[0-9]{2,}')) AS m,
        |    length(props) - length(regexp_replace(props, '[0-9]{2,}',
        |      '', 'g')) AS chars
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hit_rows,
        |  CAST(sum(m) AS BIGINT) AS n_matches,
        |  CAST(sum(chars) AS BIGINT) AS chars_redacted
        |FROM m GROUP BY 1""".stripMargin,

    "q_stickiness" ->
      """WITH d AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day,
        |    (epoch_ms(ts) // 86400000) // 7 AS week
        |  FROM events),
        |dau AS (SELECT day, week, count(DISTINCT user_id) AS dau
        |  FROM d GROUP BY 1, 2),
        |wau AS (SELECT week, count(DISTINCT user_id) AS wau
        |  FROM d GROUP BY 1)
        |SELECT day, dau.week, dau, wau,
        |  CAST(dau * 10000 // wau AS BIGINT) AS stickiness_bp
        |FROM dau JOIN wau ON dau.week = wau.week""".stripMargin,

    "q_burstiness" ->
      """WITH g AS (SELECT user_id,
        |    (epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (
        |      PARTITION BY user_id
        |      ORDER BY epoch_ms(ts) ASC, event_id ASC)) // 1000 AS gap_s
        |  FROM events),
        |s AS (SELECT user_id, count(*) AS n,
        |    sum(gap_s) AS sg, sum(gap_s * gap_s) AS sgg
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY 1
        |  HAVING count(*) >= 2)
        |SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
        |  CAST(sg // n AS BIGINT) AS mean_gap_s,
        |  CASE WHEN sg = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(((n * sgg - sg * sg) * 1000000) // (sg * sg)
        |      AS BIGINT) END AS cv2_ppm
        |FROM s""".stripMargin,

    "q_bounce_rate" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms
         |  FROM events),
         |flagged AS (SELECT *,
         |  CASE WHEN lag(ms) OVER w IS NULL
         |         OR ms - lag(ms) OVER w > $GAP_MS THEN 1 ELSE 0 END
         |    AS new_sess
         |  FROM e WINDOW w AS (PARTITION BY user_id
         |    ORDER BY ms ASC, event_id ASC)),
         |sessions AS (SELECT *,
         |  sum(new_sess) OVER (PARTITION BY user_id
         |    ORDER BY ms ASC, event_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS session_idx
         |  FROM flagged),
         |sess AS (SELECT user_id, session_idx, count(*) AS n_events,
         |    min(ms) AS start_ms
         |  FROM sessions GROUP BY 1, 2),
         |d AS (SELECT start_ms // 86400000 AS day,
         |    CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS b
         |  FROM sess)
         |SELECT day, count(*) AS n_sessions,
         |  CAST(sum(b) AS BIGINT) AS n_bounces,
         |  CAST(sum(b) * 10000 // count(*) AS BIGINT) AS bounce_bp
         |FROM d GROUP BY 1""".stripMargin,

    "q_rfm_segments" ->
      """WITH fr AS (SELECT max(epoch_ms(ts)) AS now_ms FROM events),
        |pu AS (SELECT user_id, max(epoch_ms(ts)) AS last_ms,
        |    count(*) AS freq,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
        |      ELSE 0 END) AS BIGINT) AS cents
        |  FROM events GROUP BY 1),
        |sc AS (SELECT
        |    5 - least(4, (now_ms - last_ms) // 86400000)
        |      AS r_score,
        |    least(5, 1 + freq // 20) AS f_score,
        |    least(5, 1 + cents // 40000) AS m_score,
        |    cents
        |  FROM pu, fr)
        |SELECT r_score, f_score, m_score, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS segment_cents
        |FROM sc GROUP BY 1, 2, 3""".stripMargin,

    "q_markov_stationary" -> {
      val rounds = (1 to MARKOV_ITERS).map { i =>
        s"""p$i AS (SELECT tx.next_type AS t,
           |    CAST(sum((p.pi_ppm * tx.n_trans) // tx.n_from)
           |      AS BIGINT) AS pi_ppm
           |  FROM tx JOIN p${i - 1} p ON p.t = tx.prev_type
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(ts) AS ms FROM events),
         |tr AS (SELECT event_type AS next_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ms ASC, event_id ASC) AS prev_type
         |  FROM e),
         |t2 AS (SELECT prev_type, next_type FROM tr
         |  WHERE prev_type IS NOT NULL),
         |tot AS (SELECT prev_type, count(*) AS n_from FROM t2
         |  GROUP BY 1),
         |txc AS (SELECT prev_type, next_type, count(*) AS n_trans
         |  FROM t2 GROUP BY 1, 2),
         |tx AS (SELECT txc.prev_type, txc.next_type, txc.n_trans,
         |    tot.n_from
         |  FROM txc JOIN tot USING (prev_type)),
         |st AS (SELECT DISTINCT t FROM (
         |  SELECT prev_type AS t FROM tx
         |  UNION ALL SELECT next_type FROM tx)),
         |ns AS (SELECT count(*) AS n FROM st),
         |p0 AS (SELECT t, CAST(1000000 // n AS BIGINT) AS pi_ppm
         |  FROM st, ns),
         |$rounds
         |SELECT t AS event_type, pi_ppm
         |FROM p$MARKOV_ITERS""".stripMargin
    },

    "q_asof_nearest" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms
        |  FROM events),
        |o AS (SELECT o_custkey, o_orderkey,
        |    epoch_ms(o_orderdate) AS oms FROM orders),
        |j AS (SELECT e.event_id, e.user_id, e.ms, o.o_orderkey, o.oms,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(o.oms - e.ms) ASC,
        |        CASE WHEN o.oms <= e.ms THEN 0 ELSE 1 END ASC,
        |        CASE WHEN o.oms <= e.ms THEN -o.o_orderkey
        |          ELSE o.o_orderkey END ASC) AS rn
        |  FROM e JOIN o ON e.user_id = o.o_custkey)
        |SELECT event_id, user_id, ms, o_orderkey, oms AS o_ms,
        |  CASE WHEN oms <= ms THEN 'b' ELSE 'f' END AS direction
        |FROM j WHERE rn = 1""".stripMargin,

    "q_session_funnel" ->
      s"""WITH e0 AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(ts) AS ms FROM events),
         |flagged AS (SELECT *,
         |  CASE WHEN lag(ms) OVER w IS NULL
         |         OR ms - lag(ms) OVER w > $GAP_MS THEN 1 ELSE 0 END
         |    AS new_sess
         |  FROM e0 WINDOW w AS (PARTITION BY user_id
         |    ORDER BY ms ASC, event_id ASC)),
         |e AS (SELECT user_id * 1000000 +
         |    sum(new_sess) OVER (PARTITION BY user_id
         |      ORDER BY ms ASC, event_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS sk,
         |    event_type, ms
         |  FROM flagged),
         |t1 AS (SELECT sk, min(ms) AS t1 FROM e
         |       WHERE event_type = 'view' GROUP BY sk),
         |t2 AS (SELECT e.sk, min(e.ms) AS t2 FROM e
         |       JOIN t1 ON e.sk = t1.sk
         |       WHERE e.event_type = 'click' AND e.ms >= t1.t1
         |       GROUP BY e.sk),
         |t3 AS (SELECT e.sk, min(e.ms) AS t3 FROM e
         |       JOIN t2 ON e.sk = t2.sk
         |       WHERE e.event_type = 'purchase' AND e.ms >= t2.t2
         |       GROUP BY e.sk)
         |SELECT 1 AS step, 'view' AS step_name,
         |       (SELECT count(*) FROM t1) AS n_sessions
         |UNION ALL SELECT 2, 'click', (SELECT count(*) FROM t2)
         |UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM t3)"""
        .stripMargin,

    "q_overdue_users" ->
      """WITH fr AS (SELECT max(epoch_ms(ts)) AS now_ms FROM events),
        |g AS (SELECT user_id, epoch_ms(ts) AS ms,
        |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_ms(ts) ASC, event_id ASC) AS prev_ms
        |  FROM events),
        |pu AS (SELECT user_id, max(ms) AS last_ms,
        |    count(CASE WHEN prev_ms IS NOT NULL THEN 1 END) AS n_gaps,
        |    sum(CASE WHEN prev_ms IS NOT NULL THEN ms - prev_ms END)
        |      AS sum_gap_ms
        |  FROM g GROUP BY 1 HAVING n_gaps >= 2)
        |SELECT user_id,
        |  CAST((now_ms - last_ms) // 1000 AS BIGINT) AS silent_s,
        |  CAST((sum_gap_ms // n_gaps) // 1000 AS BIGINT)
        |    AS typical_gap_s,
        |  CASE WHEN sum_gap_ms // n_gaps = 0 THEN CAST(NULL AS BIGINT)
        |    ELSE CAST(((now_ms - last_ms) * 1000000)
        |      // (sum_gap_ms // n_gaps) AS BIGINT)
        |  END AS overdue_ppm,
        |  coalesce(CASE WHEN sum_gap_ms // n_gaps = 0 THEN NULL
        |    ELSE ((now_ms - last_ms) * 1000000)
        |      // (sum_gap_ms // n_gaps) > 3000000 END, false) AS at_risk
        |FROM pu, fr""".stripMargin,

    "q_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        |cm AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    count(*) AS n_common
        |  FROM tu a JOIN tu b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_common, sa.n AS n_a, sb.n AS n_b,
        |  CAST(n_common * 10000 // (sa.n + sb.n - n_common) AS BIGINT)
        |    AS jaccard_bp
        |FROM cm JOIN sz sa ON sa.event_type = cm.type_a
        |JOIN sz sb ON sb.event_type = cm.type_b""".stripMargin,

    "q_dow_hour_profile" ->
      """WITH dh AS (SELECT
        |    (epoch_ms(ts) // 86400000 + 4) % 7 AS dow,
        |    (epoch_ms(ts) // 3600000) % 24 AS hour,
        |    user_id FROM events)
        |SELECT dow, hour, count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users
        |FROM dh GROUP BY 1, 2""".stripMargin,

    "q_session_lift" ->
      s"""WITH sle AS (SELECT user_id, event_id, event_type,
         |    epoch_ms(ts) AS ms FROM events),
         |slf AS (SELECT *,
         |  CASE WHEN lag(ms) OVER w IS NULL
         |         OR ms - lag(ms) OVER w > $GAP_MS THEN 1 ELSE 0 END
         |    AS new_sess
         |  FROM sle WINDOW w AS (PARTITION BY user_id
         |    ORDER BY ms ASC, event_id ASC)),
         |sls AS (SELECT DISTINCT
         |    user_id * 1000000 + CAST(sum(new_sess) OVER (
         |      PARTITION BY user_id ORDER BY ms ASC, event_id ASC
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess,
         |    event_type
         |  FROM slf),
         |slt AS (SELECT count(DISTINCT sess) AS n_sessions FROM sls),
         |slp AS (SELECT event_type, count(*) AS n FROM sls GROUP BY 1),
         |slb AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    count(*) AS n_both
         |  FROM sls a JOIN sls b ON a.sess = b.sess
         |    AND a.event_type < b.event_type
         |  GROUP BY 1, 2)
         |SELECT type_a, type_b, n_both, pa.n AS n_a, pb.n AS n_b,
         |  n_sessions,
         |  CAST(CAST(n_both AS HUGEINT) * n_sessions * 10000
         |    // (CAST(pa.n AS HUGEINT) * pb.n) AS BIGINT) AS lift_bp
         |FROM slb JOIN slp pa ON pa.event_type = slb.type_a
         |JOIN slp pb ON pb.event_type = slb.type_b
         |CROSS JOIN slt""".stripMargin,

    "q_seasonal_naive_error" ->
      """WITH snh AS (SELECT event_type,
        |    epoch_ms(ts) // 3600000 AS hour_idx, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, count(*) AS n_hours_scored,
        |  CAST(sum(abs(a.c - p.c)) AS BIGINT) AS abs_err,
        |  CAST(sum(a.c) AS BIGINT) AS actual,
        |  CAST(sum(abs(a.c - p.c)) * 10000 // sum(a.c) AS BIGINT)
        |    AS wape_bp
        |FROM snh a JOIN snh p
        |  ON p.event_type = a.event_type
        |  AND p.hour_idx + 168 = a.hour_idx
        |GROUP BY 1""".stripMargin,

    "q_new_vs_returning" ->
      """WITH nre AS (SELECT DISTINCT user_id,
        |    epoch_ms(ts) // 86400000 AS day FROM events),
        |nrf AS (SELECT user_id, min(day) AS first_day
        |  FROM nre GROUP BY 1),
        |nrd AS (SELECT day, count(*) AS n_active,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new
        |  FROM nre JOIN nrf USING (user_id) GROUP BY 1)
        |SELECT day, n_active, n_new,
        |  CAST(n_active - n_new AS BIGINT) AS n_returning,
        |  CAST(n_new * 10000 // n_active AS BIGINT) AS new_share_bp
        |FROM nrd""".stripMargin,

    "q_cuped_theta" ->
      s"""WITH cpu AS (SELECT user_id,
         |    CAST(sum(CASE WHEN epoch_ms(ts) < $DIFF_T1_MS
         |      THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN epoch_ms(ts) >= $DIFF_T1_MS
         |      THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1)
         |SELECT count(*) AS n_users,
         |  CAST(sum(x) AS BIGINT) AS sx,
         |  CAST(sum(y) AS BIGINT) AS sy,
         |  TRY_CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
         |  TRY_CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
         |  TRY_CAST(sum(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy
         |FROM cpu""".stripMargin,

    "q_ab_conversion" ->
      s"""WITH abu AS (SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted
         |  FROM events GROUP BY 1),
         |aba AS (SELECT
         |    ${graft.operators.Dedup.hash32Sql(97, "CAST(user_id AS VARCHAR)")} % 2 AS arm,
         |    converted FROM abu),
         |abp AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_b
         |  FROM aba),
         |abr AS (SELECT *,
         |    CASE WHEN n_a = 0 THEN NULL
         |      ELSE CAST(conv_a * 10000 // n_a AS BIGINT) END
         |      AS rate_a_bp,
         |    CASE WHEN n_b = 0 THEN NULL
         |      ELSE CAST(conv_b * 10000 // n_b AS BIGINT) END
         |      AS rate_b_bp,
         |    CASE WHEN n_a + n_b = 0 THEN NULL
         |      ELSE CAST((conv_a + conv_b) * 10000 // (n_a + n_b)
         |        AS BIGINT) END AS pooled_bp
         |  FROM abp)
         |SELECT n_a, conv_a, n_b, conv_b, rate_a_bp, rate_b_bp,
         |  pooled_bp,
         |  CASE WHEN n_a = 0 OR n_b = 0
         |    OR pooled_bp = 0 OR pooled_bp = 10000 THEN NULL
         |  ELSE CAST(
         |    CAST((rate_a_bp - rate_b_bp) AS HUGEINT)
         |      * (rate_a_bp - rate_b_bp) * n_a * n_b * 1000
         |    // (CAST(pooled_bp AS HUGEINT)
         |      * (10000 - pooled_bp) * (n_a + n_b)) AS BIGINT)
         |  END AS z2_milli
         |FROM abr""".stripMargin,

    "q_markov_accuracy" ->
      """WITH mae AS (SELECT user_id, event_id, event_type,
        |    epoch_ms(ts) AS ms FROM events),
        |mal AS (SELECT event_type, lead(event_type) OVER (
        |    PARTITION BY user_id ORDER BY ms ASC, event_id ASC)
        |    AS next_type FROM mae),
        |map2 AS (SELECT event_type, next_type FROM mal
        |  WHERE next_type IS NOT NULL),
        |mac AS (SELECT event_type, next_type, count(*) AS c
        |  FROM map2 GROUP BY 1, 2),
        |mam AS (SELECT event_type, next_type AS predicted_next FROM (
        |  SELECT event_type, next_type, row_number() OVER (
        |    PARTITION BY event_type ORDER BY c DESC, next_type ASC)
        |    AS rn FROM mac) WHERE rn = 1)
        |SELECT p.event_type, m.predicted_next,
        |  count(*) AS n_transitions,
        |  CAST(sum(CASE WHEN p.next_type = m.predicted_next
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |  CAST(sum(CASE WHEN p.next_type = m.predicted_next
        |    THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS acc_bp
        |FROM map2 p JOIN mam m USING (event_type)
        |GROUP BY 1, 2""".stripMargin,

    "q_mergeable_moments" ->
      """WITH mm AS (SELECT event_type,
        |    count(DISTINCT epoch_ms(ts) // 86400000) AS n_days,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sum_c,
        |    sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)
        |      * CAST(floor(value * 100 + 0.5) AS BIGINT)) AS s2
        |  FROM events GROUP BY 1)
        |SELECT event_type, n_days, n_events, sum_c,
        |  CAST(sum_c // n_events AS BIGINT) AS mean_c,
        |  CAST((CAST(n_events AS HUGEINT) * s2
        |      - CAST(sum_c AS HUGEINT) * sum_c)
        |    // (CAST(n_events AS HUGEINT) * n_events) AS BIGINT)
        |    AS var_cc
        |FROM mm""".stripMargin
  )
}
