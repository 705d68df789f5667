package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, FeedFetcher, Layout, NeoFixture, NeoSchema}

/** Oracle-gated queries over the NEO medallion itself — the literal
  * subject of the reference (reference: src/etl/bronze_ingest.py,
  * bronze_to_silver.py, silver_to_gold.py end-to-end).
  *
  * Everything else in the suite gates the medallion's OPERATORS on the
  * TPC-H-ish tables; these queries gate the medallion's own pipeline:
  * a fixture [[FeedFetcher]] (S1) feeds the byte-preserving bronze
  * ingest (S2), the silver flatten reads that bronze JSON multiline
  * with the explicit map schema (S3, P1–P5, F1/F4/F5/F11), and the
  * gold builders derive the star + merge on top (S6, P7, F6–F10). The
  * DuckDB twin reads the SAME bronze JSON files via `read_json` with a
  * mirrored MAP(VARCHAR, STRUCT…[]) column spec and re-derives every
  * stage in SQL — so each §2 row of SURVEY.md that previously rode a
  * spec pin now has a rows+schema+hash-gated CORRECTNESS entry.
  *
  * The bronze path must be the SAME textual value on both sides: the
  * Spark queries read it and the oracle SQL embeds it (Verify dumps
  * the SQL in the same JVM, so both interpolate one runtime constant).
  * It derives from user.dir via [[graft.StageDirs]] — git-ignored
  * `target/`, any checkout — instead of a hard-coded absolute path.
  *
  * Scale: the fixture is deliberately tiny (the reference's real feed
  * is O(10²) NEOs/day) — these queries gate SEMANTICS; the pipeline
  * stages they invoke are the same shuffle-free flatten / broadcast
  * star documented in BronzeToSilver/SilverToGold for the 100 TB
  * posture.
  */
object NeoQueries {

  /** Bronze base for the oracle twin — one runtime constant shared by
    * the Spark readers and the embedded DuckDB SQL (see Scaladoc
    * above). The shared artifacts live under
    * `target/graft_stage/neo_oracle`; the per-call partitioned write of
    * q_neo_partition_prune goes to a [[graft.CacheRegistry.scratch]]
    * slot.
    */
  private val BASE = graft.StageDirs.stable("neo_oracle")

  private[graft] val layout = Layout(BASE)

  /** The injectable feed source (S1): deterministic fixture documents
    * keyed by request date, exactly how the unit tests stub the HTTP
    * fetcher (the sandbox has zero egress).
    */
  private val fixtureFetcher: FeedFetcher = new FeedFetcher {
    def fetch(startDate: String, endDate: String): String =
      startDate match {
        case NeoFixture.day1Date => NeoFixture.day1
        case NeoFixture.day2Date => NeoFixture.day2
        case other => throw new IllegalArgumentException(
          s"fixture has no feed for $other")
      }
  }

  /** Idempotently (re)write the two bronze documents through the real
    * ingest path — fetch → byte-preserving raw write
    * (reference: src/etl/bronze_ingest.py:18-37).
    */
  private[graft] def materializeBronze(s: SparkSession): Unit = synchronized {
    BronzeIngest.ingest(s, layout, NeoFixture.day1Date, fixtureFetcher)
    BronzeIngest.ingest(s, layout, NeoFixture.day2Date, fixtureFetcher)
  }

  private def bronzeJsonDir = s"$BASE/bronze/JSON"

  /** Both days' silver: multiline JSON scan with the explicit
    * MapType schema, one generic map-explode for ALL feed dates
    * (reference: bronze_to_silver.py:34-153; design fix SURVEY §7.1).
    */
  private def silver(s: SparkSession): DataFrame = {
    materializeBronze(s)
    BronzeToSilver.flatten(
      s.read.schema(NeoSchema.feed).option("multiLine", "true")
        .json(bronzeJsonDir))
  }

  private def silverDay(s: SparkSession, date: String): DataFrame =
    silver(s).filter(col("approach_date") === date)

  // ── multi-day out-of-order backfill (q_neo_backfill) ─────────────────

  /** Separate stage base so the five-day backfill never perturbs the
    * two-day medallion the other q_neo_* gates hash.
    */
  private val BACKFILL_BASE = graft.StageDirs.stable("neo_backfill")
  private val backfillLayout = Layout(BACKFILL_BASE)
  private def backfillBronzeDir = s"$BACKFILL_BASE/bronze/JSON"

  private val backfillFetcher: FeedFetcher = new FeedFetcher {
    def fetch(startDate: String, endDate: String): String =
      NeoFixture.backfillDays.getOrElse(startDate,
        throw new IllegalArgumentException(
          s"fixture has no feed for $startDate"))
  }

  /** One day's dim-asteroid INCREMENT: that day's bronze document alone
    * through the same flatten, surviving per the same window, with the
    * recency columns retained so a later out-of-order merge can re-run
    * the survivor ordering against the stored winner.
    */
  private def dimIncrement(s: SparkSession, date: String): DataFrame =
    graft.etl.SilverToGold.dimAsteroidAsOf(
      BronzeToSilver.flatten(
        s.read.schema(NeoSchema.feed).option("multiLine", "true")
          .json(backfillLayout.bronzeFile(date))))

  // ────────────────────────────────────────────────────────────────────
  // Queries
  // ────────────────────────────────────────────────────────────────────

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── S1+S2: fetch → raw byte-preserving bronze write, gated by
    // content hash. Spark reads each persisted document wholetext and
    // hashes it; the oracle sha256s the same files via read_text. A
    // re-serializing writer (df.write.json) could not pass this gate —
    // key order, whitespace, and number formatting all hash.
    "q_neo_bronze_raw" -> { (s, _) =>
      materializeBronze(s)
      s.read.option("wholetext", "true").text(bronzeJsonDir)
        .select(
          regexp_extract(input_file_name(), "([^/]+)$", 1).as("file"),
          sha2(col("value"), 256).as("content_sha256"),
          length(col("value")).as("n_chars"))
    },

    // ── S3+P1–P5, F1/F4/F5/F11: the full silver flatten over BOTH
    // feed documents — map-of-dates explode, array-of-structs explode
    // (empty array ⇒ NEO contributes zero rows), nested projection to
    // the 27-column wide table, placeholder→null normalization, and
    // the try_cast int/double conversions, hash-gated column by column.
    "q_neo_silver" -> { (s, _) => silver(s) },

    // ── P3 fidelity path: the reference's schema-INFERENCE read with
    // the request date string-interpolated into the field path
    // (bronze_to_silver.py:41-43) — day 1 only, must produce byte-same
    // silver as the map-schema path restricted to that day.
    "q_neo_silver_inferred" -> { (s, _) =>
      materializeBronze(s)
      val feed = s.read.option("multiLine", "true")
        .json(layout.bronzeFile(NeoFixture.day1Date))
      BronzeToSilver.flattenInferredDay(feed, NeoFixture.day1Date)
    },

    // ── A4+P7: gold dim_asteroid over both days — keyed dedup with the
    // DETERMINISTIC survivor (latest approach_date first), the §7.1 fix
    // over the reference's arbitrary dropDuplicates("id")
    // (silver_to_gold.py:87-122).
    "q_neo_dim_asteroid" -> { (s, _) =>
      SilverToGold.dimAsteroid(silver(s))
    },

    // ── F6–F8+F10: gold dim_approach_date — the locale-pinned
    // `yyyy-MMM-dd HH:mm` month-name parse runs UNDER the hash gate
    // (DuckDB strptime '%Y-%b-%d %H:%M'), plus year/…/weekofyear
    // derivations (silver_to_gold.py:51-70). Timestamp and date are
    // projected to strings for the cross-engine compare; the values
    // still pin the parse exactly.
    "q_neo_dim_date" -> { (s, _) =>
      SilverToGold.dimApproachDate(silver(s))
        .select(col("sk_approach_date"), col("approach_date_full"),
          date_format(col("parsed_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("parsed_ts"),
          col("approach_date").cast("string").as("approach_date"),
          col("year"), col("month"), col("day"),
          col("hour"), col("minute"), col("week_of_year"))
    },

    // ── F9: gold dim_orbiting_body — dropna + distinct + sha2 SK over
    // the NORMALIZED body ("  Earth  " trims in, "Null" nulls out)
    // (silver_to_gold.py:75-83).
    "q_neo_dim_body" -> { (s, _) =>
      SilverToGold.dimOrbitingBody(silver(s))
    },

    // ── F9+F10 quirks, fact build: pure projection, SKs recomputed
    // independently of the dims (silver_to_gold.py:127-148). The two
    // preserved reference quirks are IN the hash: null orbiting_body ⇒
    // null sk_orbiting_body (sha2(null)=null), but null
    // approach_date_full ⇒ sk = sha2('') because concat_ws SKIPS nulls
    // — a non-null dangling SK.
    "q_neo_gold_fact" -> { (s, _) =>
      SilverToGold.factApproach(silver(s))
    },

    // ── S6: the gold merge-upsert — day-1 dim_asteroid as the existing
    // table, day-2 as incoming, incoming-wins on the id key
    // (bucket.py:63-89 semantics with the deterministic-survivor fix).
    // Apophis is re-observed on day 2 and must surface day-2 values.
    "q_neo_gold_merge" -> { (s, _) =>
      MergeUpsert.merge(
        existing = SilverToGold.dimAsteroid(
          silverDay(s, NeoFixture.day1Date)),
        incoming = SilverToGold.dimAsteroid(
          silverDay(s, NeoFixture.day2Date)),
        keys = Seq("id"))
    },

    // ── S5+S4: partitioned parquet write + partition-pruned read-back.
    // Writes silver partitioned by approach_date, reads it back
    // filtered to day 2 — the filter must prune to one partition
    // directory (DppSpec pins the plan shape; this pins the DATA).
    "q_neo_partition_prune" -> { (s, _) =>
      val dir = graft.CacheRegistry.scratch("neo_silver_pq")
      silver(s).write.partitionBy("approach_date").parquet(dir)
      s.read.parquet(dir)
        .filter(col("approach_date") === NeoFixture.day2Date)
        .select(col("approach_date").cast("string").as("approach_date"),
          col("id"), col("name"), col("velocity_km_s"),
          col("miss_km"), col("orbiting_body"))
    },

    // ── S6 at backfill realism: FIVE daily feeds arriving OUT OF ORDER
    // (3, 1, 5, 2, 4) plus a replayed day 3, each applied as a
    // crash-safe saveOrUpdate increment with the survivor-ordering
    // tiebreak (latest approach_date wins, not latest ARRIVAL — the fix
    // that makes the fold arrival-order-free). The gate: the merged
    // on-disk gold equals the batch rebuild over all five days, which
    // the oracle re-derives from the same five bronze documents in one
    // window. Re-runs of the gate re-fold into the existing table and
    // must CONVERGE — idempotent replay is part of what the hash pins.
    "q_neo_backfill" -> { (s, _) =>
      NeoFixture.backfillDays.keys.toSeq.sorted.foreach(d =>
        BronzeIngest.ingest(s, backfillLayout, d, backfillFetcher))
      val table = backfillLayout.gold("dim_asteroid_backfill")
      val arrivals = Seq(
        NeoFixture.day3Date, NeoFixture.day1Date, NeoFixture.day5Date,
        NeoFixture.day2Date, NeoFixture.day4Date,
        NeoFixture.day3Date) // late replay of an already-applied day
      arrivals.foreach { d =>
        MergeUpsert.saveOrUpdate(s, dimIncrement(s, d), table,
          keys = Seq("id"),
          tiebreak = Seq(col("approach_date").desc,
            col("approach_date_full").asc_nulls_last))
      }
      s.read.parquet(table)
        .select(col("sk_asteroid"), col("id"), col("neo_reference_id"),
          col("name"), col("absolute_magnitude_h"),
          col("diam_min_km"), col("diam_max_km"),
          col("diam_min_m"), col("diam_max_m"),
          col("diam_min_mi"), col("diam_max_mi"),
          col("diam_min_feet"), col("diam_max_feet"),
          col("is_hazardous"), col("is_sentry"),
          col("nasa_jpl_url"), col("link_self"),
          col("approach_date").cast("string").as("as_of_date"))
    },

    // ── S7+§2.4: SQL serving over the gold star — register the gold
    // tables as temp views and run plain spark.sql consumption: fact ⋈
    // dims on the sha2 SKs (reference: src/streamlit_app.py:35-53).
    // The two SK quirks act here: the null sk_orbiting_body row and
    // the dangling sha2('') date SK both drop on the inner joins.
    "q_neo_star_serving" -> { (s, _) =>
      val sv = silver(s)
      SilverToGold.factApproach(sv).createOrReplaceTempView("neo_fact")
      SilverToGold.dimOrbitingBody(sv)
        .createOrReplaceTempView("neo_dim_body")
      SilverToGold.dimApproachDate(sv)
        .createOrReplaceTempView("neo_dim_date")
      s.sql("""
        SELECT b.orbiting_body,
               count(*) AS n_approaches,
               count(DISTINCT f.sk_asteroid) AS n_asteroids,
               min(f.miss_km) AS min_miss_km,
               max(f.velocity_km_s) AS max_velocity_km_s
        FROM neo_fact f
        JOIN neo_dim_body b ON f.sk_orbiting_body = b.sk_orbiting_body
        JOIN neo_dim_date d ON f.sk_approach_date = d.sk_approach_date
        GROUP BY b.orbiting_body""")
    }
  )

  // ────────────────────────────────────────────────────────────────────
  // DuckDB oracle twins
  // ────────────────────────────────────────────────────────────────────

  /** The NEO struct type for read_json — field-for-field mirror of
    * [[NeoSchema.neo]].
    */
  private val NEO_TYPE =
    """STRUCT(
      |  id VARCHAR, neo_reference_id VARCHAR, name VARCHAR,
      |  absolute_magnitude_h DOUBLE,
      |  is_potentially_hazardous_asteroid BOOLEAN,
      |  is_sentry_object BOOLEAN,
      |  nasa_jpl_url VARCHAR,
      |  links STRUCT(self VARCHAR),
      |  estimated_diameter STRUCT(
      |    kilometers STRUCT(estimated_diameter_min DOUBLE,
      |                      estimated_diameter_max DOUBLE),
      |    meters STRUCT(estimated_diameter_min DOUBLE,
      |                  estimated_diameter_max DOUBLE),
      |    miles STRUCT(estimated_diameter_min DOUBLE,
      |                 estimated_diameter_max DOUBLE),
      |    feet STRUCT(estimated_diameter_min DOUBLE,
      |                estimated_diameter_max DOUBLE)),
      |  close_approach_data STRUCT(
      |    close_approach_date VARCHAR,
      |    close_approach_date_full VARCHAR,
      |    epoch_date_close_approach BIGINT,
      |    relative_velocity STRUCT(kilometers_per_second VARCHAR,
      |      kilometers_per_hour VARCHAR, miles_per_hour VARCHAR),
      |    miss_distance STRUCT(astronomical VARCHAR, lunar VARCHAR,
      |      kilometers VARCHAR, miles VARCHAR),
      |    orbiting_body VARCHAR)[])""".stripMargin

  /** Placeholder→null normalization — [[graft.functions.Normalize]]
    * semantics in SQL (trim first, then the three placeholders).
    */
  private def norm(c: String) =
    s"CASE WHEN trim($c) IN ('NULL','Null','') THEN NULL " +
      s"ELSE trim($c) END"
  private def normd(c: String) = s"TRY_CAST(${norm(c)} AS DOUBLE)"

  /** Shared CTE chain: bronze JSON → per-day → per-NEO → per-approach →
    * the 27-column silver (plus the feed_date helper for day slicing).
    * Parameterized by the bronze directory so the two-day medallion and
    * the five-day backfill each get their own twin.
    */
  private def silverCtesFor(dir: String) =
    s"""nfeed AS (
       |  SELECT * FROM read_json('$dir/*.json',
       |    columns = {element_count: 'BIGINT',
       |               near_earth_objects: 'MAP(VARCHAR, $NEO_TYPE[])'},
       |    format = 'unstructured')),
       |nday AS (SELECT unnest(map_entries(near_earth_objects)) AS e
       |  FROM nfeed),
       |nneo AS (SELECT e.key AS feed_date, unnest(e.value) AS neo
       |  FROM nday),
       |napp AS (SELECT feed_date, neo,
       |    unnest(neo.close_approach_data) AS approach
       |  FROM nneo),
       |nsilver AS (SELECT feed_date,
       |  TRY_CAST(neo.id AS INTEGER) AS id,
       |  TRY_CAST(neo.neo_reference_id AS INTEGER) AS neo_reference_id,
       |  ${norm("neo.name")} AS name,
       |  neo.absolute_magnitude_h AS absolute_magnitude_h,
       |  neo.is_potentially_hazardous_asteroid AS is_hazardous,
       |  neo.is_sentry_object AS is_sentry,
       |  ${norm("neo.nasa_jpl_url")} AS nasa_jpl_url,
       |  ${norm("neo.links.self")} AS link_self,
       |  neo.estimated_diameter.kilometers.estimated_diameter_min
       |    AS diam_min_km,
       |  neo.estimated_diameter.kilometers.estimated_diameter_max
       |    AS diam_max_km,
       |  neo.estimated_diameter.meters.estimated_diameter_min
       |    AS diam_min_m,
       |  neo.estimated_diameter.meters.estimated_diameter_max
       |    AS diam_max_m,
       |  neo.estimated_diameter.miles.estimated_diameter_min
       |    AS diam_min_mi,
       |  neo.estimated_diameter.miles.estimated_diameter_max
       |    AS diam_max_mi,
       |  neo.estimated_diameter.feet.estimated_diameter_min
       |    AS diam_min_feet,
       |  neo.estimated_diameter.feet.estimated_diameter_max
       |    AS diam_max_feet,
       |  ${norm("approach.close_approach_date")} AS approach_date,
       |  ${norm("approach.close_approach_date_full")}
       |    AS approach_date_full,
       |  TRY_CAST(approach.epoch_date_close_approach AS DOUBLE)
       |    AS approach_epoch,
       |  ${normd("approach.relative_velocity.kilometers_per_second")}
       |    AS velocity_km_s,
       |  ${normd("approach.relative_velocity.kilometers_per_hour")}
       |    AS velocity_km_h,
       |  ${normd("approach.relative_velocity.miles_per_hour")}
       |    AS velocity_mi_h,
       |  ${normd("approach.miss_distance.astronomical")} AS miss_au,
       |  ${normd("approach.miss_distance.lunar")} AS miss_lunar,
       |  ${normd("approach.miss_distance.kilometers")} AS miss_km,
       |  ${normd("approach.miss_distance.miles")} AS miss_mi,
       |  ${norm("approach.orbiting_body")} AS orbiting_body
       |FROM napp)""".stripMargin

  private val silverCtes = silverCtesFor(bronzeJsonDir)

  /** The silver column list (27 — everything but the feed_date helper). */
  private val SILVER_COLS = Seq(
    "id", "neo_reference_id", "name", "absolute_magnitude_h",
    "is_hazardous", "is_sentry", "nasa_jpl_url", "link_self",
    "diam_min_km", "diam_max_km", "diam_min_m", "diam_max_m",
    "diam_min_mi", "diam_max_mi", "diam_min_feet", "diam_max_feet",
    "approach_date", "approach_date_full", "approach_epoch",
    "velocity_km_s", "velocity_km_h", "velocity_mi_h",
    "miss_au", "miss_lunar", "miss_km", "miss_mi", "orbiting_body"
  ).mkString(", ")

  /** dim_asteroid SQL over a silver relation (deterministic survivor —
    * mirrors [[SilverToGold.dimAsteroid]]'s window exactly).
    */
  private def dimAsteroidSql(src: String) =
    s"""SELECT sha256(CAST(id AS VARCHAR)) AS sk_asteroid,
       |  id, neo_reference_id, name, absolute_magnitude_h,
       |  diam_min_km, diam_max_km, diam_min_m, diam_max_m,
       |  diam_min_mi, diam_max_mi, diam_min_feet, diam_max_feet,
       |  is_hazardous, is_sentry, nasa_jpl_url, link_self
       |FROM (SELECT *, row_number() OVER (PARTITION BY id
       |    ORDER BY approach_date DESC NULLS LAST,
       |      approach_date_full ASC NULLS LAST) AS rn
       |  FROM $src) WHERE rn = 1""".stripMargin

  val oracle: Map[String, String] = Map(

    "q_neo_bronze_raw" ->
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS file,
         |  sha256(content) AS content_sha256,
         |  length(content) AS n_chars
         |FROM read_text('$bronzeJsonDir/*.json')""".stripMargin,

    "q_neo_silver" ->
      s"""WITH $silverCtes
         |SELECT $SILVER_COLS FROM nsilver""".stripMargin,

    "q_neo_silver_inferred" ->
      s"""WITH $silverCtes
         |SELECT $SILVER_COLS FROM nsilver
         |WHERE feed_date = '${NeoFixture.day1Date}'""".stripMargin,

    "q_neo_dim_asteroid" ->
      s"WITH $silverCtes\n${dimAsteroidSql("nsilver")}",

    // The batch rebuild over ALL FIVE backfill documents — one survivor
    // window, same ordering the incremental fold re-runs per merge. The
    // silver CTEs point at the backfill's own bronze directory.
    "q_neo_backfill" ->
      s"""WITH ${silverCtesFor(backfillBronzeDir)}
         |SELECT sha256(CAST(id AS VARCHAR)) AS sk_asteroid,
         |  id, neo_reference_id, name, absolute_magnitude_h,
         |  diam_min_km, diam_max_km, diam_min_m, diam_max_m,
         |  diam_min_mi, diam_max_mi, diam_min_feet, diam_max_feet,
         |  is_hazardous, is_sentry, nasa_jpl_url, link_self,
         |  approach_date AS as_of_date
         |FROM (SELECT *, row_number() OVER (PARTITION BY id
         |    ORDER BY approach_date DESC NULLS LAST,
         |      approach_date_full ASC NULLS LAST) AS rn
         |  FROM nsilver) WHERE rn = 1""".stripMargin,

    "q_neo_dim_date" ->
      s"""WITH $silverCtes,
         |ndd AS (SELECT DISTINCT approach_date_full FROM nsilver
         |  WHERE approach_date_full IS NOT NULL),
         |ndp AS (SELECT approach_date_full,
         |    try_strptime(approach_date_full, '%Y-%b-%d %H:%M') AS ts
         |  FROM ndd)
         |SELECT sha256(concat_ws('||', approach_date_full))
         |    AS sk_approach_date,
         |  approach_date_full,
         |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS parsed_ts,
         |  CAST(CAST(ts AS DATE) AS VARCHAR) AS approach_date,
         |  year(ts) AS year, month(ts) AS month, day(ts) AS day,
         |  hour(ts) AS hour, minute(ts) AS minute,
         |  weekofyear(ts) AS week_of_year
         |FROM ndp""".stripMargin,

    "q_neo_dim_body" ->
      s"""WITH $silverCtes
         |SELECT DISTINCT sha256(orbiting_body) AS sk_orbiting_body,
         |  orbiting_body
         |FROM nsilver WHERE orbiting_body IS NOT NULL""".stripMargin,

    "q_neo_gold_fact" ->
      s"""WITH $silverCtes
         |SELECT sha256(CAST(id AS VARCHAR)) AS sk_asteroid,
         |  sha256(orbiting_body) AS sk_orbiting_body,
         |  sha256(concat_ws('||', approach_date_full))
         |    AS sk_approach_date,
         |  velocity_km_h, velocity_km_s, velocity_mi_h,
         |  miss_au, miss_km, miss_mi, miss_lunar,
         |  TRY_CAST(approach_epoch AS BIGINT) AS approach_epoch
         |FROM nsilver""".stripMargin,

    "q_neo_gold_merge" ->
      s"""WITH $silverCtes,
         |nda1 AS (${dimAsteroidSql(
            s"nsilver WHERE approach_date = '${NeoFixture.day1Date}'")}),
         |nda2 AS (${dimAsteroidSql(
            s"nsilver WHERE approach_date = '${NeoFixture.day2Date}'")}),
         |ndu AS (SELECT *, 1 AS prio FROM nda2
         |        UNION ALL SELECT *, 2 AS prio FROM nda1)
         |SELECT sk_asteroid, id, neo_reference_id, name,
         |  absolute_magnitude_h,
         |  diam_min_km, diam_max_km, diam_min_m, diam_max_m,
         |  diam_min_mi, diam_max_mi, diam_min_feet, diam_max_feet,
         |  is_hazardous, is_sentry, nasa_jpl_url, link_self
         |FROM (SELECT *, row_number() OVER (PARTITION BY id
         |    ORDER BY prio ASC) AS mrn FROM ndu)
         |WHERE mrn = 1""".stripMargin,

    "q_neo_partition_prune" ->
      s"""WITH $silverCtes
         |SELECT approach_date, id, name, velocity_km_s, miss_km,
         |  orbiting_body
         |FROM nsilver
         |WHERE approach_date = '${NeoFixture.day2Date}'""".stripMargin,

    "q_neo_star_serving" ->
      s"""WITH $silverCtes,
         |nsf AS (SELECT sha256(CAST(id AS VARCHAR)) AS sk_asteroid,
         |    sha256(orbiting_body) AS sk_orbiting_body,
         |    sha256(concat_ws('||', approach_date_full))
         |      AS sk_approach_date,
         |    velocity_km_s, miss_km
         |  FROM nsilver),
         |nsb AS (SELECT DISTINCT sha256(orbiting_body)
         |      AS sk_orbiting_body, orbiting_body
         |  FROM nsilver WHERE orbiting_body IS NOT NULL),
         |nsd AS (SELECT DISTINCT
         |    sha256(concat_ws('||', approach_date_full))
         |      AS sk_approach_date
         |  FROM nsilver WHERE approach_date_full IS NOT NULL)
         |SELECT b.orbiting_body,
         |  count(*) AS n_approaches,
         |  count(DISTINCT f.sk_asteroid) AS n_asteroids,
         |  min(f.miss_km) AS min_miss_km,
         |  max(f.velocity_km_s) AS max_velocity_km_s
         |FROM nsf f
         |JOIN nsb b ON f.sk_orbiting_body = b.sk_orbiting_body
         |JOIN nsd d ON f.sk_approach_date = d.sk_approach_date
         |GROUP BY b.orbiting_body""".stripMargin
  )
}
