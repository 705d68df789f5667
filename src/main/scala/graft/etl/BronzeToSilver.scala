package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.sources.{Layout, NeoSchema}

/** Bronze → silver: read the raw NeoWs feed JSON, flatten the nested NEO
  * structure into the 27-column wide table, normalize placeholder
  * strings to nulls, and write date-partitioned parquet.
  *
  * Reference semantics: src/etl/bronze_to_silver.py:34-153, with the two
  * §7.1 design fixes:
  *   - `near_earth_objects` reads as `MapType(date -> Array[NEO])`
  *     (explicit schema, no inference pass), so one `explode(map)`
  *     handles any number of feed dates — the reference string-
  *     interpolates one date into the field path
  *     (bronze_to_silver.py:41-43) and can only see that day.
  *   - silver stays typed: placeholder→null normalization runs on
  *     string-typed columns only, BEFORE the numeric casts, instead of
  *     the reference's trim-everything loop that stringifies all 27
  *     columns (bronze_to_silver.py:117-124; SURVEY.md §1.2).
  *
  * Scale notes: the flatten is one Generate + Project pipeline — no
  * shuffle at all until the partitioned write; string→double goes
  * through `try_cast` so a malformed feed value yields null (the
  * reference's ANSI-off behavior) instead of failing a 100-TB job.
  */
object BronzeToSilver {

  /** Flatten one feed DataFrame (bronze JSON already loaded) into the
    * silver wide schema. Exposed separately from [[run]] for tests and
    * for the streaming variant (same plan, streaming source).
    */
  def flatten(feed: DataFrame): DataFrame = {
    // map-explode: one row per (feed_date, NEO array), then per NEO
    val perNeo = feed
      .select(explode(col("near_earth_objects")).as(Seq("feed_date", "neos")))
      .select(explode(col("neos")).as("neo"))
    flattenNeos(perNeo)
  }

  /** Reference-fidelity read path: the feed loaded with SCHEMA INFERENCE
    * types `near_earth_objects` as a struct with one field per date key;
    * the reference string-interpolates the request date into the field
    * path (bronze_to_silver.py:41-43). Same downstream flatten — the
    * fidelity spec proves both paths produce identical silver.
    */
  def flattenInferredDay(feed: DataFrame, date: String): DataFrame =
    flattenNeos(feed.select(
      explode(col(s"near_earth_objects.`$date`")).as("neo")))

  private def flattenNeos(perNeo: DataFrame): DataFrame = {
    // one row per (NEO × close approach) — NEOs with no approaches drop
    // out here, exactly like the reference's inner explode
    // (bronze_to_silver.py:83)
    val perApproach = perNeo.select(col("neo"),
      explode(col("neo.close_approach_data")).as("approach"))

    def s(c: Column): Column = Normalize.placeholderToNull(c)
    def d(c: Column): Column = Normalize.placeholderToNull(c).try_cast("double")

    perApproach.select(
      // identity block (reference flatten: bronze_to_silver.py:48-61)
      col("neo.id").try_cast("int").as("id"),
      col("neo.neo_reference_id").try_cast("int").as("neo_reference_id"),
      s(col("neo.name")).as("name"),
      col("neo.absolute_magnitude_h").as("absolute_magnitude_h"),
      col("neo.is_potentially_hazardous_asteroid").as("is_hazardous"),
      col("neo.is_sentry_object").as("is_sentry"),
      s(col("neo.nasa_jpl_url")).as("nasa_jpl_url"),
      s(col("neo.links.self")).as("link_self"),
      // diameter block (bronze_to_silver.py:62-80)
      col("neo.estimated_diameter.kilometers.estimated_diameter_min").as("diam_min_km"),
      col("neo.estimated_diameter.kilometers.estimated_diameter_max").as("diam_max_km"),
      col("neo.estimated_diameter.meters.estimated_diameter_min").as("diam_min_m"),
      col("neo.estimated_diameter.meters.estimated_diameter_max").as("diam_max_m"),
      col("neo.estimated_diameter.miles.estimated_diameter_min").as("diam_min_mi"),
      col("neo.estimated_diameter.miles.estimated_diameter_max").as("diam_max_mi"),
      col("neo.estimated_diameter.feet.estimated_diameter_min").as("diam_min_feet"),
      col("neo.estimated_diameter.feet.estimated_diameter_max").as("diam_max_feet"),
      // approach block (bronze_to_silver.py:85-108)
      s(col("approach.close_approach_date")).as("approach_date"),
      s(col("approach.close_approach_date_full")).as("approach_date_full"),
      col("approach.epoch_date_close_approach").try_cast("double").as("approach_epoch"),
      d(col("approach.relative_velocity.kilometers_per_second")).as("velocity_km_s"),
      d(col("approach.relative_velocity.kilometers_per_hour")).as("velocity_km_h"),
      d(col("approach.relative_velocity.miles_per_hour")).as("velocity_mi_h"),
      d(col("approach.miss_distance.astronomical")).as("miss_au"),
      d(col("approach.miss_distance.lunar")).as("miss_lunar"),
      d(col("approach.miss_distance.kilometers")).as("miss_km"),
      d(col("approach.miss_distance.miles")).as("miss_mi"),
      s(col("approach.orbiting_body")).as("orbiting_body"))
  }

  /** Full stage: read bronze JSON for `date`, flatten, profile in ONE
    * aggregate pass (vs the reference's ~105-job print loop, SURVEY.md
    * §3.2), and write silver partitioned by approach_date.
    * Returns the profile of the day's flattened rows for the caller's
    * logs (the reference profiles the day's frame,
    * bronze_to_silver.py:127-143).
    */
  def run(spark: SparkSession, layout: Layout, date: String): DataFrame = {
    val feed = spark.read
      .schema(NeoSchema.feed)
      .option("multiLine", "true")
      .json(layout.bronzeFile(date))
    val silver = flatten(feed)

    // partitionOverwriteMode=dynamic: replace only the partitions this
    // run produced — a second day's run must not clobber day one.
    silver.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("approach_date")
      .parquet(layout.silverAsteroids)

    DataProfiler.profile(silver)
  }
}
