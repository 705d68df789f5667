package graft.etl

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{MergeUpsert, VersionedTable}
import graft.sources.Layout

/** Silver → gold: derive the star schema (3 dimensions + 1 fact linked
  * by SHA-256 surrogate keys) from one silver partition and upsert each
  * gold table.
  *
  * Reference semantics: src/etl/silver_to_gold.py:34-167 plus
  * src/utils/bucket.py:63-89 for the merge, with the §7.1 fixes:
  *   - deterministic dedup survivors (row_number tiebreak) instead of
  *     `dropDuplicates(subset)`'s arbitrary row (silver_to_gold.py:106);
  *   - the upsert materializes to a temp dir and swaps instead of lazily
  *     overwriting the path it is still reading (bucket.py:69-87).
  *
  * Preserved quirks (SURVEY.md F9): `sha2(null) = null`, so fact rows
  * with null `orbiting_body` carry a null `sk_orbiting_body`
  * (silver_to_gold.py:132); but the date SK goes through
  * `concat_ws("||", …)`, which SKIPS nulls — a null
  * `approach_date_full` therefore yields `sha2("")`, a non-null SK
  * that dangles (the dim drops the null row). Both reproduce the
  * reference exactly (silver_to_gold.py:66-69,131-133); FK tests treat
  * null SKs and the empty-string SK as the two allowed exceptions.
  *
  * Scale notes: dims are tiny (dates, bodies) or bounded (asteroids) —
  * at 100 TB the fact dominates; its build is a pure projection (no
  * shuffle), and above one scan split the upsert shuffles once on the
  * dedup key. A day whose silver partition and merges each fit one split
  * ([[VersionedTable.oneSplit]]) plans no shuffle at all: the day is read
  * as one partition, so the builders' `distinct` and window need no
  * exchange, and each upsert's union is one partition too, so the stage
  * runs one single-task job per gold table. Consumption joins broadcast
  * the dims (see RelationalQueries q_star_join).
  */
object SilverToGold {

  private val dateFmt = "yyyy-MMM-dd HH:mm" // locale-sensitive month name (F6)

  /** dim_approach_date (reference: silver_to_gold.py:51-70). */
  def dimApproachDate(silver: DataFrame): DataFrame =
    silver.select(col("approach_date_full")).na.drop().distinct()
      .select(
        sha2(concat_ws("||", col("approach_date_full")), 256)
          .as("sk_approach_date"),
        col("approach_date_full"),
        try_to_timestamp(col("approach_date_full"), lit(dateFmt))
          .as("parsed_ts"))
      .withColumn("approach_date", to_date(col("parsed_ts")))
      .withColumn("year", year(col("parsed_ts")))
      .withColumn("month", month(col("parsed_ts")))
      .withColumn("day", dayofmonth(col("parsed_ts")))
      .withColumn("hour", hour(col("parsed_ts")))
      .withColumn("minute", minute(col("parsed_ts")))
      .withColumn("week_of_year", weekofyear(col("parsed_ts")))

  /** dim_orbiting_body (reference: silver_to_gold.py:75-83). */
  def dimOrbitingBody(silver: DataFrame): DataFrame =
    silver.select(col("orbiting_body")).na.drop().distinct()
      .select(sha2(col("orbiting_body"), 256).as("sk_orbiting_body"),
        col("orbiting_body"))

  /** dim_asteroid (reference: silver_to_gold.py:87-122): one row per id,
    * deterministic survivor (latest approach_date, then full column
    * order) instead of the reference's arbitrary dropDuplicates("id").
    */
  def dimAsteroid(silver: DataFrame): DataFrame =
    dimAsteroidAsOf(silver).drop("approach_date", "approach_date_full")

  /** [[dimAsteroid]] with the survivor's recency columns RETAINED
    * (`approach_date`, `approach_date_full`) — the shape an out-of-order
    * incremental backfill needs: a later merge can re-run the SAME
    * survivor ordering against the stored winner, so folding daily
    * increments in any arrival order converges to the batch rebuild
    * (the lexicographic (approach_date DESC, approach_date_full ASC)
    * preference is total and associative). Batch [[dimAsteroid]] is the
    * projection of this to the dim columns.
    */
  def dimAsteroidAsOf(silver: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("approach_date").desc, col("approach_date_full").asc_nulls_last)
    silver
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(
        sha2(col("id").cast("string"), 256).as("sk_asteroid"),
        col("id"), col("neo_reference_id"), col("name"),
        col("absolute_magnitude_h"),
        col("diam_min_km"), col("diam_max_km"),
        col("diam_min_m"), col("diam_max_m"),
        col("diam_min_mi"), col("diam_max_mi"),
        col("diam_min_feet"), col("diam_max_feet"),
        col("is_hazardous"), col("is_sentry"),
        col("nasa_jpl_url"), col("link_self"),
        col("approach_date"), col("approach_date_full"))
  }

  /** fact_asteroid_approach (reference: silver_to_gold.py:127-148).
    * Pure projection — SKs recomputed independently of the dims, which
    * is what lets the reference link the star without a single join
    * (SURVEY.md §2.4).
    */
  def factApproach(silver: DataFrame): DataFrame =
    silver.select(
      sha2(col("id").cast("string"), 256).as("sk_asteroid"),
      sha2(col("orbiting_body"), 256).as("sk_orbiting_body"),
      sha2(concat_ws("||", col("approach_date_full")), 256)
        .as("sk_approach_date"),
      col("velocity_km_h"), col("velocity_km_s"), col("velocity_mi_h"),
      col("miss_au"), col("miss_km"), col("miss_mi"), col("miss_lunar"),
      col("approach_epoch").try_cast("long").as("approach_epoch"))

  /** Gold table name → (builder, merge keys). */
  val tables: Seq[(String, DataFrame => DataFrame, Seq[String])] = Seq(
    ("dim_asteroid", dimAsteroid _, Seq("id")),
    ("dim_approach_date", dimApproachDate _, Seq("approach_date_full")),
    ("dim_orbiting_body", dimOrbitingBody _, Seq("orbiting_body")),
    ("fact_asteroid_approach", factApproach _,
      Seq("sk_asteroid", "sk_approach_date")))

  /** The day's silver rows, read by path from the one partition directory
    * `silver/asteroids/approach_date=<date>` as the reference does
    * (silver_to_gold.py:34-37). `basePath` keeps `approach_date` as the
    * last column, inferred as a date, so the frame equals the whole-table
    * read filtered to the day. Reading the table root and filtering would
    * prune the scan too, but its discovery lists every partition, one
    * Spark task each, so each day would cost O(lake). The schema comes
    * from the partition's parquet footer, read on the driver
    * ([[VersionedTable.readParquet]]), so opening the day runs no Spark
    * job. A day that fits one scan split is returned as one partition
    * ([[VersionedTable.oneSplit]]): the builders' `distinct` and window
    * then plan no exchange. A larger day keeps its scan partitions and
    * the builders shuffle. `None` when the day has no partition (a feed
    * day with no approaches).
    */
  private[graft] def silverDay(spark: SparkSession, layout: Layout,
                               date: String): Option[DataFrame] = {
    val day = new Path(layout.silverPartition(date))
    if (!day.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(day))
      None
    else Some(VersionedTable.oneSplit(VersionedTable.readParquet(spark,
      day.toString, Some(layout.silverAsteroids))))
  }

  /** Full stage: read the day's silver partition by path ([[silverDay]],
    * silver_to_gold.py:34-37), build the four gold tables, merge-upsert
    * each (reference call sites: silver_to_gold.py:153-167). A day with no
    * partition commits nothing.
    */
  def run(spark: SparkSession, layout: Layout, date: String): Unit =
    silverDay(spark, layout, date).foreach { silver =>
      tables.foreach { case (name, build, keys) =>
        MergeUpsert.saveOrUpdate(spark, build(silver), layout.gold(name), keys)
      }
    }

  /** A served table's pinned copy: the table path and version it
    * copies, and the persisted frame.
    */
  private final case class Pin(path: String, version: Long, df: DataFrame) {
    def cached: Boolean = df.storageLevel != StorageLevel.NONE
    // the match Spark's cache manager makes between two plans
    def sameEntry(o: Pin): Boolean =
      df.queryExecution.analyzed.sameResult(o.df.queryExecution.analyzed)
  }

  // per session: view name -> the pin its view reads. View names are
  // session-global, so one lake base is served at a time.
  private val served = mutable.Map.empty[SparkSession, mutable.Map[String, Pin]]

  /** Serving surface (reference: src/streamlit_app.py:35-53): register
    * each gold table as a temp view so plain `spark.sql` works over it.
    *
    * Snapshot contract: each view reads an in-memory copy of the version
    * that was live at the last call, so a commit after it neither fails
    * the view's scans (the commit renames the listed files away) nor
    * changes its answers. A call re-pins only the tables whose version
    * moved (or whose copy was dropped): an unchanged star launches no
    * Spark job. A moved table's new copy is pinned and its view
    * registered before the superseded copy is unpersisted, so a view
    * never reads an unpinned table. `spark.catalog.clearCache()` is the
    * one call that drops the copies; the views then read the pinned
    * version's files again, and the next call re-pins.
    *
    * Each copy is read by file ([[VersionedTable.snapshot]]), so it is
    * never substituted into a writer's read of the table directory. A
    * table whose files fit one scan split ([[VersionedTable.oneSplit]])
    * is copied into one partition: under
    * `canChangeCachedPlanOutputPartitioning = false`
    * ([[graft.Graft.sessionConf]]) its scan then reports
    * `SinglePartition`, which satisfies every aggregate, join and sort
    * distribution without an exchange, so a dashboard query launches
    * jobs only for its broadcasts and its result.
    */
  def registerServingViews(spark: SparkSession, layout: Layout): Unit =
    served.synchronized {
      val pins = served.getOrElseUpdate(spark, mutable.Map.empty)
      tables.foreach { case (name, _, _) =>
        val path = layout.gold(name)
        val table = VersionedTable(spark, path)
        val v = table.version()
        // an unversioned table (0) has no version to compare: re-pinned
        val pin = pins.get(name)
          .filter(p => p.path == path && p.cached && v > 0 && p.version == v)
          .getOrElse(pinned(spark, path, table.snapshot()))
        pin.df.createOrReplaceTempView(name)
        pins.put(name, pin).filterNot(_.sameEntry(pin))
          .foreach(_.df.unpersist(blocking = true))
      }
    }

  private def pinned(spark: SparkSession, path: String,
                     snap: VersionedTable.Snapshot): Pin = {
    val copy = VersionedTable.oneSplit(snap.df)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // fills the cache in one job; count() takes two under AQE, which
    // fills the table cache in a query stage of its own first
    copy.foreachPartition((_: Iterator[Row]) => ())
    Pin(path, snap.version, copy)
  }
}
