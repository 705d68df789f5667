package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Path-addressed table loading over the driver-generated parquet test
  * tables (TESTDATA.md). Mirrors the reference's metastore-free,
  * path-addressed layered tables (SURVEY.md §1.1) — at cluster scale these
  * would be object-store prefixes; locally they are directories.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose pipelines are per-row COMPUTE-bound (regex
    * tokenization, md5 hashing, vector arithmetic) — the ones where a
    * single-split scan serializes real work. Relational tables stay
    * un-fanned: their queries are shuffle-keyed immediately, so an extra
    * round-robin exchange only adds cost at this scale.
    */
  private val computeHeavy = Set("documents", "embeddings")

  /** Load a table, fanning single-split scans out to the session's
    * parallelism. The schema comes from the table's parquet footer on
    * the driver ([[operators.VersionedTable.readParquet]]), so a load
    * runs no schema-inference job.
    *
    * The local testdata ships each table as ONE parquet row group, so the
    * scan yields one input split and every downstream map stage (regex
    * tokenization, hashing, vector math) serializes onto a single core.
    * At production scale a table is thousands of row groups and the scan
    * is already parallel — this repartition only fires when the planned
    * scan has fewer splits than the cluster has slots, so on a real
    * cluster it is a no-op. Filters still push down: Catalyst moves
    * predicates through RoundRobin repartitions into the scan.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df =
      operators.VersionedTable.readParquet(spark, s"$dir/$name.parquet")
    val target = spark.sparkContext.defaultParallelism
    lazy val planned = df.rdd.getNumPartitions
    if (computeHeavy.contains(name) && planned < target)
      df.repartition(target)
    else df
  }

  /** Epoch milliseconds of `events.ts`, adaptive to the physical type the
    * generator wrote. The column has shipped as both TIMESTAMP(NANOS)
    * (readable only as int64 via `nanosAsLong=true`) and TIMESTAMP(MICROS)
    * (a real timestamp column); the engine's event-time semantics are
    * defined on epoch ms, so every consumer derives ms HERE and nowhere
    * else.
    *
    * All branches FLOOR (pmod keeps the int64 path floor-division, and
    * `unix_millis` floor-divides Spark's internal micros), matching
    * DuckDB's `epoch_ms(ts)` for pre-epoch timestamps too — a plain
    * `div` would truncate toward zero and disagree before 1970
    * (EpochMsSpec pins this).
    */
  def epochMs(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => // int64 nanos: exact integer floor-division
      expr("(ts - pmod(ts, 1000000)) div 1000000")
    case TimestampType => unix_millis(col("ts"))
    case TimestampNTZType => // naive micros; session tz is pinned UTC, so
      // the cast re-labels the same wall-clock instant DuckDB assumes
      unix_millis(col("ts").cast(TimestampType))
    case other => throw new IllegalStateException(
      s"events.ts: unsupported physical type $other — expected int64 " +
        "nanos (LongType via nanosAsLong) or a timestamp type; did the " +
        "testdata generator change its parquet contract again?")
  }
}
