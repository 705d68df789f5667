package graft.tools

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, FeedFetcher, HttpFeedFetcher, Layout}

/** Batch pipeline runner: ingest → silver → gold for a date (or an
  * inclusive date range), mirroring the reference's Airflow DAG
  * `bronze_ingest >> bronze_to_silver >> silver_to_gold`
  * (reference: airflow/dags/nasa_asteroid_dag.py:18-66). Scheduling
  * stays external (cron/Airflow submit this main per day); the runner
  * owns ordering and per-day isolation.
  */
object PipelineRunner {

  /** Inclusive ISO date range. */
  def dateRange(start: String, end: String): Seq[String] = {
    val s = LocalDate.parse(start)
    val e = LocalDate.parse(end)
    require(!e.isBefore(s), s"end $end before start $start")
    Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .map(_.toString).toSeq
  }

  /** Per-task retry policy, mirroring the reference DAG's
    * `default_args` (`retries: 1`, `retry_delay: timedelta(minutes=5)`
    * — reference: airflow/dags/nasa_asteroid_dag.py:12-16). Flat delay,
    * not exponential — that is what the reference schedules. `sleeper`
    * is injectable so specs assert the retry schedule without sleeping.
    */
  final case class RetryPolicy(retries: Int = 1,
                               delayMs: Long = 5L * 60 * 1000,
                               sleeper: Long => Unit = Thread.sleep)

  /** Run `body`, retrying up to `policy.retries` times on non-fatal
    * failure with `policy.delayMs` between attempts. The stage is the
    * retry unit (the Airflow task granularity): a transient bronze
    * fetch failure never re-runs a completed silver write, and the
    * stages themselves are idempotent per day so a retry after a
    * partial failure is safe. The last failure propagates unchanged
    * once attempts are exhausted.
    */
  def withRetries[A](policy: RetryPolicy, label: String)(body: => A): A = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e) if attempt < policy.retries =>
          attempt += 1
          System.err.println(s"[pipeline] $label attempt $attempt failed" +
            s" (${e.getMessage}); retrying in ${policy.delayMs} ms")
          policy.sleeper(policy.delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run the three stages for each date in order, each stage under the
    * retry policy. Days are independent (separate bronze files, dynamic
    * silver partitions, keyed gold merges), so a failed day can be
    * re-run alone and re-running a completed day is idempotent.
    */
  def runRange(spark: SparkSession, layout: Layout, dates: Seq[String],
               fetcher: FeedFetcher,
               policy: RetryPolicy = RetryPolicy()): Unit =
    dates.foreach { date =>
      withRetries(policy, s"bronze_ingest($date)")(
        BronzeIngest.ingest(spark, layout, date, fetcher))
      withRetries(policy, s"bronze_to_silver($date)")(
        BronzeToSilver.run(spark, layout, date))
      withRetries(policy, s"silver_to_gold($date)")(
        SilverToGold.run(spark, layout, date))
    }

  /** CLI: <base-dir> <start-date> [end-date]. API key from
    * NASA_API_KEY (reference: src/utils/variables.py:5-15 env config);
    * DEMO_KEY default matches the reference's development posture.
    */
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PipelineRunner <base> <start> [end]")
    val base = args(0)
    val start = args(1)
    val end = if (args.length > 2) args(2) else start
    // spark-submit sets spark.master; a plain `java`/`sbt runMain` launch
    // runs local. Cluster masters leave shuffle sizing to the deployment.
    val spark = graft.Graft.newSession(
      sys.props.getOrElse("spark.master", "local[*]"), "graft-pipeline")
    try runRange(spark, Layout(base), dateRange(start, end),
      new HttpFeedFetcher(sys.env.getOrElse("NASA_API_KEY", "DEMO_KEY")))
    finally spark.stop()
  }
}
