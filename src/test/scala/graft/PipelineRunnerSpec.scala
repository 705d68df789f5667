package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SilverToGold
import graft.operators.DirSwap
import graft.sources.{FeedFetcher, Layout, NeoFixture}
import graft.tools.PipelineRunner

/** Drives the batch runner (the reference DAG's shape: ingest → silver →
  * gold per day) across two days via a stubbed fetcher and asserts the
  * same gold state the stage-level NeoPipelineSpec pins.
  */
class PipelineRunnerSpec extends AnyFunSuite with SparkSpec {

  private object StubFetcher extends FeedFetcher {
    def fetch(start: String, end: String): String = start match {
      case NeoFixture.day1Date => NeoFixture.day1
      case NeoFixture.day2Date => NeoFixture.day2
      case d => fail(s"unexpected fetch date $d")
    }
  }

  // a feed day with no approaches: bronze holds the document, silver
  // gains no partition
  private val emptyDate = "2026-08-20"

  private object WithEmptyDay extends FeedFetcher {
    def fetch(start: String, end: String): String =
      if (start == emptyDate) NeoFixture.feedJson(Seq(emptyDate -> Seq()))
      else StubFetcher.fetch(start, end)
  }

  /** Each gold table's `_graft_version` and (name, length, mtime) listing. */
  private def goldState(layout: Layout): Map[String, (Long, Seq[String])] =
    SilverToGold.tables.map { case (name, _, _) =>
      val dir = new Path(layout.gold(name))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      name -> (DirSwap.readVersion(fs, dir), fs.listStatus(dir).toSeq
        .map(f => s"${f.getPath.getName} ${f.getLen} ${f.getModificationTime}")
        .sorted)
    }.toMap

  test("dateRange: inclusive, ordered, single-day") {
    assert(PipelineRunner.dateRange("2026-08-12", "2026-08-13") ===
      Seq("2026-08-12", "2026-08-13"))
    assert(PipelineRunner.dateRange("2026-08-12", "2026-08-12") ===
      Seq("2026-08-12"))
    assert(PipelineRunner.dateRange("2026-08-30", "2026-09-02").length === 4)
    assertThrows[IllegalArgumentException](
      PipelineRunner.dateRange("2026-08-13", "2026-08-12"))
  }

  test("runRange: two days end-to-end, gold matches stage-level pipeline") {
    val layout = Layout(Files.createTempDirectory("graft-runner").toString)
    PipelineRunner.runRange(spark, layout,
      Seq(NeoFixture.day1Date, NeoFixture.day2Date), StubFetcher)

    val silver = spark.read.parquet(layout.silverAsteroids)
    assert(silver.count() === 7)
    assert(spark.read.parquet(layout.gold("dim_asteroid")).count() === 4)
    assert(spark.read.parquet(layout.gold("dim_orbiting_body"))
      .filter(col("orbiting_body") === "Earth").count() === 1)
    assert(spark.read.parquet(layout.gold("fact_asteroid_approach"))
      .count() === 7)

    // re-running the last day is idempotent (keyed merges, dynamic
    // partition overwrite)
    PipelineRunner.runRange(spark, layout, Seq(NeoFixture.day2Date),
      StubFetcher)
    assert(spark.read.parquet(layout.silverAsteroids).count() === 7)
    assert(spark.read.parquet(layout.gold("dim_asteroid")).count() === 4)
    assert(spark.read.parquet(layout.gold("fact_asteroid_approach"))
      .count() === 7)
  }

  test("runRange: a day with no approaches on a fresh lake writes no gold") {
    val layout = Layout(Files.createTempDirectory("graft-empty").toString)
    PipelineRunner.runRange(spark, layout, Seq(emptyDate), WithEmptyDay,
      PipelineRunner.RetryPolicy(retries = 0))
    assert(Files.exists(Paths.get(layout.bronzeFile(emptyDate))))
    assert(!Files.exists(Paths.get(layout.silverPartition(emptyDate))))
    assert(!Files.exists(Paths.get(layout.base, "gold")))
  }

  test("runRange: a day with no approaches leaves existing gold untouched") {
    val layout = Layout(Files.createTempDirectory("graft-empty-day").toString)
    val once = PipelineRunner.RetryPolicy(retries = 0)
    PipelineRunner.runRange(spark, layout, Seq(NeoFixture.day1Date),
      WithEmptyDay, once)
    val before = goldState(layout)
    assert(before.values.map(_._1).toSet === Set(1L))
    PipelineRunner.runRange(spark, layout, Seq(emptyDate), WithEmptyDay, once)
    assert(goldState(layout) === before)
  }

  test("withRetries: retries with the reference's flat delay, then " +
    "propagates the last failure") {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    val policy = PipelineRunner.RetryPolicy(
      retries = 2, delayMs = 300000L, sleeper = slept += _)

    // fails twice, succeeds on the third (= last allowed) attempt
    var calls = 0
    val out = PipelineRunner.withRetries(policy, "flaky") {
      calls += 1
      if (calls < 3) sys.error(s"transient $calls") else "ok"
    }
    assert(out === "ok")
    assert(calls === 3)
    assert(slept.toSeq === Seq(300000L, 300000L))

    // attempts exhausted: the LAST failure propagates, with exactly
    // `retries` sleeps taken
    slept.clear()
    var always = 0
    val e = intercept[RuntimeException] {
      PipelineRunner.withRetries(policy, "down") {
        always += 1; sys.error(s"boom $always")
      }
    }
    assert(e.getMessage === "boom 3")
    assert(always === 3)
    assert(slept.toSeq === Seq(300000L, 300000L))
  }

  test("runRange: a transiently failing fetch is retried at STAGE " +
    "granularity and the day still completes") {
    val layout = Layout(Files.createTempDirectory("graft-retry").toString)
    var fetches = 0
    val flaky = new FeedFetcher {
      def fetch(start: String, end: String): String = {
        fetches += 1
        if (fetches == 1) sys.error("HTTP 503")
        NeoFixture.day1
      }
    }
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    PipelineRunner.runRange(spark, layout, Seq(NeoFixture.day1Date),
      flaky, PipelineRunner.RetryPolicy(sleeper = slept += _))
    assert(fetches === 2)
    assert(slept.toSeq === Seq(300000L)) // the reference's 5-minute delay
    assert(spark.read.parquet(layout.gold("fact_asteroid_approach"))
      .count() > 0)
  }
}
