package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.SilverToGold
import graft.operators.VersionedTable
import graft.sources.{FeedFetcher, Layout, NeoFixture}
import graft.tools.PipelineRunner

/** The served gold star ([[Graft.serve]]): views answer the version
  * pinned at the last `serve` across later commits, a re-serve refreshes
  * only what moved, superseded copies are dropped, and a pinned copy is
  * never read back by the next commit's merge.
  */
class ServingSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {

  private object Days extends FeedFetcher {
    def fetch(start: String, end: String): String =
      NeoFixture.backfillDays.getOrElse(start, fail(s"unexpected date $start"))
  }

  private val days = Seq(NeoFixture.day1Date, NeoFixture.day2Date,
    NeoFixture.day3Date, NeoFixture.day4Date)

  private def lake(name: String): (String, Layout) = {
    val base = Files.createTempDirectory(s"graft-serving-$name").toString
    (base, Layout(base))
  }

  private def runDay(layout: Layout, date: String): Unit =
    PipelineRunner.runRange(spark, layout, Seq(date), Days)

  private def factCount(): Long =
    spark.sql("SELECT count(*) FROM fact_asteroid_approach").head().getLong(0)

  private def onDisk(layout: Layout, name: String): Seq[String] =
    spark.read.parquet(layout.gold(name)).collect().map(_.toString).toSeq.sorted

  private def cachedIn(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation])

  // the pins outlive the suite otherwise; clearCache is the call that
  // drops them
  override def afterAll(): Unit = spark.catalog.clearCache()

  test("a commit after serve: views keep the pinned version until a " +
    "re-serve; an unchanged star re-serves with no job") {
    val (base, layout) = lake("stale")
    runDay(layout, days(0))
    Graft.serve(spark, base)
    val day1 = factCount()
    assert(day1 === spark.read.parquet(
      layout.gold("fact_asteroid_approach")).count())
    runDay(layout, days(1))
    // the commit renamed day 1's files away: the view still answers
    assert(factCount() === day1)
    Graft.serve(spark, base)
    val day2 = spark.read.parquet(layout.gold("fact_asteroid_approach")).count()
    assert(day2 > day1)
    assert(factCount() === day2)
    assert(launched(Graft.serve(spark, base)).jobs === 0)
    assert(factCount() === day2)
  }

  test("three serve/commit cycles leave exactly the four live pins") {
    spark.catalog.clearCache() // start from an empty cache manager
    val (base, layout) = lake("cycles")
    runDay(layout, days(0))
    Graft.serve(spark, base)
    days.tail.foreach { d =>
      runDay(layout, d)
      Graft.serve(spark, base)
    }
    assert(org.apache.spark.sql.CacheEntries(spark) === 4)
    SilverToGold.tables.foreach { case (name, _, _) =>
      assert(cachedIn(spark.table(name)), name)
      assert(spark.table(name).collect().map(_.toString).toSeq.sorted ===
        onDisk(layout, name), name)
    }
  }

  test("a clearCache un-pins; the next serve re-pins") {
    val (base, layout) = lake("clear")
    runDay(layout, days(0))
    Graft.serve(spark, base)
    spark.catalog.clearCache()
    assert(!cachedIn(spark.table("dim_asteroid")))
    // one job per table fills its pinned copy
    assert(launched(Graft.serve(spark, base)).jobs === 4)
    SilverToGold.tables.foreach { case (name, _, _) =>
      assert(cachedIn(spark.table(name)), name)
    }
  }

  /** Serve after day 1, then merge days 2 and 3 without re-serving: the
    * merges' existing-table reads must never be served from the pinned
    * day-1 copy, and the gold must equal a lake that was never served.
    */
  private def mergesIgnorePins(name: String, partitions: Int => Boolean): Unit = {
    val (_, control) = lake(s"$name-control")
    days.take(3).foreach(runDay(control, _))
    val (base, layout) = lake(name)
    runDay(layout, days(0))
    Graft.serve(spark, base)
    SilverToGold.tables.foreach { case (t, _, _) =>
      assert(partitions(spark.table(t).rdd.getNumPartitions), t)
    }
    days.slice(1, 3).foreach { d =>
      SilverToGold.tables.foreach { case (t, _, _) =>
        assert(!cachedIn(VersionedTable.readParquet(spark, layout.gold(t))),
          s"$t: the merge read would be served from the pin")
      }
      runDay(layout, d)
    }
    SilverToGold.tables.foreach { case (t, _, _) =>
      assert(onDisk(layout, t) === onDisk(control, t), t)
    }
  }

  test("a table within one scan split is pinned as one partition; its " +
    "aggregates run without a shuffle; merges never read the pin") {
    mergesIgnorePins("one-split", _ == 1)
    val plan = spark.sql("SELECT sk_orbiting_body, count(*) " +
      "FROM fact_asteroid_approach GROUP BY sk_orbiting_body")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("a table above the scan split keeps its scan partitions; merges " +
    "never read the pin") {
    // below every gold file's size, so no table fits one split
    withSplit(256)(mergesIgnorePins("split", _ > 1))
  }
}
