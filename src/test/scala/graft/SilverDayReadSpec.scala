package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.operators.Observability
import graft.sources.{BronzeIngest, Layout, NeoFixture}

/** The gold stage reads only its day's silver partition: its cost does
  * not grow with the number of silver partitions, and the day's frame is
  * the whole-table read filtered to the day (SURVEY.md S4). A day whose
  * merges fit one scan split runs one single-task job per gold table;
  * above the split the merges keep their exchange and their survivors.
  */
class SilverDayReadSpec extends AnyFunSuite with SparkSpec {

  private val date = NeoFixture.day1Date

  /** A fresh layout whose silver holds `partitions` days: the fixture's
    * day 1 through the silver stage, and copies of its rows on each of the
    * `partitions - 1` days before it.
    */
  private def lake(partitions: Int): Layout = {
    val layout = Layout(
      Files.createTempDirectory(s"graft-silver-$partitions").toString)
    BronzeIngest.writeRaw(spark, layout, date, NeoFixture.day1)
    BronzeToSilver.run(spark, layout, date)
    spark.read.parquet(layout.silverPartition(date))
      .crossJoin(spark.range(1, partitions).toDF("back"))
      .withColumn("approach_date",
        date_sub(to_date(lit(date)), col("back").cast("int")).cast("string"))
      .drop("back")
      .write.mode("append").partitionBy("approach_date")
      .parquet(layout.silverAsteroids)
    layout
  }

  private lazy val lakes = Seq(40, 80).map(n => n -> lake(n))

  test("the gold stage launches as many tasks on 80 silver partitions " +
    "as on 40") {
    // both counts are above the 32-path threshold at which whole-table
    // partition discovery becomes a Spark job
    assert(spark.conf.get(
      "spark.sql.sources.parallelPartitionDiscovery.threshold") === "32")
    val counts = lakes.map { case (_, layout) =>
      launched(SilverToGold.run(spark, layout, date)).tasks
    }
    assert(counts.head > 0)
    assert(counts.head === counts.last, s"tasks at 40 vs 80: $counts")
  }

  test("the day's frame equals the whole-table read filtered to the day") {
    lakes.foreach { case (n, layout) =>
      val day = SilverToGold.silverDay(spark, layout, date).get
      val whole = spark.read.parquet(layout.silverAsteroids)
        .filter(col("approach_date") === date)
      assert(day.schema === whole.schema, s"at $n partitions")
      assert(day.schema.last.name === "approach_date")
      assert(day.schema.last.dataType === DateType)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().toSeq.map(_.toString).sorted
      val expected = rows(whole)
      assert(expected.nonEmpty)
      assert(rows(day) === expected, s"at $n partitions")
    }
  }

  private val day2 = NeoFixture.day2Date

  /** A fresh layout with the fixture's days 1 and 2 in silver and day 1
    * in gold, so day 2's gold stage merges into every table.
    */
  private def merging(): Layout = {
    val layout =
      Layout(Files.createTempDirectory("graft-merge-day").toString)
    Seq(date -> NeoFixture.day1, day2 -> NeoFixture.day2).foreach {
      case (d, json) =>
        BronzeIngest.writeRaw(spark, layout, d, json)
        BronzeToSilver.run(spark, layout, d)
    }
    SilverToGold.run(spark, layout, date)
    layout
  }

  /** Day 2's gold stage on `layout`, as committed: its jobs and tasks,
    * and the executed plan of each table's merge write.
    */
  private def goldDay(layout: Layout): (Observability.Launched, Seq[String]) = {
    val plans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // launched drains the listener queue, so every plan is in on return
    try {
      val day = launched(SilverToGold.run(spark, layout, day2))
      (day, plans.asScala.toSeq.filter(_.contains("InsertIntoHadoopFs")))
    } finally spark.listenerManager.unregister(listener)
  }

  private def gold(layout: Layout): Seq[Seq[String]] =
    SilverToGold.tables.map { case (name, _, _) =>
      spark.read.parquet(layout.gold(name)).collect().map(_.toString)
        .toSeq.sorted
    }

  test("a merging gold day runs one single-task job per table, and its " +
    "merges plan no exchange") {
    val (day, writes) = goldDay(merging())
    assert((day.jobs, day.tasks) === ((4, 4)))
    assert(writes.size === 4)
    writes.foreach(p => assert(!p.contains("Exchange"), p))
  }

  test("above one scan split the merges keep their exchange and write " +
    "the single-partition gold") {
    val one = merging()
    SilverToGold.run(spark, one, day2)
    val split = merging()
    // below every silver and gold file's size
    val (day, writes) = withSplit(256)(goldDay(split))
    assert(writes.size === 4)
    writes.foreach(p => assert(p.contains("Exchange"), p))
    // each table's write job, plus at least its merge's shuffle job
    assert(day.jobs >= 8)
    assert(gold(split) === gold(one))
  }
}
