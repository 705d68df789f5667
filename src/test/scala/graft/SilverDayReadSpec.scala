package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, Layout, NeoFixture}

/** The gold stage reads only its day's silver partition: its cost does
  * not grow with the number of silver partitions, and the day's frame is
  * the whole-table read filtered to the day (SURVEY.md S4).
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
}
