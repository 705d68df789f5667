package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, Layout, NeoFixture}

/** A steady-state gold day compiles nothing: the daily stage's plans are
  * the same every day, so once a merging day has run, the session's
  * generated-class cache serves every whole-stage class of the next
  * one.
  */
class GoldDayCodegenSpec extends AnyFunSuite with SparkSpec {

  test("a repeat gold day runs no Janino compile") {
    val layout = Layout(Files.createTempDirectory("graft-codegen").toString)
    def silver(date: String, doc: String): Unit = {
      BronzeIngest.writeRaw(spark, layout, date, doc)
      BronzeToSilver.run(spark, layout, date)
    }
    // day 1 creates the gold tables, day 2 is the first merging day
    Seq(NeoFixture.day1Date -> NeoFixture.day1,
      NeoFixture.day2Date -> NeoFixture.day2).foreach { case (date, doc) =>
      silver(date, doc)
      SilverToGold.run(spark, layout, date)
    }
    silver(NeoFixture.day3Date, NeoFixture.day3)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    SilverToGold.run(spark, layout, NeoFixture.day3Date)
    assert(compiles.getCount - before === 0)
  }
}
