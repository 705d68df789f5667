package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.sources.{BronzeIngest, Layout, NeoFixture}

/** End-to-end medallion pipeline over the fixture feed documents
  * (FIXTURES.md §1): bronze ingest → silver flatten → gold star schema,
  * including the day-2 incremental merge and idempotent re-runs.
  */
class NeoPipelineSpec extends AnyFunSuite with SparkSpec
    with BeforeAndAfterAll {

  private lazy val base =
    Files.createTempDirectory("graft-neo").toString
  private lazy val layout = Layout(base)

  /** Runs the three stages for `date`; returns the `n_rows` of the
    * profile the silver stage returned, read before the next day runs.
    */
  private def runDay(date: String, doc: String): Long = {
    BronzeIngest.writeRaw(spark, layout, date, doc)
    val profiled =
      BronzeToSilver.run(spark, layout, date).first().getAs[Long]("n_rows")
    SilverToGold.run(spark, layout, date)
    profiled
  }

  // day 1's and day 2's profiled n_rows
  private lazy val profiledRows: (Long, Long) =
    (runDay(NeoFixture.day1Date, NeoFixture.day1),
      runDay(NeoFixture.day2Date, NeoFixture.day2))

  private def pipelineRan: Unit = { profiledRows; () }

  // drop the served views' pinned copies once the suite is done
  override def afterAll(): Unit = spark.catalog.clearCache()

  private def gold(name: String) = {
    pipelineRan
    spark.read.parquet(layout.gold(name))
  }

  test("silver date filter prunes to one partition (SURVEY S4)") {
    pipelineRan
    val df = spark.read.parquet(layout.silverAsteroids)
      .filter(col("approach_date") === NeoFixture.day1Date)
    // the date predicate must land in PartitionFilters (file pruning),
    // not in the post-scan data filter
    val plan = df.queryExecution.executedPlan.toString
    val pf = raw"PartitionFilters: \[[^\]]*${NeoFixture.day1Date}[^\]]*\]".r
    assert(pf.findFirstIn(plan).isDefined, s"plan:\n$plan")
  }

  test("schema-inference read flattens to identical silver (SURVEY §7.4)") {
    pipelineRan
    val path = layout.bronzeFile(NeoFixture.day1Date)
    val explicit = spark.read.schema(graft.sources.NeoSchema.feed)
      .option("multiLine", "true").json(path)
    val inferred = spark.read.option("multiLine", "true").json(path)
    val a = BronzeToSilver.flatten(explicit)
    val b = BronzeToSilver.flattenInferredDay(inferred, NeoFixture.day1Date)
    assert(a.schema.map(f => (f.name, f.dataType)) ===
      b.schema.map(f => (f.name, f.dataType)))
    assert(a.collect().map(_.toSeq).toSet === b.collect().map(_.toSeq).toSet)
  }

  test("silver: explode fan-out and 27-column typed schema") {
    pipelineRan
    val silver = spark.read.parquet(layout.silverAsteroids)
    // day1: 1 + 2 + 1 + 0 approaches; day2: 1 + 2
    assert(silver.count() === 7)
    assert(silver.columns.length === 27)
    val types = silver.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("id") === "integer")
    assert(types("is_hazardous") === "boolean")
    assert(types("velocity_km_s") === "double")
    assert(types("miss_km") === "double")
    assert(types("orbiting_body") === "string")
  }

  test("silver: placeholder strings normalized to real nulls") {
    pipelineRan
    val silver = spark.read.parquet(layout.silverAsteroids)
    val row = silver.filter(col("id") === 3726710).collect().head
    assert(row.getAs[String]("name") == null)            // "NULL" sentinel
    assert(row.getAs[String]("orbiting_body") === "Earth") // "  Earth  " trimmed
    assert(row.getAs[String]("approach_date_full") == null)
    val eros = silver.filter(col("id") === 2000433 &&
      col("orbiting_body").isNull)
    assert(eros.count() === 1)                           // "Null" sentinel
  }

  test("bronze_to_silver profiles the day it flattened, not all of silver") {
    val day2Rows = profiledRows._2
    val day2Flat = BronzeToSilver.flatten(
      spark.read.schema(graft.sources.NeoSchema.feed)
        .option("multiLine", "true")
        .json(layout.bronzeFile(NeoFixture.day2Date))).count()
    assert(day2Rows === day2Flat)
    assert(day2Flat < spark.read.parquet(layout.silverAsteroids).count())
  }

  test("gold dims: dedup by natural key across days") {
    assert(gold("dim_asteroid").count() === 4)  // Apophis observed twice
    assert(gold("dim_asteroid").filter(col("id") === 2099942).count() === 1)
    // bodies: Earth, Venus (placeholder "Null" row dropped by na.drop)
    assert(gold("dim_orbiting_body").select("orbiting_body")
      .collect().map(_.getString(0)).toSet === Set("Earth", "Venus"))
    // date dim: 6 distinct non-null approach_date_full values
    assert(gold("dim_approach_date").count() === 6)
  }

  test("gold dim_approach_date: yyyy-MMM-dd HH:mm parsing + date parts") {
    val d = gold("dim_approach_date")
      .filter(col("approach_date_full") === "2026-Aug-12 07:31")
      .collect().head
    assert(d.getAs[java.sql.Date]("approach_date").toString === "2026-08-12")
    assert(d.getAs[Int]("year") === 2026)
    assert(d.getAs[Int]("month") === 8)
    assert(d.getAs[Int]("day") === 12)
    assert(d.getAs[Int]("hour") === 7)
    assert(d.getAs[Int]("minute") === 31)
    assert(d.getAs[Int]("week_of_year") === 33)
  }

  test("gold fact: FK integrity modulo the two reference SK quirks") {
    val fact = gold("fact_asteroid_approach")
    assert(fact.count() === 7)
    val dimA = gold("dim_asteroid").select(col("sk_asteroid"))
    val dimD = gold("dim_approach_date").select(col("sk_approach_date"))
    val dimB = gold("dim_orbiting_body").select(col("sk_orbiting_body"))
    // sha256 of "" — what concat_ws("||", null) hashes to (quirk 2)
    val emptySk =
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    // every SK resolves to its dimension, except the documented quirks
    assert(fact.filter(col("sk_asteroid").isNotNull)
      .join(dimA, Seq("sk_asteroid"), "left_anti").count() === 0)
    assert(fact.filter(col("sk_approach_date") =!= emptySk)
      .join(dimD, Seq("sk_approach_date"), "left_anti").count() === 0)
    assert(fact.filter(col("sk_orbiting_body").isNotNull)
      .join(dimB, Seq("sk_orbiting_body"), "left_anti").count() === 0)
    // quirk 1: null orbiting_body → sha2(null) = null SK
    assert(fact.filter(col("sk_orbiting_body").isNull).count() === 1)
    // quirk 2: null approach_date_full → sha2("") dangling SK, not null
    assert(fact.filter(col("sk_approach_date") === emptySk).count() === 1)
  }

  test("gold: sha2 surrogate keys are the documented hash") {
    import java.security.MessageDigest
    def sha(s: String) = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val apophis = gold("dim_asteroid")
      .filter(col("id") === 2099942).collect().head
    assert(apophis.getAs[String]("sk_asteroid") === sha("2099942"))
  }

  test("pipeline re-run is idempotent") {
    pipelineRan
    val before = SilverToGold.tables.map { case (n, _, _) =>
      n -> gold(n).count()
    }.toMap
    runDay(NeoFixture.day2Date, NeoFixture.day2)
    before.foreach { case (n, c) =>
      assert(spark.read.parquet(layout.gold(n)).count() === c, n)
    }
  }

  test("serving: gold tables answer SQL through temp views") {
    pipelineRan
    SilverToGold.registerServingViews(spark, layout)
    val top = spark.sql(
      """SELECT a.name, f.miss_km
        |FROM fact_asteroid_approach f
        |JOIN dim_asteroid a USING (sk_asteroid)
        |ORDER BY f.miss_km ASC LIMIT 1""".stripMargin).collect().head
    assert(top.getString(0) == null) // closest approach is the "NULL"-named NEO
    assert(top.getDouble(1) === 5.0e6)
  }
}
