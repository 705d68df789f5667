package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{BronzeToSilver, SilverToGold}
import graft.operators.{DirSwap, VersionedTable}
import graft.sources.{BronzeIngest, Layout, NeoFixture}

/** Opening a table is metadata-only: [[VersionedTable.readParquet]] takes
  * the schema from a parquet footer on the driver instead of Spark's
  * one-job schema inference, and the schema it reads equals the one the
  * inferring read would have given, on the daily gold, after
  * a schema-evolving merge, an optimize and a restore, on a footer with
  * no Spark schema and on the pyarrow-written test tables
  * [[Tables.load]] opens; a session that merges schemas falls back to
  * the inferring read.
  */
class TableOpenSpec extends AnyFunSuite with SparkSpec {

  private lazy val layout = {
    val l = Layout(Files.createTempDirectory("graft-open").toString)
    Seq(NeoFixture.day1Date -> NeoFixture.day1,
      NeoFixture.day2Date -> NeoFixture.day2).foreach { case (date, doc) =>
      BronzeIngest.writeRaw(spark, l, date, doc)
      BronzeToSilver.run(spark, l, date)
      SilverToGold.run(spark, l, date)
    }
    l
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft-open-$name").resolve("t").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** The table's live read and every retained version read the schema
    * (and the rows) of the inferring read of the same directory.
    */
  private def assertSameAsInferred(t: VersionedTable, path: String): Unit = {
    val live = spark.read.parquet(path)
    assert(t.read().schema === live.schema, path)
    assert(rows(t.read()) === rows(live), path)
    t.retainedVersions().foreach { v =>
      val dir = DirSwap.retainedPath(new Path(path), v).toString
      assert(t.readAt(v).schema === spark.read.parquet(dir).schema, s"v$v")
    }
  }

  test("read, readAt and the silver day launch no Spark job") {
    SilverToGold.tables.foreach { case (name, _, _) =>
      val t = VersionedTable(spark, layout.gold(name))
      assert(launched(t.read()).jobs === 0, name)
      val v = t.version()
      assert(v === 2, name)
      assert(launched(t.readAt(v)).jobs === 0, name)
    }
    val path = tmp("retained")
    val t = VersionedTable(spark, path, retain = 2)
    t.overwrite(spark.range(5).toDF("k"))
    t.overwrite(spark.range(7).toDF("k"))
    assert(t.retainedVersions() === Seq(1L))
    assert(launched(t.readAt(1)).jobs === 0)
    assert(launched(
      SilverToGold.silverDay(spark, layout, NeoFixture.day2Date)).jobs === 0)
  }

  // the silver day's schema and rows are pinned by SilverDayReadSpec
  test("gold reads keep the inferring read's schema") {
    SilverToGold.tables.foreach { case (name, _, _) =>
      val path = layout.gold(name)
      assert(VersionedTable(spark, path).read().schema ===
        spark.read.parquet(path).schema, name)
    }
  }

  test("schema evolution, optimize and restore keep the inferring schema") {
    val path = tmp("evolve")
    val t = VersionedTable(spark, path, retain = 4)
    val dim = spark.read.parquet(layout.gold("dim_asteroid"))
    t.overwrite(dim)
    assertSameAsInferred(t, path)
    // incoming with an extra column: the merged table gains it last
    t.merge(dim.limit(1).withColumn("note", lit("re-observed")), Seq("id"))
    assert(t.read().columns.last === "note")
    assertSameAsInferred(t, path)
    t.optimize()
    assertSameAsInferred(t, path)
    t.restore(1)
    assert(!t.read().columns.contains("note"))
    assertSameAsInferred(t, path)
    assert(t.retainedVersions() === Seq(1L, 2L, 3L))
  }

  test("a footer without Spark's schema is converted like the inferring " +
    "read") {
    val dir = tmp("example")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary name (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(dir, "part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try Seq(1L -> "a", 2L -> "b").foreach { case (id, name) =>
      w.write(groups.newGroup().append("id", id).append("name", name))
    } finally w.close()
    // Spark's footer rule converts the parquet schema on the driver
    assert(launched(VersionedTable.readParquet(spark, dir)).jobs === 0)
    val df = VersionedTable.readParquet(spark, dir)
    assert(df.schema === spark.read.parquet(dir).schema)
    assert(rows(df) === Seq("[1,a]", "[2,b]"))
  }

  test("Tables.load opens every test table without a job, with the " +
    "inferring read's schema") {
    val sf = "/root/testdata/sf0.001"
    Tables.all.foreach { name =>
      assert(launched(Tables.load(spark, sf, name)).jobs === 0, name)
      assert(Tables.load(spark, sf, name).schema ===
        spark.read.parquet(s"$sf/$name.parquet").schema, name)
    }
  }

  test("a session that merges schemas falls back to the inferring read") {
    val dir = tmp("merge")
    spark.range(3).toDF("k").write.parquet(dir)
    spark.range(3).toDF("k").withColumn("extra", lit(1))
      .write.mode("append").parquet(dir)
    // without merging, the footer read picks the file Spark's inference
    // picks
    assert(VersionedTable.readParquet(spark, dir).schema ===
      spark.read.parquet(dir).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(launched(VersionedTable.readParquet(spark, dir)).jobs > 0)
      val df = VersionedTable.readParquet(spark, dir)
      assert(df.columns.toSeq === Seq("k", "extra"))
      assert(df.schema === spark.read.parquet(dir).schema)
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }
}
