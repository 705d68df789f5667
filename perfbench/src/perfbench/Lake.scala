package perfbench

import java.nio.file.Paths
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.etl.{BronzeToSilver, SilverToGold}
import graft.operators.MergeUpsert
import graft.sources.{BronzeIngest, Layout, NeoSchema}
import graft.tools.PipelineRunner

/** The medallion lake both lake workloads stand on, built from a seeded
  * feed through the program's public stage functions.
  */
final class Lake(val run: Run) {
  import Lake._

  val spark: SparkSession = run.spark
  val gen = new FeedGen(run.opts.seed)
  val base: String = Paths.get(run.opts.work, "lake").toAbsolutePath.toString
  val layout: Layout = Layout(base)
  private def tracer = run.tracer

  def backlogDates: Seq[String] =
    (0 until BacklogDays).map(i => FirstDay.plusDays(i).toString)

  /** Day `i` after the backlog. Set-up runs day 0, so the gold tables
    * every workload reads were last committed by the daily stage.
    */
  def newDay(i: Int): String = FirstDay.plusDays(BacklogDays + i).toString

  /** The backlog, ingested the way a backfill would fetch it:
    *   - bronze: one raw feed document per week (the NeoWs feed serves
    *     ranges of up to seven days), generated in parallel and written
    *     with the bronze ingest's raw write;
    *   - silver: the stage's flatten over every bronze document, written
    *     with the stage's date partitioning (a plain write: the lake is
    *     empty, so there is nothing to overwrite dynamically);
    *   - gold: each table built from all of silver by `SilverToGold.tables`
    *     and committed with `MergeUpsert.saveOrUpdate`.
    * Set-up then runs day 0 through `PipelineRunner.runRange`, which
    * rewrites every gold table, so the gold both workloads read has the
    * layout the daily stage writes.
    */
  def buildBacklog(): Unit = {
    import scala.collection.parallel.CollectionConverters._
    val weeks = backlogDates.grouped(7).toIndexedSeq
    val docs = weeks.par.map(w => gen.fetcher.fetch(w.head, w.last)).seq
    run.mark("generate")
    weeks.zip(docs).foreach { case (w, doc) =>
      tracer.span("sources.ingest")(
        BronzeIngest.writeRaw(spark, layout, w.head, doc))
    }
    val silver = tracer.span("etl.bronze_to_silver") {
      val feed = spark.read.schema(NeoSchema.feed).option("multiLine", "true")
        .json(s"$base/bronze/JSON")
      val silver = BronzeToSilver.flatten(feed).cache()
      silver.write.partitionBy("approach_date").parquet(layout.silverAsteroids)
      silver
    }
    tracer.addToLast("partitions_seen", silverPartitions().toDouble)
    run.mark("silver")
    val before = goldListing()
    tracer.span("etl.silver_to_gold") {
      SilverToGold.tables.foreach { case (name, build, keys) =>
        val rows = build(silver)
        // the fact repeats a key across days; keep the latest approach
        // per key, as daily merges do
        val unique =
          if (latestFirst(rows).nonEmpty) latestPerKey(rows, keys) else rows
        MergeUpsert.saveOrUpdate(spark, unique, layout.gold(name), keys)
      }
    }
    noteGoldRewrite(before)
    run.mark("gold")
    silver.unpersist()
  }

  /** One pipeline day as the reference schedules it. Untraced it is one
    * `runRange` call with no retries; traced, the three stages are called
    * one by one, each in its own span.
    */
  def runDay(date: String): Unit =
    if (!tracer.isAttached)
      PipelineRunner.runRange(spark, layout, Seq(date), gen.fetcher,
        PipelineRunner.RetryPolicy(retries = 0))
    else tracer.span("op.day") {
      tracer.span("sources.ingest")(
        BronzeIngest.ingest(spark, layout, date, gen.fetcher))
      tracer.span("etl.bronze_to_silver")(
        BronzeToSilver.run(spark, layout, date))
      tracer.addToLast("partitions_seen", silverPartitions().toDouble)
      val before = goldListing()
      tracer.span("etl.silver_to_gold")(SilverToGold.run(spark, layout, date))
      noteGoldRewrite(before)
    }

  def serve(): Unit = tracer.span("graft.serve")(Graft.serve(spark, base))

  /** Plan then execute one SQL text; the two halves are separate spans. */
  def query(text: String): Array[Row] = tracer.span("op.query") {
    val df = tracer.span("spark_sql.plan") {
      val df = spark.sql(text)
      df.queryExecution.executedPlan
      tracer.notePlan(df.queryExecution)
      df
    }
    tracer.span("spark_sql.execute")(df.collect())
  }

  def listing(): Map[String, Stats.FileId] = Stats.listing(Paths.get(base))
  private def goldListing() = Stats.listing(Paths.get(base, "gold"))

  private def noteGoldRewrite(before: Map[String, Stats.FileId]): Unit =
    if (tracer.isAttached) {
      val after = goldListing()
      tracer.addToLast("gold_written_bytes",
        Stats.bytesWritten(before, after).toDouble)
      tracer.addToLast("gold_net_bytes",
        (Stats.totalBytes(after) - Stats.totalBytes(before)).toDouble)
    }

  def silverPartitions(): Int = {
    val dir = new java.io.File(layout.silverAsteroids)
    Option(dir.listFiles()).map(_.count(f =>
      f.isDirectory && f.getName.startsWith("approach_date="))).getOrElse(0)
  }

  /** (silver + gold bytes) / bronze bytes on disk. */
  def spaceAmp(): Double = {
    def bytes(sub: String) = Stats.totalBytes(Stats.listing(Paths.get(base, sub)))
    (bytes("silver") + bytes("gold")).toDouble / bytes("bronze")
  }

  /** Fact rows the gold star should join to `date` once it has run: one
    * per (asteroid, approach time) with a non-null approach time.
    */
  def expectedDayRows(date: String): Long =
    gen.neos(date).flatMap(n => n.approaches.flatMap(a =>
      a.dateFull.map(f => (n.id, f)))).distinct.size.toLong

  def dayRowsQuery(date: String): String =
    s"""SELECT count(*) AS n FROM fact_asteroid_approach f
       |JOIN dim_approach_date d ON f.sk_approach_date = d.sk_approach_date
       |WHERE d.approach_date = DATE'$date'""".stripMargin

  /** Replace the served gold views with views rebuilt from all of silver
    * by the `SilverToGold` builders, the fact keeping its latest approach
    * per key, so the same SQL text answers from silver.
    */
  def serveFromSilver(): Unit = {
    // read once: every table is built from it
    val silver = spark.read.parquet(layout.silverAsteroids).cache()
    SilverToGold.tables.foreach { case (name, build, keys) =>
      latestPerKey(build(silver), keys).cache().createOrReplaceTempView(name)
    }
  }

  /** Output checks of the whole lake: (name, passed). Gold is small, so
    * each table is scanned once and compared on the driver.
    */
  def lakeChecks(): Seq[(String, Boolean)] = {
    val silver = spark.read.parquet(layout.silverAsteroids)
    def keysOf(rows: Seq[Row], keyAt: Seq[Int]) = rows.map(r => keyAt.map(r.get))
    val gold = SilverToGold.tables.map { case (name, _, keys) =>
      val df = spark.read.parquet(layout.gold(name))
      name -> (df.columns.toSeq, df.collect().toSeq)
    }.toMap
    def keyAt(name: String, keys: Seq[String]) = keys.map(gold(name)._1.indexOf(_))
    val onePerKey = SilverToGold.tables.map { case (name, _, keys) =>
      val rows = gold(name)._2
      s"$name has one row per key" ->
        (keysOf(rows, keyAt(name, keys)).distinct.size == rows.size)
    }
    val (dimColumns, dimRows) = gold("dim_asteroid")
    val dimRef = SilverToGold.dimAsteroid(silver).select(dimColumns.map(col): _*)
    val factKeys = Seq("sk_asteroid", "sk_approach_date")
    val refKeys = SilverToGold.factApproach(silver).select(factKeys.map(col): _*)
    val goldKeys = keysOf(gold("fact_asteroid_approach")._2,
      keyAt("fact_asteroid_approach", factKeys))
    onePerKey ++ Seq(
      "dim_asteroid equals dimAsteroid(silver)" ->
        sameRows(dimRows, dimRef.collect().toSeq),
      "fact key set equals factApproach(silver) key set" ->
        (goldKeys.toSet == keysOf(refKeys.collect().toSeq, factKeys.indices).toSet))
  }
}

object Lake {
  val BacklogDays = 90
  val FirstDay: LocalDate = LocalDate.parse("2025-01-01")

  private def latestFirst(rows: DataFrame) =
    if (rows.columns.contains("approach_epoch"))
      Seq(col("approach_epoch").desc)
    else Nil

  /** One row per key, keeping the latest approach where rows carry one. */
  def latestPerKey(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy((latestFirst(rows) :+ xxhash64(rows.columns.map(col): _*).asc): _*)
    rows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Equal as multisets of rows. */
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean = {
    def counts(rows: Seq[Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    a.size == b.size && counts(a) == counts(b)
  }
}
