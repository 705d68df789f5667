package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clusters, Fixpoint}

/** Pins [[Fixpoint]]: a truncation is one job that returns its input
  * unchanged, a rolling truncation keeps one slot on disk, the driver
  * budget alone picks a mirror or the distributed rounds, and no
  * operator writes its own round-trip.
  */
class FixpointSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def scratch(tag: String): Path = Files.createTempDirectory(tag)

  test("a truncation is one job and returns its input's rows, names " +
    "and types") {
    val df = Seq((1L, "a", Seq("x", "y"), BigDecimal("1.50")),
        (2L, null, Seq.empty[String], BigDecimal("-3.25")))
      .toDF("id", "s", "toks", "amt")
    val dir = scratch("fixpoint-one")
    try {
      var out: DataFrame = null
      var observed = Map.empty[String, Any]
      assert(launched { out = Fixpoint.truncate(df, s"$dir/plain") }
        .jobs === 1)
      assert(launched {
        observed = Fixpoint.truncateObserving(df, s"$dir/observed",
          count(lit(1)).as("n"), sum(col("id")).as("s"))._2
      }.jobs === 1)
      assert(observed === Map("n" -> 2L, "s" -> 3L))
      assert(out.schema.map(f => (f.name, f.dataType)) ===
        df.schema.map(f => (f.name, f.dataType)))
      assert(out.collect().toSet === df.collect().toSet)
    } finally StageDirs.deleteRecursively(dir.toString)
  }

  test("after three rolling rounds only the last slot is on disk") {
    val dir = scratch("fixpoint-rolling")
    try {
      val slots = new Fixpoint.Rolling(dir.toString, "s")
      var cur = spark.range(5).toDF("id")
      for (i <- 0 until 3)
        cur = slots(cur.select((col("id") + 1).as("id")), i)
      assert(Files.list(dir).iterator.asScala
        .map(_.getFileName.toString).toSet === Set("s_2"))
      assert(cur.collect().map(_.getLong(0)).toSet === (3L until 8L).toSet)
      slots.close()
      assert(Files.list(dir).count() === 0L)
    } finally StageDirs.deleteRecursively(dir.toString)
  }

  test("the driver budget alone picks the mirror or the round jobs " +
    "(CC, kCore, logit fit)") {
    def jobs(budget: Long)(body: => Unit): Int =
      Fixpoint.withDriverBudget(budget)(launched(body)).jobs
    def chain(n: Long) = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    def cc(n: Long): Unit =
      Clusters.connectedComponents(chain(n), "a", "b").collect()
    val peel = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 10L), (10L, 11L),
      (11L, 12L)).toDF("a", "b")
    def kCore(rounds: Int): Unit =
      Clusters.kCore(peel, "a", "b", k = 2, rounds = rounds).collect()
    val labeled = (0L until 200L)
      .map(f => (f, if (f >= 100L) 1L else 0L, true)).toDF("f", "y", "in_fit")
    def fit(iters: Int): Unit =
      operators.TextQueries.fitLogisticGd(labeled, Seq("f"), iters = iters).collect()
    // (operator, few rounds, more rounds, how many more)
    val cases = Seq[(String, () => Unit, () => Unit, Int)](
      ("cc", () => cc(3), () => cc(9), 6),
      ("kCore", () => kCore(1), () => kCore(4), 3),
      ("logit", () => fit(1), () => fit(4), 3))
    cases.foreach { case (name, few, more, extra) =>
      // below the estimate: every extra round launches its own job(s)
      assert(jobs(0)(more()) >= jobs(0)(few()) + extra, name)
      // above it: the mirror's job count does not depend on the rounds
      assert(jobs(Long.MaxValue)(more()) === jobs(Long.MaxValue)(few()),
        name)
    }
  }

  test("only Fixpoint and the table writers write overwrite-parquet " +
    "in src/main") {
    val needle = """.write.mode("overwrite").parquet("""
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root missing")
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(needle))
      .map(_.getFileName.toString).toSet
    assert(hits === Set("Fixpoint.scala", "VersionedTable.scala",
      "ScaleStage.scala", "StreamGateQueries.scala"))
  }
}
