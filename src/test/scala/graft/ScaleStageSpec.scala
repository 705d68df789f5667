package graft

import java.nio.file.{Files, LinkOption, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.ScaleStage

/** [[ScaleStage]] at k = 2 over sf0.001: replicated tables double with
  * their schema and key uniqueness intact, orders ⋈ lineitem doubles,
  * dimension tables read as the source, and the staged directory is
  * written once.
  */
class ScaleStageSpec extends AnyFunSuite with SparkSpec
    with BeforeAndAfterAll {

  // the staged directory is named after the source directory, so a
  // uniquely named link to sf0.001 gives this run its own stage dir
  private val tmp = Files.createTempDirectory("scale-stage-spec")
  private val src = Files.createSymbolicLink(
    tmp.resolve(s"sf_spec_${System.nanoTime()}"),
    Paths.get("/root/testdata/sf0.001")).toString
  private lazy val staged = ScaleStage.stage(spark, src, 2)

  override def afterAll(): Unit = {
    StageDirs.deleteRecursively(staged)
    StageDirs.deleteRecursively(tmp.toString)
    super.afterAll()
  }

  private def read(dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private val keys = Seq("documents" -> "doc_id", "embeddings" -> "vec_id",
    "events" -> "event_id", "events" -> "user_id",
    "orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  test("replicated tables hold 2x the rows with the source schema") {
    for (table <- keys.map(_._1).distinct) {
      val (a, b) = (read(src, table), read(staged, table))
      assert(b.count() === 2 * a.count(), table)
      assert(b.schema.map(f => (f.name, f.dataType)) ===
        a.schema.map(f => (f.name, f.dataType)), table)
    }
  }

  test("key columns are distinct across copies") {
    for ((table, key) <- keys) {
      val distinct = (dir: String) =>
        read(dir, table).select(key).distinct().count()
      assert(distinct(staged) === 2 * distinct(src), s"$table.$key")
    }
  }

  test("orders join lineitem on the order key at 2x the source count") {
    def joined(dir: String): Long =
      read(dir, "orders").join(read(dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey")).count()
    val n = joined(src)
    assert(n > 0)
    assert(joined(staged) === 2 * n)
  }

  test("symlinked tables read equal to the source") {
    for (table <- Seq("region", "nation", "customer", "supplier", "part")) {
      assert(Files.isSymbolicLink(Paths.get(staged, s"$table.parquet")))
      assert(sameRows(read(staged, table), read(src, table)), table)
    }
  }

  test("a second call reuses the marked directory without rewriting") {
    def mtimes(): Map[Path, Long] =
      Files.walk(Paths.get(staged)).iterator.asScala.map(p =>
        p -> Files.getLastModifiedTime(p, LinkOption.NOFOLLOW_LINKS)
          .toMillis).toMap
    assert(Files.exists(Paths.get(staged, "_STAGED")))
    val before = mtimes()
    assert(ScaleStage.stage(spark, src, 2) === staged)
    assert(mtimes() === before)
  }

  test("k = 1 returns the source directory") {
    assert(ScaleStage.stage(spark, src, 1) === src)
  }
}
