package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

/** Stages a ×k copy of a testdata directory, so any gated query runs at
  * scale through the unchanged [[graft.Bench]]:
  *
  * {{{
  *   sbt "runMain graft.tools.ScaleStage <sf-dir> 10"
  *   SPARK_GRAFT_SF_DIR=<printed dir> SPARK_GRAFT_ONLY=q_a,q_b \
  *     sbt "runMain graft.Bench"
  * }}}
  *
  * Each fact table becomes the union of k copies; copy `i` adds
  * `i · 10⁸` to the table's key columns, so copies never share a key
  * (every key is int64 and below 10⁸ at the generated SFs) and
  * orders ⋈ lineitem still joins within each copy. The dimension tables
  * are symlinked at ×1. Replicas share every non-key value, so dedup
  * and near-dup outputs grow by construction: wall time is the signal,
  * not row counts.
  */
object ScaleStage {

  private val keyOffset = 100_000_000L

  /** Replicated table → the key columns offset per copy. */
  private val replicated: Seq[(String, Seq[String])] = Seq(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"),
    "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey"))

  private val linked =
    Seq("region", "nation", "customer", "supplier", "part")

  /** The ×k directory for `sfDir`: `sfDir` itself at k = 1, else
    * `StageDirs.stable("scale/<sf>_x<k>")`, staged once through
    * [[graft.StageDirs.stageOnce]] and reused by later calls. The links
    * are `java.nio` symlinks, so the stage base must be local.
    */
  def stage(spark: SparkSession, sfDir: String, k: Int): String = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (k == 1) return sfDir
    val sfName = Paths.get(sfDir).getFileName
    graft.StageDirs.stageOnce(s"scale/${sfName}_x$k") { out =>
      for ((table, keys) <- replicated) {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        (0 until k).map { i =>
          keys.foldLeft(base)((df, c) =>
            df.withColumn(c, col(c) + lit(i * keyOffset)))
        }.reduce(_ unionAll _)
          .repartition(32)
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
      }
      for (table <- linked)
        Files.createSymbolicLink(Paths.get(out, s"$table.parquet"),
          Paths.get(sfDir, s"$table.parquet").toAbsolutePath)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleStage <sf-dir> <k>")
    val spark = graft.Graft.newSession("local[*]", "graft-scale-stage")
    spark.sparkContext.setLogLevel("WARN")
    try println(stage(spark, args(0), args(1).toInt))
    finally spark.stop()
  }
}
