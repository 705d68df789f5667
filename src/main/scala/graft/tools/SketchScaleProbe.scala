package graft.tools

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{CountMin, Dedup, ZOrder}

/** Dev-only scale rehearsal for the round-11 sketch/evaluation tier:
  * replicate documents / events / lineitem at N× with offset ids and
  * re-run the tier's corpus-sized stages. The claims under test:
  *
  *   - the CMS build cost follows the corpus ~linearly while the
  *     SKETCH stays ≤ DEPTH·WIDTH rows at any multiplier (state does
  *     not scale with data);
  *   - zone maps follow the same rule (bucket count is fixed by the
  *     key space, not the row count);
  *   - the dup-aware sample's fp-keyed size attach survives the
  *     WORST-case dup structure (replicas make every doc an exact
  *     N-plicate, so every cluster is size N — kept must collapse to
  *     ≈ one survivor per cluster instead of blowing up).
  */
object SketchScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULT", "10").toInt
    val spark = graft.Graft.newSession("local[32]", "graft-sketch-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[sketchscale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }

    def docsX(m: Int) = {
      val base = Tables.load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      (0 until m).map(i => base.select(
          (col("doc_id") + lit(i.toLong * 10_000_000L)).as("doc_id"),
          col("source"), col("text")))
        .reduce(_ unionAll _).repartition(32)
    }
    def eventsX(m: Int) = {
      val base = Tables.load(spark, dir, "events").select(col("user_id"))
      (0 until m).map(i => base.select(
          (col("user_id") + lit(i.toLong * 10_000_000L)).as("user_id")))
        .reduce(_ unionAll _).repartition(32)
    }
    def lineitemX(m: Int) = {
      val base = Tables.load(spark, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_orderkey"))
      (0 until m).map(i => base.select(col("l_partkey"), col("l_suppkey"),
          (col("l_orderkey") + lit(i.toLong * 100_000_000L))
            .as("l_orderkey")))
        .reduce(_ unionAll _).repartition(32)
    }

    for (m <- Seq(1, mult)) {
      println(s"[sketchscale] ── multiplier x$m ──")
      val d = docsX(m).cache(); d.count()
      val e = eventsX(m).cache(); e.count()
      val li = lineitemX(m).cache(); li.count()

      // CMS token sketch: corpus-sized build, fixed-size output
      time(s"cms token sketch x$m") {
        d.select(explode(TextFunctions.tokens(lower(col("text"))))
            .as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .select(col("cnt"),
            CountMin.cellsExploded(col("tok"), CountMin.TOKEN_WIDTH)
              .as("dc"))
          .groupBy(col("dc.d"), col("dc.cell"))
          .agg(sum(col("cnt"))).count()
      }

      // CMS join-size sketch over events
      time(s"cms join sketch x$m") {
        e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .select(col("n"), CountMin.cellsExploded(
            col("user_id").cast("string"), CountMin.JOIN_WIDTH).as("dc"))
          .groupBy(col("dc.d"), col("dc.cell"))
          .agg(sum(col("n"))).count()
      }

      // zone maps: bucket count fixed by the key space
      time(s"zone maps x$m") {
        li.select(col("l_partkey").as("x"), col("l_suppkey").as("y"),
            shiftright(ZOrder.zValue(col("l_partkey"), col("l_suppkey")),
              ZOrder.LAYOUT_SHIFT).as("b"))
          .groupBy(col("b"))
          .agg(count(lit(1)), min(col("x")), max(col("x")),
            min(col("y")), max(col("y"))).count()
      }

      // dup-aware sample under worst-case dup structure: every doc is
      // an exact m-plicate → kept should track #clusters, not #docs
      time(s"dup-aware sample x$m") {
        val dd = d.select(col("doc_id"), col("source"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        val sz = dd.groupBy(col("fp")).agg(count(lit(1)).as("fsz"))
        val kept = dd.join(sz, Seq("fp"))
          .withColumn("h", Dedup.hash32(41, col("doc_id").cast("string"))
            % 1000000)
          .filter(col("h") * col("fsz") < lit(1000000L))
          .agg(count(lit(1))).collect()(0).getLong(0)
        println(s"[sketchscale]   kept=$kept of ${d.count()} docs" +
          s" (clusters=${sz.count()})")
        kept
      }

      d.unpersist(); e.unpersist(); li.unpersist()
    }
    spark.stop()
  }
}
