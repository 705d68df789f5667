package graft.tools

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.EventQueries

/** Dev-only event-tier scale rehearsal: replicate the events log with
  * OFFSET user/event ids — replicas are new USERS, which is how an event
  * log actually grows (more users, not deeper per-user histories). Under
  * that axis every event shape here is user-keyed, so the claim under
  * test is: wall time tracks row volume ~linearly, per-user window sizes
  * and attribution pair volumes stay CONSTANT per user, and nothing
  * degenerates to a cross-user fan-out. Backs the PERF.md event-tier
  * scale table.
  */
object EventScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Graft.newSession("local[32]", "graft-event-scale")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val base = Tables.load(spark, dir, "events")
    val ev0 = base.withColumn("ms", Tables.epochMs(base))
      .select("event_id", "user_id", "event_type", "ms", "value")

    def replicate(m: Int) = (0 until m).map(i =>
        ev0.select(
          (col("event_id") + lit(i.toLong << 40)).as("event_id"),
          (col("user_id") + lit(i.toLong * 1000000000L)).as("user_id"),
          col("event_type"), col("ms"), col("value")))
      .reduce(_ unionAll _).repartition(32)

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[evscale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  rows=$n")
    }

    for (m <- Seq(1, 8)) {
      val ev = replicate(m)
      time(s"events x$m")(ev.count())
      time(s"x$m sessionize") {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ms").asc, col("event_id").asc)
        ev.withColumn("prev", lag(col("ms"), 1).over(w))
          .withColumn("new_s", when(col("prev").isNull ||
            col("ms") - col("prev") > 1800000L, 1L).otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid").agg(count(lit(1)).as("n"))
          .count()
      }
      time(s"x$m funnel")(EventQueries.funnelCounts(
        ev.select("user_id", "event_type", "ms"),
        Seq("view", "click", "purchase")).count())
      time(s"x$m attribution pairs") {
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ms").as("p_ms"),
            col("event_id").as("p_id"))
        val t = ev.filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("ms").as("t_ms"),
            col("event_id").as("t_id"))
        p.join(t, "user_id")
          .filter(col("t_ms") <= col("p_ms") &&
            col("p_ms") - col("t_ms") <= 604800000L)
          .count()
      }
    }
    spark.stop()
  }
}
