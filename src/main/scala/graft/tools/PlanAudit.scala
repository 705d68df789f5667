package graft.tools

import graft.SparkEntry

/** Physical-plan inventory over EVERY declared query — the evidence
  * behind the plan-shape claims: per query, count shuffle Exchanges,
  * join strategies, Window funnels, and whole-stage-codegen spans from
  * the planned (pre-execution) physical plan at a small SF. Plan SHAPE
  * is SF-independent (AQE may merge at runtime, never add), so the
  * audit at sf0.001 speaks for the 100 TB plan too.
  *
  * Output: one TSV row per query + an aggregate summary — run per
  * round and diffed, it catches silent regressions PlanShapeSpec's
  * targeted pins don't cover (e.g. a refactor that re-introduces a
  * Window funnel or an accidental BroadcastNestedLoopJoin).
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Graft.newSession(s"local[$cpus]", "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    def countIn(plan: String, marker: String): Int =
      marker.r.findAllMatchIn(plan).size

    println(Seq("query", "exchanges", "bhj", "smj", "bnlj", "window",
      "codegen_spans", "sorts").mkString("\t"))
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          val r = (name,
            countIn(plan, "Exchange hashpartitioning"),
            countIn(plan, "BroadcastHashJoin"),
            countIn(plan, "SortMergeJoin"),
            countIn(plan, "BroadcastNestedLoopJoin"),
            countIn(plan, "\\bWindow \\["),
            // codegen spans print as "*(n)" stage prefixes
            countIn(plan, "\\*\\(\\d+\\)\\s"),
            countIn(plan, "\\bSort \\["))
          println(Seq(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8)
            .mkString("\t"))
          Some(r)
        } catch {
          case e: Throwable =>
            System.err.println(s"[audit] $name failed: ${e.getMessage}")
            None
        }
    }
    val n = rows.size
    def tally(f: ((String, Int, Int, Int, Int, Int, Int, Int)) => Int) =
      rows.map(f).sum
    val zeroEx = rows.count(_._2 == 0)
    val bnlj = rows.filter(_._5 > 0).map(_._1)
    println(f"#SUMMARY queries=$n zero_exchange=$zeroEx " +
      f"total_exchanges=${tally(_._2)} bhj=${tally(_._3)} " +
      f"smj=${tally(_._4)} bnlj_queries=${bnlj.mkString(",")} " +
      f"windows=${tally(_._6)} codegen=${tally(_._7)}")
    spark.stop()
  }
}
