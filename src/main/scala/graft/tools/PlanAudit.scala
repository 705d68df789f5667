package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

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
  *
  * Usage: `runMain graft.tools.PlanAudit <sf-dir> [<out-dir>]`. With an
  * out-dir it also writes each query's `.explain("formatted")` to
  * `<out-dir>/<query>.txt` — the before/after plan evidence an
  * optimization commits (`plans/rNN/`). `SPARK_GRAFT_ONLY=q_a,q_b`
  * audits only those queries. Fixpoint and stream queries EXECUTE their
  * loop jobs while the returned frame is built; the plan is that of the
  * returned frame, the one the oracle sees.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Graft.newSession(s"local[$cpus]", "graft-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    outDir.foreach(d => Files.createDirectories(Paths.get(d)))

    def countIn(plan: String, marker: String): Int =
      marker.r.findAllMatchIn(plan).size

    println(Seq("query", "exchanges", "bhj", "smj", "bnlj", "window",
      "codegen_spans", "sorts").mkString("\t"))
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          val qe = fn(spark, sfDir).queryExecution
          val plan = qe.executedPlan.toString
          outDir.foreach(d => Files.writeString(Paths.get(d, s"$name.txt"),
            qe.explainString(ExplainMode.fromString("formatted"))))
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
