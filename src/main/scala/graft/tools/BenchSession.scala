package graft.tools

import org.apache.spark.sql.SparkSession

/** The bench-protocol session, shared by [[graft.Bench]] and the
  * measurement probes (CanaryProbe, SpotBench, ExplainDump,
  * StreamProgressProbe, JobCountProbe): [[graft.Graft.sessionConf]] plus
  * one bench-only addition, applied last: SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
  * (dev-only A/B hook; no benchmark or gate sets it), folded after
  * everything else so env-provided keys always win.
  */
object BenchSession {
  def builder(cpus: String): SparkSession.Builder = {
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect {
        case Array(k, v) => (k, v) }
    extra.foldLeft(graft.Graft.sessionBuilder(s"local[$cpus]", "graft-bench")) {
      case (b, (k, v)) => b.config(k, v) }
  }
}
