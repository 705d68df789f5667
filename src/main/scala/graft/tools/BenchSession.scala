package graft.tools

import org.apache.spark.sql.SparkSession

/** The bench-protocol session, shared by [[graft.Bench]] and the
  * measurement probes (CanaryProbe, SpotBench, ExplainDump,
  * StreamProgressProbe, JobCountProbe): [[graft.Graft.sessionConf]] plus
  * exactly two bench-only additions, applied last:
  *   - a generated-class cache big enough for the board (r16: the
  *     default LRU of 100 entries thrashed at 386 queries, so every rep
  *     re-compiled every whole-stage fragment). Keyed on plan source
  *     text, never data;
  *   - SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (dev-only A/B hook; no benchmark
  *     or gate sets it), folded after everything else so env-provided
  *     keys always win.
  */
object BenchSession {
  def builder(cpus: String): SparkSession.Builder = {
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2)).collect {
        case Array(k, v) => (k, v) }
    val base = graft.Graft.sessionBuilder(s"local[$cpus]", "graft-bench")
      .config("spark.sql.codegen.cache.maxEntries", "20000")
    extra.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
  }
}
