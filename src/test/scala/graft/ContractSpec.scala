package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators._

/** Driver-contract invariants: the flagship entry returns rows, every
  * declared query is oracle-checked (or explicitly allowlisted
  * rows-only), no orphaned oracle SQL, and no name collisions across
  * operator modules — `Map ++` would silently drop a query if two
  * modules reused a key.
  */
class ContractSpec extends AnyFunSuite with SparkSpec {

  // empty since round 7: q_profile_approx became oracle-gated by
  // reducing each engine's own sketch-vs-exact check to booleans
  private val rowsOnlyAllowlist = Set.empty[String]

  test("every query has oracle SQL or a documented rows-only waiver") {
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- rowsOnlyAllowlist
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("the flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no orphaned oracle SQL") {
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without queries: $orphaned")
  }

  test("no query-name collisions across modules") {
    val modules = Seq(
      "relational" -> RelationalQueries.queries.keySet,
      "text" -> TextQueries.queries.keySet,
      "vector" -> VectorQueries.queries.keySet,
      "events" -> EventQueries.queries.keySet,
      "multimodal" -> Multimodal.queries.keySet,
      "curation" -> Curation.queries.keySet,
      "winnow" -> Winnow.queries.keySet,
      "chunking" -> Chunking.queries.keySet,
      "neo" -> NeoQueries.queries.keySet,
      "hierarchy" -> Hierarchy.queries.keySet,
      "association" -> Association.queries.keySet,
      "experiments" -> Experiments.queries.keySet,
      "textrank" -> TextRank.queries.keySet,
      "search" -> Search.queries.keySet,
      "lifecycle" -> Lifecycle.queries.keySet,
      "sql_surface" -> SqlSurface.queries.keySet,
      "privacy" -> Privacy.queries.keySet,
      "sketches" -> Sketches.queries.keySet,
      "features" -> Features.queries.keySet,
      "ops_gate" -> OpsGate.queries.keySet,
      "countmin" -> CountMin.queries.keySet,
      "calibration" -> Calibration.queries.keySet,
      "zorder" -> ZOrder.queries.keySet,
      "stream_gate" -> graft.streaming.StreamGateQueries.queries.keySet)
    val perModule = modules.map(_._2.size).sum
    assert(SparkEntry.queries.size === perModule,
      s"merged ${SparkEntry.queries.size} != sum $perModule — a key collision dropped a query")
    for {
      (na, a) <- modules; (nb, b) <- modules if na < nb
    } assert(a.intersect(b).isEmpty, s"$na ∩ $nb = ${a.intersect(b)}")
  }
}
