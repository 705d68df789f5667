package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Recursive-hierarchy operators — the engine's answer to SQL's
  * `WITH RECURSIVE` (org charts, bills of materials, category trees,
  * referral forests), which Spark SQL does not ship.
  *
  * Spark-first design: a sequential parent-walk is O(depth) shuffles and
  * each step touches the whole frontier, so both operators run the
  * LOGARITHMIC formulations instead:
  *
  *   - root/depth resolution by POINTER DOUBLING (Wyllie's list-ranking
  *     jump technique): keep (id, anc, d) where `anc` is the ancestor
  *     reached after d walked steps, and square the jump each round by
  *     self-joining the table on `anc = id`. Roots are absorbing
  *     (anc = self, d = 0), so iterating past convergence is a no-op and
  *     a FIXED round count gives a deterministic plan: [[DOUBLE_ROUNDS]]
  *     rounds resolve any forest of depth ≤ 2^rounds.
  *   - subtree rollup by DOUBLING TRANSITIVE CLOSURE: C ← C ∪ (C ∘ C),
  *     again squaring reachable depth per round. In a forest each node
  *     has exactly one ancestor per depth, so |closure| = Σ depth(v) —
  *     output-bounded, never quadratic in nodes.
  *
  * Both are hash-equi-joins per round (no BNLJ, no driver iteration over
  * collected rows); at 100 TB the frontier stays fully distributed and
  * round count grows with log(depth), not depth.
  *
  * The test forest derives deterministically from the customer table:
  * node = c_custkey, parent(id) = id div 10 for id ≥ 10; ids < 10 are
  * roots. The EDGE TABLE is data (built from customer rows), and the
  * walk is join-based on it — the arithmetic is only the generator, so
  * the operators treat parents exactly as a real edge list. The DuckDB
  * oracles run the same edge table through genuine `WITH RECURSIVE`
  * CTEs, gating the iterative Spark formulation against the textbook
  * sequential semantics.
  */
object Hierarchy {

  /** Pointer-doubling rounds: resolves depth ≤ 2^6 = 64. The generator's
    * parent = id div 10 gives depth ≈ log10(maxkey) — 64 covers key
    * spaces past 10^63; a deeper real-world tree raises this constant
    * (cost is one extra self-join per +1 log2 depth).
    */
  private val DOUBLE_ROUNDS = 6

  /** Closure-doubling rounds: covers proper-ancestor depth ≤ 2^5 = 32. */
  private val CLOSURE_ROUNDS = 5

  /** (id) nodes and (id, par) edges of the synthetic customer forest. */
  private def forest(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ids = Tables.load(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"))
    val edges = ids.filter(col("id") >= 10)
      .select(col("id"), expr("id div 10").as("par"))
    (ids, edges)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── root + depth per node, O(log depth) self-joins ─────────────────
    // succ₀: one jump (the parent edge, or self for roots); each round
    // composes the jump table with itself on anc = id. The jump domain
    // is ids ∪ parents so a dangling parent key (edge to a node with no
    // row) still resolves — it just reads as a root.
    "q_hierarchy_closure" -> { (s, dir) =>
      val (ids, edges) = forest(s, dir)
      val domain = ids
        .union(edges.select(col("par").as("id")))
        .distinct()
      // the jump table is truncated EVERY round ([[Fixpoint]]): the
      // doubling join composes cur with itself, so a chained plan holds
      // 2^round copies of the base subtree — exponential ANALYSIS cost
      // for a log-round algorithm. One node-bounded write per round
      // keeps each round's plan one flat self-join.
      val slots = new Fixpoint.Rolling(
        graft.CacheRegistry.scratch("hier_closure"), "jump")
      var cur = slots(
        domain.join(edges, Seq("id"), "left")
          .select(col("id"), coalesce(col("par"), col("id")).as("anc"),
            when(col("par").isNotNull, 1L).otherwise(0L).as("d")), 0)
      for (i <- 1 to DOUBLE_ROUNDS) {
        val jump = cur.select(col("id").as("j_id"), col("anc").as("j_anc"),
          col("d").as("j_d"))
        cur = slots(
          cur.join(jump, col("anc") === col("j_id"))
            .select(col("id"), col("j_anc").as("anc"),
              (col("d") + col("j_d")).as("d")), i)
      }
      cur.join(ids, Seq("id"), "left_semi") // report customer rows only
        .select(col("id").as("c_custkey"), col("anc").as("root_key"),
          col("d").as("depth"))
    },

    // ── per-ancestor subtree aggregate over the doubled closure ────────
    // Every (node, proper-ancestor) pair once, then one hash aggregate:
    // descendant count, exact balance sum (DECIMAL partials), deepest
    // relative depth. The union can re-derive a (node, anc) pair at two
    // different round compositions, so the closure dedups on the pair —
    // in a forest the pair determines d, so no survivor ambiguity.
    "q_subtree_rollup" -> { (s, dir) =>
      val (_, edges) = forest(s, dir)
      // same per-round truncation as q_hierarchy_closure: the doubling
      // union references cl three times per round, so a chained plan
      // grows 3^round subtrees
      val slots = new Fixpoint.Rolling(
        graft.CacheRegistry.scratch("hier_rollup"), "cl")
      var cl = slots(
        edges.select(col("id").as("node"), col("par").as("anc"),
          lit(1L).as("d")), 0)
      for (i <- 1 to CLOSURE_ROUNDS) {
        val up = cl.select(col("node").as("u_node"), col("anc").as("u_anc"),
          col("d").as("u_d"))
        cl = slots(
          cl.union(
              cl.join(up, col("anc") === col("u_node"))
                .select(col("node"), col("u_anc").as("anc"),
                  (col("d") + col("u_d")).as("d")))
            .dropDuplicates("node", "anc"), i)
      }
      cl.join(
          Tables.load(s, dir, "customer")
            .select(col("c_custkey").cast("long").as("node"),
              col("c_acctbal")),
          Seq("node"))
        .groupBy(col("anc").as("ancestor"))
        .agg(count(lit(1)).as("n_desc"),
          sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
            .as("sum_bal"),
          max(col("d")).as("subtree_depth"))
    })

  val oracle: Map[String, String] = Map(

    "q_hierarchy_closure" ->
      """WITH RECURSIVE ids AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
        |e AS (SELECT id, id // 10 AS par FROM ids WHERE id >= 10),
        |walk AS (
        |  SELECT id, id AS anc, CAST(0 AS BIGINT) AS d FROM ids
        |  UNION ALL
        |  SELECT w.id, e.par, w.d + 1
        |  FROM walk w JOIN e ON w.anc = e.id)
        |SELECT w.id AS c_custkey, w.anc AS root_key, w.d AS depth
        |FROM walk w
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.id = w.anc)""".stripMargin,

    "q_subtree_rollup" ->
      """WITH RECURSIVE e AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |    CAST(c_custkey AS BIGINT) // 10 AS par
        |  FROM customer WHERE c_custkey >= 10),
        |walk AS (
        |  SELECT node, par AS anc, CAST(1 AS BIGINT) AS d FROM e
        |  UNION ALL
        |  SELECT w.node, e.par, w.d + 1
        |  FROM walk w JOIN e ON w.anc = e.node)
        |SELECT w.anc AS ancestor, count(*) AS n_desc,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
        |  max(w.d) AS subtree_depth
        |FROM walk w JOIN customer c ON w.node = c.c_custkey
        |GROUP BY 1""".stripMargin)
}
