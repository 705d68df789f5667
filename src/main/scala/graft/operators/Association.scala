package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Market-basket association mining over order baskets (Agrawal &
  * Srikant, "Fast Algorithms for Mining Association Rules", VLDB'94 —
  * the support/confidence/lift readout, pair itemsets).
  *
  * Spark-first shape: baskets are the distinct (order, part) pairs, so
  * candidate generation is a SELF-EQUI-JOIN on the basket key with
  * `ant < cons` — fan-out per basket is C(|basket|, 2), bounded by the
  * basket-size cap a real feed enforces (TPC-H-ish baskets: ≤ 13 items,
  * ≤ 78 pairs), never |parts|². Item supports join back on the part key
  * (hash join; at 100 TB the parts side is still ≪ pairs and AQE
  * broadcasts it when it fits). All rule math is integer/DECIMAL(38,0)
  * so the DuckDB gate compares exactly:
  *   conf_bp    = ⌊n_pair·10⁴ / n_ant⌋
  *   lift_milli = ⌊n_pair·N·10³ / (n_ant·n_cons)⌋
  * both on non-negative operands (truncate ≡ floor in both engines).
  *
  * 100 TB posture: one shuffle to dedup baskets, one pair aggregate
  * keyed on (ant, cons), support-filtered BEFORE any ranking so the
  * per-antecedent window in q_also_bought runs over support-qualified
  * co-items only (hot-part partitions are capped by the support floor,
  * not the catalog); the global rule readout is TakeOrdered(100), not a
  * global sort.
  */
object Association {

  /** Pair support floor — applied before ranking/windows. */
  private val MIN_SUPPORT = 2

  /** Rules kept in the global readout. */
  private val TOP_RULES = 100

  /** Co-items kept per antecedent part. */
  private val TOP_ALSO = 3

  /** BFS rounds for q_sssp_hops: nodes beyond this hop radius are
    * absent from the result (documented horizon, not silent truncation
    * — the radius is the operator's contract).
    */
  private val BFS_ROUNDS = 4

  /** Distinct (basket, item) pairs. */
  private def items(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("pkey"))
      .distinct()

  /** Support-filtered pair counts (ant < cons).
    *
    * Deliberately NOT a-priori-pruned: semi-joining items to the
    * frequent set before the self-join (downward closure, Agrawal &
    * Srikant VLDB'94) is result-identical but MEASURED SLOWER here —
    * q_sssp_hops 6.7 → 11.4 s at sf0.1 when tried in round 12, because
    * at MIN_SUPPORT = 2 on this catalog essentially every item is
    * frequent, so the prune adds an item-count shuffle + semi-join and
    * removes nothing. The prune belongs in a deployment with a
    * long-tail catalog and a real support floor; at that point it is a
    * three-line change here.
    */
  private def pairs(it: DataFrame): DataFrame = {
    val a = it.select(col("okey"), col("pkey").as("ant"))
    val b = it.select(col("okey"), col("pkey").as("cons"))
    a.join(b, Seq("okey")).filter(col("ant") < col("cons"))
      .groupBy(col("ant"), col("cons"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= MIN_SUPPORT)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── global association rules: top-100 by (support, ant, cons) ──────
    "q_basket_rules" -> { (s, dir) =>
      val it = items(s, dir)
      val cnt = it.groupBy(col("pkey")).agg(count(lit(1)).as("n_item"))
      val nBaskets = it.select(col("okey")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      pairs(it)
        .join(cnt.select(col("pkey").as("ant"), col("n_item").as("n_ant")),
          Seq("ant"))
        .join(cnt.select(col("pkey").as("cons"), col("n_item").as("n_cons")),
          Seq("cons"))
        .crossJoin(broadcast(nBaskets))
        .withColumn("conf_bp", expr(
          "CAST(CAST(n_pair AS DECIMAL(38,0)) * 10000 div n_ant AS BIGINT)"))
        .withColumn("lift_milli", expr(
          "CAST(CAST(n_pair AS DECIMAL(38,0)) * n_baskets * 1000" +
            " div (CAST(n_ant AS DECIMAL(38,0)) * n_cons) AS BIGINT)"))
        .select(col("ant"), col("cons"), col("n_pair"), col("n_ant"),
          col("n_cons"), col("conf_bp"), col("lift_milli"))
        .orderBy(col("n_pair").desc, col("ant").asc, col("cons").asc)
        .limit(TOP_RULES)
    },

    // ── per-part "also bought": top-3 co-items by pair support ─────────
    // Pairs symmetrize (each direction once), then a PARTITIONED window
    // ranks inside each antecedent's support-qualified co-item set.
    "q_also_bought" -> { (s, dir) =>
      val p = pairs(items(s, dir))
      val sym = p.select(col("ant"), col("cons"), col("n_pair"))
        .union(p.select(col("cons").as("ant"), col("ant").as("cons"),
          col("n_pair")))
      val w = Window.partitionBy(col("ant"))
        .orderBy(col("n_pair").desc, col("cons").asc)
      sym.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= TOP_ALSO)
        .select(col("ant").as("pkey"), col("cons").as("also_pkey"),
          col("n_pair"), col("rank").cast("long").as("rank"))
    },

    // ── BFS hop distance from the min-key part over the co-purchase
    // graph. Each round is frontier ∪ (frontier ⋈ edges)+1 followed by
    // a min-per-node AGGREGATE — the aggregation caps every round at
    // |reachable nodes| rows, so hub fan-out can never explode into
    // path enumeration (the blowup a naive depth-limited recursion
    // hits; the DuckDB oracle unrolls the same aggregated rounds).
    // Fixed [[BFS_ROUNDS]] keeps the plan deterministic; min-dist is
    // stable under extra rounds for already-settled nodes.
    "q_sssp_hops" -> { (s, dir) =>
      val p = pairs(items(s, dir))
      // Edge table: LINEAGE-TRUNCATED, then CO-PARTITIONED (round 14,
      // replacing the r12 persist+chain; a parquet round-trip buys the
      // same truncation for +0.9 s of write wall at sf0.1):
      //   - localCheckpoint FIRST: the flat LogicalRDD leaf keeps the
      //     unrolled plan small — the frontier is referenced twice per
      //     round (union + join side), so whatever subtree it hangs off
      //     appears ~2^rounds times in the final plan, and here that
      //     was the basket self-join (~2^rounds re-analyses; the ×100
      //     rehearsal measured this as the dominant driver cost).
      //   - THEN repartition + persist: a checkpoint alone reports
      //     UnknownPartitioning under AQE (measured — the LogicalRDD
      //     captures before the final plan settles), but an
      //     InMemoryRelation DOES expose its cached plan's
      //     HashPartitioning(src), so each BFS round's join shuffles
      //     ONLY the frontier (bounded by |reachable nodes|) — never
      //     the edge table. At 100 TB the edge side is the corpus-scale
      //     operand; per-round edge shuffles are the difference between
      //     O(rounds·|E|) and O(|E| + rounds·|frontier|) network.
      //     PlanShapeSpec pins the one-exchange-per-round shape.
      //   - the partition COUNT is pinned to the session's shuffle
      //     partitions: a keyed repartition without a count is an AQE
      //     hint, and AQE coalesces the one-time fill to advisory-sized
      //     partitions — freezing every later round's parallelism at
      //     that count (PERF.md records 78 s vs 21 s on the CC
      //     fixpoint at 10⁷ edges before Clusters pinned it; same
      //     contract here).
      //   - DOCUMENTED TRADE: localCheckpoint blocks are executor-local
      //     and non-recomputable — an executor loss mid-query fails the
      //     job (Spark cannot rebuild a truncated-lineage leaf). This
      //     query re-runs cheaply; a deployment that must survive
      //     executor loss uses the Clusters-style parquet round-trip
      //     (durable scratch on shared storage) at the cost of the
      //     file write. Block lifecycle: ContextCleaner frees them when
      //     the per-invocation DataFrames are GC'd (see CacheRegistry's
      //     documented exception).
      val e = graft.CacheRegistry.register(
        p.select(col("ant").as("src"), col("cons").as("dst"))
          .union(p.select(col("cons").as("src"), col("ant").as("dst")))
          .localCheckpoint()
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("src"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // frontier also truncates per round: d is tiny (≤ |reachable|),
      // so the eager materialization is noise while the plan stays
      // O(1)-deep instead of doubling every round
      var d = e.agg(min(col("src")).as("node"))
        .select(col("node"), lit(0L).as("dist"))
      for (_ <- 1 to BFS_ROUNDS) {
        val step = d.join(e, col("node") === col("src"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        d = d.union(step).groupBy(col("node"))
          .agg(min(col("dist")).as("dist"))
          .localCheckpoint()
      }
      d.select(col("node").as("pkey"), col("dist"))
    })

  val oracle: Map[String, String] = Map(

    "q_basket_rules" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey,
         |    l_partkey AS pkey FROM lineitem),
         |n AS (SELECT count(DISTINCT okey) AS n_baskets FROM items),
         |cnt AS (SELECT pkey, count(*) AS n_item FROM items GROUP BY 1),
         |pairs AS (SELECT a.pkey AS ant, b.pkey AS cons,
         |    count(*) AS n_pair
         |  FROM items a JOIN items b
         |    ON a.okey = b.okey AND a.pkey < b.pkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MIN_SUPPORT)
         |SELECT p.ant, p.cons, p.n_pair,
         |  ca.n_item AS n_ant, cb.n_item AS n_cons,
         |  CAST(CAST(p.n_pair AS HUGEINT) * 10000 // ca.n_item
         |    AS BIGINT) AS conf_bp,
         |  CAST(CAST(p.n_pair AS HUGEINT) * n.n_baskets * 1000
         |    // (CAST(ca.n_item AS HUGEINT) * cb.n_item)
         |    AS BIGINT) AS lift_milli
         |FROM pairs p
         |JOIN cnt ca ON p.ant = ca.pkey
         |JOIN cnt cb ON p.cons = cb.pkey, n
         |ORDER BY p.n_pair DESC, p.ant ASC, p.cons ASC
         |LIMIT $TOP_RULES""".stripMargin,

    "q_also_bought" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey,
         |    l_partkey AS pkey FROM lineitem),
         |pairs AS (SELECT a.pkey AS ant, b.pkey AS cons,
         |    count(*) AS n_pair
         |  FROM items a JOIN items b
         |    ON a.okey = b.okey AND a.pkey < b.pkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MIN_SUPPORT),
         |sym AS (SELECT ant, cons, n_pair FROM pairs
         |  UNION ALL SELECT cons, ant, n_pair FROM pairs),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY ant
         |    ORDER BY n_pair DESC, cons ASC) AS rn FROM sym)
         |SELECT ant AS pkey, cons AS also_pkey, n_pair,
         |  CAST(rn AS BIGINT) AS rank
         |FROM ranked WHERE rn <= $TOP_ALSO""".stripMargin,

    "q_sssp_hops" -> {
      val rounds = (1 to BFS_ROUNDS).map { i =>
        s"""d$i AS (SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM d${i - 1} p JOIN e ON p.node = e.src) u
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS okey,
         |    l_partkey AS pkey FROM lineitem),
         |pairs AS (SELECT a.pkey AS ant, b.pkey AS cons,
         |    count(*) AS n_pair
         |  FROM items a JOIN items b
         |    ON a.okey = b.okey AND a.pkey < b.pkey
         |  GROUP BY 1, 2 HAVING count(*) >= $MIN_SUPPORT),
         |e AS (SELECT ant AS src, cons AS dst FROM pairs
         |  UNION ALL SELECT cons, ant FROM pairs),
         |d0 AS (SELECT min(ant) AS node, CAST(0 AS BIGINT) AS dist
         |  FROM pairs),
         |$rounds
         |SELECT node AS pkey, dist FROM d$BFS_ROUNDS""".stripMargin
    })
}
