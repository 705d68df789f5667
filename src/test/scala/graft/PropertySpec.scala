package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Normalize, TextFunctions}

/** ScalaCheck-generated property tests (SURVEY §5.3), evaluated as ONE
  * Spark job per property over a generated corpus rather than one job
  * per sample: generators produce the rows, Spark evaluates the
  * property as a filter, and the violation count must be zero.
  */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def samples[A](gen: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val (v, next) = gen.pureApply(Gen.Parameters.default, s) -> s.next
      (next, Some(v))
    }.drop(1).take(n).flatMap(_._2).toSeq

  private val messyString: Gen[String] = Gen.oneOf(
    Gen.const("NULL"), Gen.const("Null"), Gen.const(""),
    Gen.const("   "), Gen.alphaNumStr,
    Gen.alphaNumStr.map(s => s"  $s  "),
    Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.const(" ")))
      .map(_.mkString(" ")))

  test("property: placeholder normalization is idempotent") {
    val df = samples(messyString, 300, seed = 1).toDF("s")
    val once = Normalize.placeholderToNull(col("s"))
    val twice = Normalize.placeholderToNull(once)
    val violations = df
      .filter(!(once <=> twice))
      .count()
    assert(violations === 0)
  }

  test("property: shingle count = max(0, distinct-positions), explode = Σ sizes") {
    val text: Gen[String] =
      Gen.listOf(Gen.oneOf("a", "b", "cc", "dd", "e1")).map(_.mkString(" "))
    val df = samples(text, 300, seed = 2).toDF("t")
      .select(col("t"), TextFunctions.tokens(lower(col("t"))).as("toks"))
      .select(col("t"), col("toks"),
        TextFunctions.shinglesFromTokens(col("toks"), 3).as("sh"))
    // un-deduped shingle count is exactly max(0, n_tokens - 2)
    val violations = df.filter(
      size(col("sh")) =!= greatest(lit(0), size(col("toks")) - 2)).count()
    assert(violations === 0)
    // explode row count equals the sum of array sizes
    val total = df.select(sum(size(col("sh")))).as[Long].collect().head
    assert(df.select(explode(col("sh"))).count() === total)
  }

  test("property: subwords ≥ whitespace tokens on non-blank text") {
    val text: Gen[String] = Gen.nonEmptyListOf(
      Gen.oneOf("ab", "12", "x9", "a,b", "hi!")).map(_.mkString(" "))
    val df = samples(text, 300, seed = 3).toDF("t")
    // every whitespace token contributes ≥1 word-piece segment
    val violations = df.filter(
      TextFunctions.subwordCount(col("t")) <
        TextFunctions.tokenCount(col("t"))).count()
    assert(violations === 0)
  }

  test("property: quality score bounded in [0, 100]") {
    val df = samples(messyString, 300, seed = 4).toDF("t")
    val q = TextFunctions.qualityScore(col("t"))
    assert(df.filter(q < 0 || q > 100).count() === 0)
  }

  test("property: as-of union-and-carry ≡ naive range-join + argmax") {
    val rnd = new scala.util.Random(11)
    // random events and orders over a handful of users and a tight ts
    // range so ties and no-match cases both occur
    val events = Seq.tabulate(120)(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(40).toLong))
      .toDF("event_id", "user_id", "ms")
    val orders = Seq.tabulate(60)(i =>
      (1000L + i, rnd.nextInt(8).toLong, rnd.nextInt(40).toLong))
      .toDF("o_orderkey", "user_id", "oms")
    // naive truth: all qualifying orders, keep max (oms, orderkey)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy(col("oms").desc, col("o_orderkey").desc)
    val naive = events.join(orders, Seq("user_id"))
      .filter(col("oms") <= col("ms"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
      .as[(Long, Long)].collect().toMap
    val carried = graft.operators.EventQueries
      .asOfJoin(events, orders, "user_id", "ms", "oms")
      .filter(col("matched").isNotNull)
      .select(col("event_id"), col("matched.o_orderkey"))
      .as[(Long, Long)].collect().toMap
    assert(carried === naive)
  }

  test("Graft.asOfJoin facade matches the naive range-join + argmax truth") {
    // the as-of join now lives in EventQueries; this keeps the random-data
    // check of the public entry point against the naive truth
    val rnd = new scala.util.Random(13)
    val events = Seq.tabulate(80)(i =>
      (i.toLong, rnd.nextInt(6).toLong, rnd.nextInt(30).toLong))
      .toDF("event_id", "user_id", "ms")
    val orders = Seq.tabulate(40)(i =>
      (1000L + i, rnd.nextInt(6).toLong, rnd.nextInt(30).toLong))
      .toDF("o_orderkey", "user_id", "oms")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_id"))
      .orderBy(col("oms").desc, col("o_orderkey").desc)
    val naive = events.join(orders, Seq("user_id"))
      .filter(col("oms") <= col("ms"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("o_orderkey"))
      .as[(Long, Long)].collect().toMap
    val got = graft.operators.EventQueries
      .asOfJoin(events, orders, "user_id", "ms", "oms")
      .filter(col("matched").isNotNull)
      .select(col("event_id"), col("matched.o_orderkey"))
      .as[(Long, Long)].collect().toMap
    assert(got === naive)
  }

  test("asOfJoin: orders tied on the timestamp resolve to the greatest key") {
    // three orders share one timestamp and arrive in DESCENDING key
    // order; an order-by on (ts, kind) alone carries the last to
    // arrive (the minimum key), the oracle keeps the maximum
    val events = Seq((1L, 7L, 10L), (2L, 7L, 4L))
      .toDF("event_id", "user_id", "ms")
    val orders = Seq((103L, 7L, 5L), (102L, 7L, 5L), (101L, 7L, 5L))
      .toDF("o_orderkey", "user_id", "oms").coalesce(1)
    val got = graft.operators.EventQueries
      .asOfJoin(events, orders, "user_id", "ms", "oms")
      .select(col("event_id"), col("matched.o_orderkey"))
      .as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(103L), 2L -> None))
  }

  test("property: hash split is a disjoint-exhaustive partition") {
    val ids = (0L until 2000L).toDF("doc_id")
    val bucket = graft.operators.Dedup.hash32(7,
      col("doc_id").cast("string")) % 100
    val labeled = ids.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test"))
    // every row gets exactly one label; counts are reproducible
    assert(labeled.filter(col("split").isNull).count() === 0)
    assert(labeled.count() === 2000)
    val counts = labeled.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.sum === 2000)
    // rough proportions (hash is uniform; generous tolerance)
    assert(counts("train") > 1400 && counts("train") < 1800)
    // re-evaluation is bit-identical (pure function of the id)
    val again = ids.withColumn("split",
      when(bucket < 80, "train").when(bucket < 90, "valid")
        .otherwise("test")).groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(again === counts)
  }

  test("property: rolling hash is order-sensitive and deterministic") {
    val word: Gen[String] = Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString)
    val pairs = samples(Gen.zip(word, word), 200, seed = 7)
      .filter { case (a, b) => a != b }
    val df = pairs.toDF("a", "b")
    val hAB = TextFunctions.rollingHash(concat(col("a"), col("b")))
    val hBA = TextFunctions.rollingHash(concat(col("b"), col("a")))
    // ab vs ba: order flips change the hash unless the concatenations
    // are literally equal strings (e.g. a == b, filtered above; equal
    // concatenations like "x"+"xx" vs "xx"+"x" are exempt)
    val violations = df
      .filter(concat(col("a"), col("b")) =!= concat(col("b"), col("a")))
      .filter(hAB === hBA)
      .count()
    assert(violations === 0)
    // deterministic: recomputation matches itself
    assert(df.filter(hAB =!= TextFunctions.rollingHash(
      concat(col("a"), col("b")))).count() === 0)
  }

  test("property: funnelCounts ≡ naive per-user min-gate fold; steps monotone") {
    val rnd = new scala.util.Random(23)
    val steps = Seq("view", "click", "purchase")
    val types = steps ++ Seq("error", "signup") // non-funnel noise
    val rows = Seq.tabulate(400)(_ =>
      (rnd.nextInt(25).toLong, types(rnd.nextInt(types.length)),
        rnd.nextInt(50).toLong))
    // naive truth: per user, gate k = min time of step k at/after gate k−1
    def reached(evs: Seq[(String, Long)]): Int = {
      var g = Long.MinValue; var n = 0
      steps.foreach { s =>
        val q = evs.collect { case (t, ms) if t == s && ms >= g => ms }
        if (q.nonEmpty && n == steps.indexOf(s)) { g = q.min; n += 1 }
      }
      n
    }
    val byUser = rows.groupBy(_._1)
      .view.mapValues(es => reached(es.map(e => (e._2, e._3)))).toMap
    val want = steps.indices
      .map(i => (i + 1) -> byUser.values.count(_ >= i + 1).toLong).toMap
    val got = graft.operators.EventQueries.funnelCounts(
        rows.toDF("user_id", "event_type", "ms"), steps)
      .as[(Int, String, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got === want)
    // conversion can only shrink step over step
    assert(got(1) >= got(2) && got(2) >= got(3))
  }

  test("property: funnelStream on a BATCH dataset ≡ funnelCounts (unified model)") {
    import graft.streaming.StreamingEvents
    import graft.streaming.StreamingEvents.Event
    val rnd = new scala.util.Random(29)
    val steps = Seq("view", "click", "purchase")
    val types = steps ++ Seq("error")
    val events = Seq.tabulate(300)(i =>
      Event(i.toLong, new java.sql.Timestamp(60000L + rnd.nextInt(40) * 60000L),
        rnd.nextInt(20).toLong, types(rnd.nextInt(types.length)), 0.0))
    // the state function runs once per user over the whole batch —
    // Spark's unified model makes the streaming operator a batch
    // operator, and its advancement counts must equal funnelCounts'
    val advance = StreamingEvents.funnelStream(events.toDS(), steps)
      .groupBy(col("step"), col("step_name"))
      .agg(count(lit(1)).as("n_users"))
      .as[(Int, String, Long)].collect()
      .map(r => (r._1, r._3)).toMap
    val batch = graft.operators.EventQueries.funnelCounts(
        events.toDF()
          .select(col("user_id"), col("event_type"),
            unix_millis(col("ts")).as("ms")), steps)
      .as[(Int, String, Long)].collect()
      .map(r => (r._1, r._3)).toMap
    // funnelCounts emits 0-count steps; advancement facts don't
    assert(batch.filter(_._2 > 0) === advance)
  }

  test("property: prefix filtering ≡ uncapped exact jaccard on random corpora") {
    // small vocab forces heavy shingle sharing — the adversarial case
    // for prefix completeness (common shingles pushed out of prefixes)
    val rnd = new scala.util.Random(37)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def doc() = Seq.fill(3 + rnd.nextInt(15))(
      vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = Seq.tabulate(40)(i => (i.toLong, doc()))
      .toDF("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_a", "doc_b", "n_common")
      .as[(Long, Long, Long)].collect().toSet
    for (t <- Seq(50, 60, 80)) {
      val naive = pairSet(graft.operators.Dedup.jaccardPairs(
        corpus, "doc_id", "text", k = 3, maxDf = 1000000,
        thresholdPct = t))
      val pf = pairSet(graft.operators.Dedup.prefixFilterPairs(
        corpus, "doc_id", "text", k = 3, thresholdPct = t))
      assert(pf === naive, s"prefix filter diverged at threshold $t")
    }
  }

  test("property: freq_sketch exact regime ≡ groupBy on random skewed streams") {
    val rnd = new scala.util.Random(41)
    // Zipf-ish skew over 20 keys < capacity 32 ⇒ exact regime
    val rows = Seq.fill(2000) {
      val r = rnd.nextDouble()
      if (r < 0.5) s"k${rnd.nextInt(3)}"
      else s"k${rnd.nextInt(20)}"
    }
    val df = rows.toDF("k").repartition(11)
    val sketch = df.agg(expr("freq_sketch(k, 32)").as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.t"), col("e.c")).as[(String, Long)]
      .collect().toMap
    val exact = rows.groupBy(identity).map { case (k, v) =>
      k -> v.size.toLong }
    assert(sketch === exact)
  }

  test("property: cohort matrix partitions distinct (user, week) activity") {
    val rnd = new scala.util.Random(31)
    val wk = 7L * 86400000L
    val rows = Seq.tabulate(300)(_ =>
      (rnd.nextInt(30).toLong, "view", rnd.nextInt(8) * wk + rnd.nextInt(1000).toLong))
      .toDF("user_id", "event_type", "ms")
    val matrix = graft.operators.EventQueries.cohortRetention(rows)
      .as[(Long, Long, Long)].collect()
    val userWeeks = rows.selectExpr("user_id", "ms div 86400000 div 7 AS wk")
      .distinct()
    // every distinct (user, week) lands in exactly one matrix cell
    assert(matrix.map(_._3).sum === userWeeks.count())
    // offset 0 counts each user once, in their first-seen cohort
    assert(matrix.filter(_._2 == 0L).map(_._3).sum ===
      rows.select("user_id").distinct().count())
    assert(matrix.forall(_._2 >= 0L))
  }

  test("property: q_correlation caps its sample AT the DECIMAL(38,0) bound") {
    // a lineitem big enough that the 1 % hash gate passes >20 000 rows —
    // the regime where an unbounded fraction would overflow Spark's
    // decimal multiply (nulls) while DuckDB promotes to int128 (values),
    // silently splitting the engines. The bottom-k cap must make the
    // query both RUN (no raise_error) and answer from exactly 20 000 rows.
    val d = java.nio.file.Files.createTempDirectory("graft_corr_").toString
    spark.range(2200000).selectExpr(
      "id AS l_orderkey",
      "CAST(id % 7 AS INT) AS l_linenumber",
      "CAST(id % 51 AS DOUBLE) AS l_quantity",
      "CAST((id * 7919) % 131000 AS DOUBLE) AS l_extendedprice",
      "CAST(id % 11 AS DOUBLE) / 100.0 AS l_discount")
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    val out = graft.operators.RelationalQueries
      .queries("q_correlation")(spark, d).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n") === 20000L))
    // varied q/p/d ⇒ every denominator is nonzero ⇒ an overflow (which
    // Spark would surface as NULL) is the only way ppm could be null
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("corr2_ppm"))))
  }

  test("property: q_token_budget is a valid max-min fair allocation") {
    val sf = "/root/testdata/sf0.01"
    val rows = operators.Curation.queries("q_token_budget")(spark, sf)
      .collect()
      .map(r => (r.getAs[Long]("n_tokens"), r.getAs[Long]("alloc_tokens"),
        r.getAs[Boolean]("capped")))
    assert(rows.nonEmpty)
    // feasibility: nobody exceeds demand; capped ⟺ clipped
    rows.foreach { case (n, a, capped) =>
      assert(a <= n && a >= 0)
      assert(capped === (a < n))
    }
    // max-min fairness: every capped source sits at ONE common level,
    // and no uncapped source demands more than that level
    val levels = rows.filter(_._3).map(_._2).distinct
    assert(levels.length <= 1, s"multiple water levels: ${levels.toSeq}")
    levels.headOption.foreach { l =>
      assert(rows.filterNot(_._3).forall(_._1 <= l),
        "an uncapped source demanded more than the water level")
    }
    // budget respected: Σ alloc ≤ total div 2, and if anyone was capped
    // the integer level leaves less than one per-source quantum unspent
    val total = rows.map(_._1).sum
    val spent = rows.map(_._2).sum
    assert(spent <= total / 2)
    if (levels.nonEmpty)
      assert(total / 2 - spent < rows.length,
        s"water level left ${total / 2 - spent} tokens on the table")
  }

  test("property: q_quota_apportionment sums exactly to N, error < 1 seat") {
    val rows = operators.Curation.queries("q_quota_apportionment")(
      spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("quota")))
    assert(rows.nonEmpty)
    val n = 100L // QUOTA_N
    assert(rows.map(_._2).sum === n,
      s"Hamilton quotas must sum exactly to $n: ${rows.toSeq}")
    // each quota within 1 of the exact proportional share (the
    // largest-remainder guarantee)
    val w = rows.map(_._1).sum
    rows.foreach { case (nd, q) =>
      val exactLo = n * nd / w // floor
      assert(q === exactLo || q === exactLo + 1,
        s"quota $q strayed from proportional share $exactLo for weight $nd")
    }
  }

  test("property: q_labeler_kappa stays in [-1, 1] (ppm scale)") {
    val r = operators.TextQueries.queries("q_labeler_kappa")(
      spark, "/root/testdata/sf0.01").collect().head
    val (n, agree) = (r.getAs[Long]("n_docs"), r.getAs[Long]("agree_n"))
    assert(n > 0 && agree >= 0 && agree <= n)
    assert(!r.isNullAt(r.fieldIndex("kappa_ppm")),
      "kappa NULL — degenerate one-class matrix on real testdata")
    val ppm = r.getAs[Long]("kappa_ppm")
    assert(ppm <= 1000000L, s"kappa > 1: $ppm ppm")
    assert(ppm >= -1000000L, s"kappa < -1: $ppm ppm")
  }

  test("property: CMS is one-sided on random token multisets") {
    // random skewed multisets: sketch estimate ≥ exact for EVERY key
    // (collisions only ever add — the Count-Min guarantee)
    val tok: Gen[String] = Gen.frequency(
      3 -> Gen.const("hot"), 2 -> Gen.oneOf("a", "b", "c"),
      1 -> Gen.alphaLowerStr.map(_.take(6)))
    val df = samples(tok, 3000, seed = 31).toDF("tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val sketch = df
      .select(col("cnt"), operators.CountMin.cellsExploded(
        col("tok"), operators.CountMin.TOKEN_WIDTH).as("dc"))
      .groupBy(col("dc.d").as("d"), col("dc.cell").as("cell"))
      .agg(sum(col("cnt")).as("c"))
    val est = df
      .select(col("tok"), col("cnt"), operators.CountMin.cellsExploded(
        col("tok"), operators.CountMin.TOKEN_WIDTH).as("dc"))
      .join(sketch, col("dc.d") === sketch("d") &&
        col("dc.cell") === sketch("cell"))
      .groupBy(col("tok"))
      .agg(max(col("cnt")).as("exact"), min(col("c")).as("est"))
    assert(est.filter(col("est") < col("exact")).count() === 0,
      "CMS undercounted a key")
  }

  test("property: zone maps never falsely prune a present key pair") {
    // the pruning rule's no-false-negative guarantee: every (x, y)
    // that EXISTS in a bucket lies inside that bucket's min/max spans,
    // so a point probe for it always scans its own bucket
    val pair: Gen[(Long, Long)] = for {
      x <- Gen.chooseNum(0L, 4000L); y <- Gen.chooseNum(0L, 200L)
    } yield (x, y)
    val df = samples(pair, 2000, seed = 37).toDF("x", "y")
      .withColumn("b", shiftright(
        operators.ZOrder.zValue(col("x"), col("y")),
        operators.ZOrder.LAYOUT_SHIFT))
    val maps = df.groupBy(col("b"))
      .agg(min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
    val falselyPruned = df.join(maps, Seq("b"))
      .filter(!(col("x").between(col("x_min"), col("x_max")) &&
        col("y").between(col("y_min"), col("y_max"))))
      .count()
    assert(falselyPruned === 0)
  }
}
