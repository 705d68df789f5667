package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** Invariants of the trained quality filter (q_logit_fit).
  *
  * The hash gate pins the exact descent against the oracle's unrolled
  * CTE chain; this spec pins what the gate can't say directly — that
  * the descent LEARNS (beats every constant predictor), stays inside
  * its proven integer bounds, and is a pure function of the corpus.
  */
class LogitFitSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val fit =
    TextQueries.queries("q_logit_fit")(spark, sf).collect()

  test("one output row; n_total covers the corpus") {
    assert(fit.length == 1)
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(fit.head.getAs[Long]("n_total") == n)
  }

  test("descent beats the best constant predictor (it actually learns)") {
    val keeps = TextQueries.queries("q_quality_logit")(spark, sf)
      .filter("verdict = 'keep'").count()
    val n = fit.head.getAs[Long]("n_total")
    val majority = math.max(keeps, n - keeps)
    val correct = fit.head.getAs[Long]("n_correct")
    assert(correct > majority,
      s"trained accuracy $correct/$n does not beat the majority-class " +
        s"baseline $majority/$n — the descent degenerated")
  }

  test("weights stay inside the ANSI overflow proof: |w| ≤ K · 2·10¹⁰") {
    val bound = 16L * 20000000000L
    (0 to 4).foreach { j =>
      val w = fit.head.getAs[Long](s"w$j")
      assert(math.abs(w) <= bound, s"w$j = $w escapes the proven bound")
    }
  }

  test("the trainer is a pure function of the corpus (deterministic)") {
    val again = TextQueries.queries("q_logit_fit")(spark, sf).collect()
    assert(fit.toSeq == again.toSeq)
  }

  test("driver-mirror descent ≡ forced-distributed descent (dispatch " +
    "equivalence, full + sampled)") {
    // the default budget runs the mirror at this SF; the forced
    // distributed loop must give bit-identical rows
    mirrorMatchesDistributed(
        "driver logit mirror diverged from the distributed descent")(
      TextQueries.queries("q_logit_fit")(spark, sf).collect().toSeq)
    mirrorMatchesDistributed(
        "sampled-fit mirror diverged from the distributed descent")(
      TextQueries.queries("q_logit_fit_sampled")(spark, sf).collect().toSeq)
  }

  test("sampled fit: trains on a strict slice, still beats the " +
    "majority baseline on the FULL corpus") {
    val r = TextQueries.queries("q_logit_fit_sampled")(spark, sf)
      .collect()
    assert(r.length == 1)
    val nFit = r.head.getAs[Long]("n_fit")
    val nTotal = r.head.getAs[Long]("n_total")
    assert(nFit > 0 && nFit < nTotal,
      s"slice $nFit of $nTotal is not a strict sample")
    assert(nTotal == fit.head.getAs[Long]("n_total"))
    val keeps = TextQueries.queries("q_quality_logit")(spark, sf)
      .filter("verdict = 'keep'").count()
    val majority = math.max(keeps, nTotal - keeps)
    val correct = r.head.getAs[Long]("n_correct")
    assert(correct > majority,
      s"sampled-fit accuracy $correct/$nTotal does not beat the " +
        s"majority baseline $majority/$nTotal")
  }

  test("fitQualityModel reproduces the gated trainer's weights, and " +
    "the streaming scorer's verdict matches the score sign per doc") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val m = TextQueries.fitQualityModel(docs)
    val fitRow = fit.head
    (0 to 4).foreach(j => assert(m.w(j) === fitRow.getAs[Long](s"w$j"),
      s"serving model w$j drifted from the gated trainer"))
    // scoreStream is a stateless projection — batch-applying it must
    // yield one row per doc with verdict ⟺ sign(score)
    val scored = graft.streaming.StreamingQuality.scoreStream(docs, m)
      .collect()
    assert(scored.length === docs.count())
    scored.foreach { r =>
      val (s_, v) = (r.getAs[Long]("score_m"), r.getAs[String]("verdict"))
      if (v == "keep") assert(s_ >= 0L, s"keep with negative score: $r")
      else assert(s_ <= 0L, s"drop with positive score: $r")
    }
  }

  test("uncertainty sample: the queue holds exactly the smallest-margin " +
    "docs the batch scorer would rank first") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val picks = TextQueries.queries("q_uncertainty_sample")(spark, sf)
      .collect().map(r => (r.getAs[Long]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_m")))
      .sortBy(_._1)
    assert(picks.length === 16)
    assert(picks.map(_._1).toSeq === (1L to 16L))
    // recompute every doc's margin with the served model: the queue's
    // worst margin must lower-bound everything outside the queue
    val m = TextQueries.fitQualityModel(docs)
    val all = graft.streaming.StreamingQuality.scoreStream(docs, m)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        math.abs(r.getAs[Long]("score_m"))))
    val inQueue = picks.map(_._2).toSet
    val worstIn = picks.map(p => math.abs(p._3)).max
    val bestOut = all.filterNot(p => inQueue.contains(p._1)).map(_._2).min
    assert(worstIn <= bestOut,
      s"queue misses a smaller margin: in=$worstIn out=$bestOut")
  }

  test("refit closes the active-learning loop: the queue is disjoint " +
    "from the slice, the fit grows by exactly the budget, and the " +
    "retrained model STRICTLY improves full-corpus accuracy") {
    val r = TextQueries.queries("q_logit_refit")(spark, sf).collect()
    assert(r.length === 1)
    val row = r.head
    val nFitBase = row.getAs[Long]("n_fit_base")
    val nFitRefit = row.getAs[Long]("n_fit_refit")
    val nQueued = row.getAs[Long]("n_queued")
    val n = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(row.getAs[Long]("n_total") === n)
    assert(nQueued === TextQueries.REFIT_K.toLong)
    // queue ⊆ out-of-slice ⇒ the grown fit is base + budget exactly
    assert(nFitRefit === nFitBase + nQueued,
      s"queue overlapped the fit slice: $nFitBase + $nQueued != $nFitRefit")
    assert(row.getAs[Long]("improved") === 1L)
    assert(row.getAs[Long]("n_correct_refit")
        > row.getAs[Long]("n_correct_base"),
      s"labeling budget bought nothing: $row")
  }

  test("generic activeLearningRound facade: queue drawn from outside " +
    "the slice, fit grows by exactly k, queue targets the boundary") {
    import spark.implicits._
    // model sees only the extremes; the decision boundary (f = 500) is
    // exactly where the unlabeled middle is most uncertain
    val labeled = (0L until 1000L)
      .map(f => (f, f, if (f >= 500L) 1L else 0L,
        f < 100L || f >= 900L))
      .toDF("id", "f", "y", "in_fit")
    val r = Graft.activeLearningRound(labeled, id = "id", xs = Seq("f"),
      k = 32).collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_total") === 1000L)
    assert(row.getAs[Long]("n_fit_base") === 200L)
    assert(row.getAs[Long]("n_queued") === 32L)
    assert(row.getAs[Long]("n_fit_refit") === 232L,
      s"queue must be disjoint from the slice: $row")
    assert(row.getAs[Long]("n_correct_refit")
      >= row.getAs[Long]("n_correct_base"),
      s"boundary labels made the model worse: $row")
  }

  test("generic facade: a separable synthetic feature trains to " +
    "near-perfect accuracy") {
    import spark.implicits._
    val labeled = (0L until 1000L)
      .map(f => (f, if (f >= 500L) 1L else 0L, true))
      .toDF("f", "y", "in_fit")
    val r = Graft.trainQualityFilter(labeled, Seq("f")).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_fit") === 1000L)
    assert(row.getAs[Long]("n_total") === 1000L)
    assert(row.getAs[Long]("w1") > 0L,
      s"feature weight must be positive on an increasing label: $row")
    val correct = row.getAs[Long]("n_correct")
    assert(correct >= 950L,
      s"separable fit only classifies $correct/1000")
  }
}
