package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextQueries

/** Structural invariants of the greedy max-coverage gate
  * (q_maxcover_docs).
  *
  * The hash gate pins the exact pick sequence against the DuckDB
  * twin; this spec pins the greedy-submodular *semantics*: marginal
  * gains are positive and non-increasing, coverage telescopes, and
  * picks never repeat.
  */
class MaxcoverSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val picks =
    TextQueries.queries("q_maxcover_docs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("gain"), r.getAs[Long]("n_covered")))
      .sortBy(_._1)

  test("ranks dense, picks distinct, gains positive") {
    assert(picks.nonEmpty)
    assert(picks.map(_._1).toSeq === (0L until picks.length))
    assert(picks.map(_._2).distinct.length === picks.length,
      s"a document was picked twice: ${picks.mkString(", ")}")
    assert(picks.forall(_._3 > 0L),
      s"zero-gain pick survived: ${picks.mkString(", ")}")
  }

  test("greedy gains are non-increasing (submodularity of coverage)") {
    picks.map(_._3).sliding(2).foreach { w =>
      assert(w(1) <= w(0),
        s"marginal gain grew: ${picks.map(_._3).mkString(", ")}")
    }
  }

  test("coverage telescopes: n_covered is the running sum of gains") {
    var run = 0L
    picks.foreach { case (r, _, g, n) =>
      run += g
      assert(n === run, s"rank $r: n_covered $n != cumulative gain $run")
    }
  }

  test("quota variant: never more than CAP picks per source; gains " +
    "stay non-increasing; unconstrained prefix matches the plain greedy") {
    val q = TextQueries.queries("q_maxcover_quota")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[String]("source"), r.getAs[Long]("gain")))
      .sortBy(_._1)
    assert(q.nonEmpty)
    q.groupBy(_._3).foreach { case (src, ps) =>
      assert(ps.length <= 1, s"source $src exceeded the cap: $ps")
    }
    q.map(_._4).sliding(2).foreach { w =>
      assert(w(1) <= w(0), s"gain grew: ${q.map(_._4).mkString(", ")}")
    }
    // while no source is saturated the constrained greedy IS the plain
    // greedy — the two must agree up to the first divergence-by-cap
    val plain = picks.map(_._2)
    val firstDiff = q.map(_._2).zip(plain).indexWhere { case (a, b) => a != b }
    if (firstDiff >= 0) {
      // the plain pick at the divergence must come from a source the
      // quota run had already used (that is WHY they diverged)
      val usedBefore = q.take(firstDiff).map(_._3).toSet
      val divergedDoc = plain(firstDiff)
      val divergedSrc = spark.read.parquet(s"$sf/documents.parquet")
        .filter(org.apache.spark.sql.functions.col("doc_id") === divergedDoc)
        .select("source").head().getString(0)
      assert(usedBefore.contains(divergedSrc),
        s"diverged at rank $firstDiff but plain pick $divergedDoc's " +
          s"source $divergedSrc was not yet saturated")
    }
  }

  test("sampled fit: picks come from the hash slice, coverage " +
    "telescopes, and the full-corpus score is monotone") {
    val s = TextQueries.queries("q_maxcover_sampled")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("gain"), r.getAs[Long]("n_covered"),
        r.getAs[Long]("cov_pairs_full")))
      .sortBy(_._1)
    assert(s.nonEmpty)
    assert(s.map(_._1).toSeq === (0L until s.length))
    assert(s.map(_._2).distinct.length === s.length)
    // every pick must be a slice member (the fit never sees the rest)
    import org.apache.spark.sql.functions.col
    val sliceIds = spark.read.parquet(s"$sf/documents.parquet")
      .filter(graft.operators.Curation.hashBucket(col("doc_id"),
        TextQueries.MAXCOV_SAMPLE_SEED) < TextQueries.MAXCOV_SAMPLE_PCT)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    s.foreach { p => assert(sliceIds.contains(p._2),
      s"pick ${p._2} is not in the fit slice") }
    // slice coverage telescopes; the corpus-wide score never decreases
    var run = 0L
    s.foreach { case (r, _, g, n, cf) =>
      run += g
      assert(n === run, s"rank $r: n_covered $n != cumulative gain $run")
      assert(cf >= n, s"rank $r: corpus incidences $cf below slice " +
        s"coverage $n — the full corpus contains the slice")
    }
    s.map(_._5).sliding(2).foreach { w =>
      assert(w(1) >= w(0), s"cov_pairs_full regressed: ${s.mkString(", ")}")
    }
  }

  test("generic facade: a superset doc wins round 0 on a hand corpus") {
    import spark.implicits._
    // doc 5 contains both shingle runs of docs 7 and 9; doc 7 then
    // adds nothing new, doc 9 adds its distinct tail
    val docs = Seq(
      (5L, "a b c d e x y z w v"),
      (7L, "a b c d e"),
      (9L, "p q r s")).toDF("id", "body")
    val got = TextQueries.maxCoverage(docs, "id", "body", k = 3,
      v = 100).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"),
        r.getAs[Long]("gain"))).sortBy(_._1)
    assert(got(0)._2 === 5L, s"superset doc must win: ${got.mkString(", ")}")
    assert(got(1) === ((1L, 9L, 2L)), got.mkString(", "))
    // doc 7 is fully covered by doc 5 → zero marginal gain → never
    // picked; the greedy stops at 2 rows
    assert(got.length === 2, got.mkString(", "))
  }
}
