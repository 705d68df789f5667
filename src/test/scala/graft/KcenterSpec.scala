package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorQueries

/** Structural invariants of the Gonzalez maximin k-center pair
  * (q_kcenter_seeds / q_kcenter_coverage).
  *
  * The hash gates pin exact outputs against the DuckDB twins; this
  * spec pins the k-center *semantics* both engines could co-drift on:
  * the monotone radius sequence, the seed-0 rule, and the coverage
  * bound that makes Gonzalez a 2-approximation.
  */
class KcenterSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val seeds =
    VectorQueries.queries("q_kcenter_seeds")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("sel_d2")))
      .sortBy(_._1)

  private lazy val coverage =
    VectorQueries.queries("q_kcenter_coverage")(spark, sf).collect()
      .map(r => (r.getAs[Long]("seed_rank"), r.getAs[Long]("n_members"),
        r.getAs[Long]("max_d2"), r.getAs[Long]("sum_d2")))

  test("K seeds, ranks dense, vec_ids distinct, seed 0 = min vec_id") {
    assert(seeds.map(_._1).toSeq === (0L until seeds.length))
    assert(seeds.map(_._2).distinct.length === seeds.length,
      s"duplicate seed ids: ${seeds.mkString(", ")}")
    val minId = spark.read.parquet(s"$sf/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.min("vec_id")).head().getLong(0)
    assert(seeds.head._2 === minId, "seed 0 must be the min vec_id")
    assert(seeds.head._3 === 0L)
  }

  test("the maximin radius sequence is positive and non-increasing") {
    val radii = seeds.tail.map(_._3)
    assert(radii.forall(_ > 0L),
      s"degenerate seed (zero maximin distance): ${seeds.mkString(", ")}")
    radii.sliding(2).foreach { w =>
      assert(w(1) <= w(0), s"radius grew: ${radii.mkString(", ")}")
    }
  }

  test("coverage partitions the corpus; every seed anchors its cell") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(coverage.map(_._2).sum === n, "cells must partition the corpus")
    // every rank appears (each seed is d2=0 in its own cell)
    assert(coverage.map(_._1).sorted.toSeq === (0L until seeds.length))
    coverage.foreach { case (r, m, _, _) =>
      assert(m >= 1L, s"seed $r covers nothing")
    }
  }

  test("coverage radius ≤ the last seed's maximin distance " +
    "(the Gonzalez 2-approximation certificate)") {
    val lastRadius = seeds.last._3
    val worst = coverage.map(_._3).max
    assert(worst <= lastRadius,
      s"cover radius $worst exceeds the final maximin $lastRadius")
  }

  test("sampled fit: coverage still partitions the FULL corpus into " +
    "K cells (seeds fitted on the hash slice)") {
    val cov = VectorQueries.queries("q_kcenter_sampled")(spark, sf)
      .collect().map(r => (r.getAs[Long]("seed_rank"),
        r.getAs[Long]("n_members")))
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(cov.map(_._2).sum === n,
      "sampled-fit cells must still partition the whole corpus")
    assert(cov.map(_._1).sorted.toSeq === (0L until seeds.length),
      s"missing seed ranks: ${cov.mkString(", ")}")
  }

  test("novelty banding: the replayed corpus never lands OUTSIDE its " +
    "own cover (band ≤ 3 — the Gonzalez certificate), seeds at band 0") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val scored = graft.operators.VectorQueries
      .noveltyScore(emb.select(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")), emb)
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("d2"),
        r.getAs[Long]("band")))
    assert(scored.length === emb.count())
    scored.foreach { case (id, d2, band) =>
      assert(band >= 0L && band <= 3L,
        s"corpus point $id outside its own cover: d2=$d2 band=$band")
    }
    val seedIds = seeds.map(_._2).toSet
    scored.filter(p => seedIds.contains(p._1)).foreach { case (id, d2, b) =>
      assert(d2 === 0L && b === 0L, s"seed $id not at distance 0: $d2/$b")
    }
  }

  test("generic facade: line of three points picks the two extremes") {
    import spark.implicits._
    val emb = Seq((1L, Seq(0.0f)), (2L, Seq(0.1f)), (3L, Seq(1.0f)))
      .toDF("id", "v")
    val got = VectorQueries.diversitySeeds(emb, "id", "v", k = 2).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"),
        r.getAs[Long]("sel_d2"))).sortBy(_._1)
    assert(got(0) === ((0L, 1L, 0L)), "seed 0 must be the min id")
    // farthest from 0.0 is 1.0 → quantized gap 1024 → d² = 1048576
    assert(got(1) === ((1L, 3L, 1048576L)), got.mkString(", "))
  }

  test("k beyond the distinct vectors stops early — never a duplicate " +
    "seed with sel_d2 = 0") {
    import spark.implicits._
    // two DISTINCT vectors among three points (ids 1,2 coincide)
    val emb = Seq((1L, Seq(0.0f)), (2L, Seq(0.0f)), (3L, Seq(1.0f)))
      .toDF("id", "v")
    val got = VectorQueries.diversitySeeds(emb, "id", "v", k = 5).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("id"),
        r.getAs[Long]("sel_d2"))).sortBy(_._1)
    assert(got.length === 2, s"expected early stop at 2 seeds: ${got.mkString(", ")}")
    assert(got.map(_._2).toSet === Set(1L, 3L), got.mkString(", "))
    assert(got.forall(s => s._1 == 0L || s._3 > 0L),
      s"duplicate (sel_d2 = 0) seed emitted: ${got.mkString(", ")}")
  }
}
