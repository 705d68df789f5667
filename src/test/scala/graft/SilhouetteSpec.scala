package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.VectorQueries

/** Invariants of the IVF-partition silhouette gate (q_silhouette). */
class SilhouetteSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val rows =
    VectorQueries.queries("q_silhouette")(spark, sf).collect()

  test("every cell is populated and scores stay in [0, 10⁶] ppm") {
    assert(rows.length == 16, s"expected 16 cells, got ${rows.length}")
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("n_members")).sum == n)
    rows.foreach { r =>
      val mean = r.getAs[Long]("mean_s_ppm")
      val sum = r.getAs[Long]("sum_s_ppm")
      val m = r.getAs[Long]("n_members")
      // a ≤ b by argmin construction ⇒ s ∈ [0, 10⁶] per point
      assert(mean >= 0L && mean <= 1000000L, s"cell mean $mean out of range")
      assert(sum >= 0L && sum <= 1000000L * m, s"cell sum $sum out of range")
    }
  }

  test("seed vectors are their own cells' anchors: every seed cell " +
    "contains a zero-distance member, so no cell mean can be pinned " +
    "at the tie floor unless the whole cell ties") {
    // the seed vector of cell k has a = 0 against its own centroid —
    // its silhouette is 10⁶ unless another centroid duplicates it.
    // With distinct seeds, every cell's sum must therefore be ≥ 10⁶
    // minus nothing — i.e. strictly positive.
    rows.foreach { r =>
      assert(r.getAs[Long]("sum_s_ppm") >= 1000000L,
        s"cell ${r.getAs[Long]("cell")} lost its seed anchor")
    }
  }

  test("generic facade: exact anchors score 10⁶, equidistant ties 0") {
    import spark.implicits._
    val emb = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(0.5f, 0.5f))
      .toDF("embedding")
    val cents = Seq((0, Seq(1.0f, 0.0f)), (1, Seq(0.0f, 1.0f)))
      .toDF("cell", "centroid")
    val got = VectorQueries.partitionSilhouette(emb, "embedding", cents)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("sum_s_ppm"),
          r.getAs[Long]("mean_s_ppm")))).toMap
    // (1,0) anchors cell 0 at s=10⁶; the midpoint ties both centroids
    // → struct-min assigns the LOWER cell with s=0
    assert(got(0L) === ((2L, 1000000L, 500000L)), s"cell 0: $got")
    assert(got(1L) === ((1L, 1000000L, 1000000L)), s"cell 1: $got")
  }

  test("a single-cell partition is refused loudly (b is undefined — " +
    "NULL scores would silently diverge from the oracle)") {
    import spark.implicits._
    val emb = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)).toDF("embedding")
    val one = Seq((0, Seq(1.0f, 0.0f))).toDF("cell", "centroid")
    val e = intercept[IllegalArgumentException] {
      VectorQueries.partitionSilhouette(emb, "embedding", one).collect()
    }
    assert(e.getMessage.contains(">= 2 distinct cells"), e.getMessage)
    // duplicate cell ids collapse to one distinct cell — same refusal
    val dup = Seq((0, Seq(1.0f, 0.0f)), (0, Seq(0.0f, 1.0f)))
      .toDF("cell", "centroid")
    intercept[IllegalArgumentException] {
      VectorQueries.partitionSilhouette(emb, "embedding", dup).collect()
    }
  }
}
