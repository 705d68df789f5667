package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.l2Sq

/** Lloyd's k-means over `array<float>` embeddings, as pure DataFrame
  * aggregation — the training step that turns the IVF index's
  * deterministic seed centroids into fitted ones.
  *
  * Per iteration: assignment is the same narrow argmin aggregate the IVF
  * query uses (embeddings never enter that shuffle), and the centroid
  * update is an element-wise mean via posexplode → (cell, pos) avg →
  * array rebuild (per-cell arrays are dimension-bounded, so collect_list
  * here is safe). Each iteration ends by materializing the centroid
  * table on the DRIVER ([[Fixpoint.onDriver]]; [[Fixpoint]] states the
  * bounded-lineage contract): the centroid set is index METADATA
  * (C·dim floats, C ≤ ~10⁵ even at 100 TB — the same data every IVF
  * step broadcasts in one row), so the collect is bounded.
  */
object KMeans {

  /** (vec_id, cell, d2): nearest centroid per vector. */
  def assign(emb: DataFrame, centroids: DataFrame): DataFrame =
    emb.crossJoin(broadcast(centroids))
      .select(col("vec_id"),
        struct(l2Sq(col("embedding"), col("centroid")).as("d2"),
          col("cell").as("cell")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"))
      .select(col("vec_id"), col("m.cell").as("cell"), col("m.d2").as("d2"))

  /** Refine centroids for `iters` Lloyd iterations. Empty cells drop out
    * (standard Lloyd behavior — k can only shrink).
    */
  def refine(emb: DataFrame, initial: DataFrame,
             iters: Int = 3): DataFrame = {
    var cent = initial
    var i = 0
    while (i < iters) {
      val assigned = assign(emb, cent)
      cent = emb.join(assigned, "vec_id")
        .select(col("cell"), posexplode(col("embedding")))
        .toDF("cell", "pos", "v")
        .groupBy(col("cell"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cell"),
          transform(col("pm"), x => x.getField("m").cast("float"))
            .as("centroid"))
      cent = Fixpoint.onDriver(cent)
      i += 1
    }
    cent
  }

  /** Within-cluster sum of squares — the convergence metric. */
  def wcss(emb: DataFrame, centroids: DataFrame): DataFrame =
    assign(emb, centroids).agg(sum(col("d2")).as("wcss"))

  /** Fixed-point quantization scale for [[refineQuantized]]: 2²⁰ per
    * unit, so a coordinate in [−1, 1] becomes an exact integer ≤ 2²⁰
    * and a 2⁵³-safe sum holds ~2³³ member vectors per cell.
    */
  val QUANT: Long = 1L << 20

  /** Lloyd refinement whose centroid update is EXACTLY reproducible on
    * any engine: coordinates are quantized to integers
    * (`floor(x · 2²⁰)` — floor of an exact power-of-two product, no
    * rounding-mode ambiguity), summed exactly (integer addition is
    * order-free, unlike the float summation in [[refine]] whose low
    * bits depend on partitioning), and the mean `(Σq / n) / 2²⁰` is two
    * correctly-rounded IEEE divisions — bit-identical in Spark and
    * DuckDB. The result is cast to float (correctly rounded again) so
    * downstream distance math hits the native `l2_sq` float path.
    *
    * Assignment is the same zero-shuffle in-row argmin the IVF queries
    * use ([[VectorQueries.withCell]]); the update is one posexplode
    * aggregation keyed by (cell, pos) — dimension-bounded, map-side
    * combinable. This is what lets a FITTED index stay inside the
    * DuckDB-oracle hash gate (q_ann_ivf_kmeans) instead of being
    * spec-only: determinism is a property of the algorithm, not of a
    * tolerance.
    */
  def refineQuantized(emb: DataFrame, initial: DataFrame,
                      iters: Int): DataFrame = {
    var cent = initial
    var i = 0
    while (i < iters) {
      val assigned = VectorQueries.withCell(
        emb, VectorQueries.centroidArray(cent), col("embedding"))
      cent = assigned
        .select(col("cell"), posexplode(col("embedding")))
        .toDF("cell", "pos", "v")
        .groupBy(col("cell"), col("pos"))
        .agg(sum(floor(col("v").cast("double") * QUANT)).as("s"),
          count(lit(1)).as("n"))
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("pos"),
          ((col("s").cast("double") / col("n")) / QUANT).cast("float")
            .as("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), x => x.getField("m")).as("centroid"))
      cent = Fixpoint.onDriver(cent)
      i += 1
    }
    cent
  }
}
