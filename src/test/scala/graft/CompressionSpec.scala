package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Compression

/** Deflate compression-ratio signal: deterministic, ordering-correct,
  * edge-safe. (No DuckDB oracle is possible — the statistic IS the
  * zlib encoding — so the spec carries the correctness burden.)
  */
class CompressionSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
    (2L, "the quick brown fox jumps over a lazy dog while rain falls"),
    (3L, ""),
    (4L, "x")).toDF("doc_id", "text")

  private def byId(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_raw"), r.getAs[Long]("n_deflate"),
        Option(r.getAs[java.lang.Long]("ratio_bp")).map(_.toLong)))).toMap

  test("repetitive text compresses far below varied prose") {
    val m = byId(Compression.ratios(docs, "doc_id", "text"))
    val (rep, prose) = (m(1L)._3.get, m(2L)._3.get)
    assert(rep < prose)
    assert(rep < 5000)    // 12× repetition must at least halve the size
    assert(prose > 5000)  // short prose has little to squeeze
  }

  test("edge cases: empty text null ratio, 1-byte doc, exact byte counts") {
    val m = byId(Compression.ratios(docs, "doc_id", "text"))
    // empty input still emits deflate's 2-byte empty final block —
    // the ratio (not the byte count) is what must go null
    assert(m(3L) === ((0L, 2L, None)))
    val (raw1, defl1, r1) = m(4L)
    assert(raw1 === 1L && defl1 > 0L)
    assert(r1.get === defl1 * 10000 / 1)
    m.values.foreach { case (raw, defl, ratio) =>
      assert(ratio === (if (raw == 0) None else Some(defl * 10000 / raw)))
    }
  }

  test("deterministic across runs and partitionings") {
    val a = byId(Compression.ratios(docs, "doc_id", "text"))
    val b = byId(Compression.ratios(docs.repartition(7), "doc_id", "text"))
    val c = byId(Compression.ratios(docs.repartition(1), "doc_id", "text"))
    assert(a === b)
    assert(a === c)
  }
}
