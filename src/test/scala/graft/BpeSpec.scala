package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** BPE merge training: fold-based merge application (greedy
  * left-to-right, overlap rule), hand-computed merge sequences,
  * deterministic tie-breaks, early stop, and train/apply round-trip.
  */
class BpeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def applied(toks: Seq[String], l: String, r: String): Seq[String] =
    Seq(Tuple1(toks)).toDF("toks")
      .select(Bpe.applyMerge(col("toks"), l, r).as("out"))
      .head().getSeq[String](0)

  test("applyMerge: basic pair replacement, multiple occurrences") {
    assert(applied(Seq("a", "b", "c", "a", "b"), "a", "b")
      === Seq("a b", "c", "a b"))
  }

  test("applyMerge: greedy first-wins on overlapping runs") {
    // [a,a,a] merges positions 1-2 only: the fresh "a a" unit is not "a"
    assert(applied(Seq("a", "a", "a"), "a", "a") === Seq("a a", "a"))
    assert(applied(Seq("a", "a", "a", "a"), "a", "a")
      === Seq("a a", "a a"))
  }

  test("applyMerge: no match and empty input pass through") {
    assert(applied(Seq("x", "y"), "a", "b") === Seq("x", "y"))
    assert(applied(Seq.empty, "a", "b") === Seq.empty)
    assert(applied(Seq("a"), "a", "b") === Seq("a"))
  }

  test("applyMerge: merged units compose in later rounds") {
    assert(applied(Seq("a b", "c", "d"), "a b", "c")
      === Seq("a b c", "d"))
  }

  test("applyMerges: rank order is applied in sequence") {
    assert(
      Seq(Tuple1(Seq("a", "b", "c"))).toDF("toks")
        .select(Bpe.applyMerges(col("toks"),
          Seq(("a", "b"), ("a b", "c"))).as("out"))
        .head().getSeq[String](0)
      === Seq("a b c"))
  }

  test("train: hand-computed two-round merge sequence") {
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b c d")).toDF("doc_id", "text")
    // round 1 pairs: (a,b)=3, (b,c)=2, (b,a)=1, (c,d)=1 → merge (a,b)
    // round 2 over [a b, a b, c] and [a b, c, d]:
    //   (a b, a b)=1, (a b, c)=2, (c,d)=1 → merge (a b, c)
    val got = Bpe.train(docs, "doc_id", "text", nMerges = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, "a", "b", 3L), (2L, "a b", "c", 2L)))
  }

  test("train: count ties break lexicographically on (left, right)") {
    // (a,z) and (b,y) both occur twice in disjoint docs → pick (a,z)
    val docs = Seq(
      (1L, "a z q a z"),
      (2L, "b y q b y")).toDF("doc_id", "text")
    val first = Bpe.train(docs, "doc_id", "text", nMerges = 1)
      .head()
    assert((first.getString(1), first.getString(2)) === ("a", "z"))
  }

  test("train: stops early when no pair repeats") {
    val docs = Seq((1L, "p q r"), (2L, "s t u")).toDF("doc_id", "text")
    assert(Bpe.train(docs, "doc_id", "text", nMerges = 5).count() === 0)
  }

  test("train+applyMerges round-trip compresses the training corpus") {
    val docs = Seq(
      (1L, "the quick fox the quick dog"),
      (2L, "the quick fox jumps"),
      (3L, "the quick start")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, "doc_id", "text", nMerges = 2)
      .orderBy(col("rank"))
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    // "the quick" (3 occurrences... 4 with doc1's two) dominates
    assert(merges.head === ("the", "quick"))
    val total = docs.select(
      size(Bpe.applyMerges(
        graft.functions.TextFunctions.tokens(col("text")), merges))
        .as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    val raw = docs.select(
      size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(total < raw) // every applied merge removed one slot
  }

  test("train: at most three jobs per merge round, plus the truncation " +
    "writes") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // 17 rounds truncate at ranks 8 and 16; measured 53 jobs
    val jobs = launched(Bpe.train(docs, "doc_id", "text", nMerges = 17)).jobs
    assert(jobs <= 3 * 17 + 2, s"$jobs jobs for 17 merge rounds")
    graft.CacheRegistry.releaseAll()
  }

  test("q_bpe_sampled gate: slice-trained ranks are dense, counts " +
    "non-increasing, corpus apply surfaces live merged units") {
    val out = graft.operators.TextQueries
      .queries("q_bpe_sampled")(spark, sf)
      .orderBy(col("rank")).collect()
    assert(out.nonEmpty, "sampled trainer learned nothing on sf0.001")
    assert(out.map(_.getAs[Long]("rank")).toSeq ===
      (1L to out.length.toLong))
    // each new pair instance contains an instance of the unit the
    // previous round created, so per-round argmax counts can't grow
    val ns = out.map(_.getAs[Long]("n_occurrences")).toSeq
    assert(ns === ns.sorted.reverse, s"counts increased across ranks: $ns")
    assert(ns.forall(_ >= 2))
    // the corpus-wide apply must surface at least one merge as a live
    // final unit (all-zero would mean applyMerges never fired)
    assert(out.map(_.getAs[Long]("n_units_corpus")).exists(_ > 0))
    graft.CacheRegistry.releaseAll()
  }
}
