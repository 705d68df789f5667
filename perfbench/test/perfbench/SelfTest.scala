package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** Tests of the benchmark's own arithmetic and of the feed generator.
  * Run with `python3 perfbench/test.py`; exits non-zero on any failure.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit =
    scala.util.Try(cond) match {
      case scala.util.Success(true) => passed += 1
      case scala.util.Success(false) => failures += name
      case scala.util.Failure(e) => failures += s"$name: $e"
    }

  private def range(n: Int): Seq[Double] = (1 to n).map(_.toDouble)

  def percentiles(): Unit = {
    check("median odd")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    check("median even")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    check("nearest-rank p90 of 1..100")(Stats.percentile(range(100), 90) == 90.0)
    check("nearest-rank p50 of 1..10")(Stats.percentile(range(10), 50) == 5.0)
    check("p100 is the max")(Stats.percentile(range(7), 100) == 7.0)
    check("beyond p90 of 100")(Stats.beyond(100, 90) == 10)
    check("beyond p90 of 99")(Stats.beyond(99, 90) == 9)
    // the tail is the highest percentile with >= 10 samples beyond it
    check("tail of 100 is p90")(Stats.tail(range(100)) == Some(90.0 -> 90.0))
    check("tail of 99 falls to p80")(Stats.tail(range(99)) == Some(80.0 -> 80.0))
    check("tail of 1000 is p99")(Stats.tail(range(1000)) == Some(99.0 -> 990.0))
    check("tail of 20000 is p99.9")(Stats.tail(range(20000)).map(_._1) == Some(99.9))
    check("no tail under 40 samples")(Stats.tail(range(39)).isEmpty)
    check("tail of 40 is p75")(Stats.tail(range(40)) == Some(75.0 -> 30.0))
    check("tail ignores input order")(
      Stats.tail(scala.util.Random.shuffle(range(100))) == Some(90.0 -> 90.0))
  }

  def listingDiff(): Unit = {
    val dir = Files.createTempDirectory("perfbench-selftest")
    def write(rel: String, bytes: Int): Path = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](bytes)(1))
    }
    try {
      write("gold/a/part-0", 100)
      write("gold/a/part-1", 200)
      write("gold/b/part-0", 300)
      val before = Stats.listing(dir)
      check("listing sees every file")(before.size == 3)
      check("total bytes")(Stats.totalBytes(before) == 600)
      check("no change writes nothing")(
        Stats.bytesWritten(before, Stats.listing(dir)) == 0)
      // a new file, a file rewritten with another size, a deleted file,
      // and a same-size file swapped in by rename
      write("gold/c/part-0", 50)
      write("gold/a/part-1", 250)
      Files.delete(dir.resolve("gold/a/part-0"))
      val tmp = write("tmp-swap", 300)
      Files.move(tmp, dir.resolve("gold/b/part-0"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      val after = Stats.listing(dir)
      check("written = new + rewritten + swapped, deletions free")(
        Stats.bytesWritten(before, after) == 50 + 250 + 300)
      check("net change")(Stats.totalBytes(after) - Stats.totalBytes(before) == 0)
      check("missing root lists nothing")(
        Stats.listing(dir.resolve("absent")).isEmpty)
    } finally deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit = {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally it.close()
  }

  def generator(): Unit = {
    val a = new FeedGen(7).document("2025-03-01", "2025-03-07")
    val b = new FeedGen(7).document("2025-03-01", "2025-03-07")
    check("same seed, same bytes")(java.util.Arrays.equals(
      a.getBytes("UTF-8"), b.getBytes("UTF-8")))
    check("another seed, other bytes")(
      new FeedGen(8).document("2025-03-01", "2025-03-07") != a)
    // a date's content does not depend on which dates were generated first
    val g = new FeedGen(7)
    g.document("2024-01-01", "2024-01-03")
    check("date content is order-free")(
      g.document("2025-03-04", "2025-03-04") ==
        new FeedGen(7).document("2025-03-04", "2025-03-04"))
    val days = (0 until 30).map(i =>
      java.time.LocalDate.parse("2025-05-01").plusDays(i).toString)
    val neos = days.map(d => d -> new FeedGen(7).neos(d))
    check("neos per day")(neos.forall(_._2.size == 100))
    check("ids distinct within a day")(
      neos.forall { case (_, ns) => ns.map(_.id).distinct.size == ns.size })
    check("ids re-observed across days")(
      neos.flatMap(_._2.map(_.id)).distinct.size < neos.map(_._2.size).sum)
    val approaches = neos.flatMap { case (d, ns) => ns.map(n => d -> n) }
    check("0-2 approaches, dated on the feed date, distinct minutes")(
      approaches.forall { case (d, n) =>
        n.approaches.size <= 2 && n.approaches.forall(_.date == d) &&
          n.approaches.map(_.epoch).distinct.size == n.approaches.size
      })
    check("null date_full only on a first approach")(
      approaches.forall(_._2.approaches.drop(1).forall(_.dateFull.isDefined)))
    val all = approaches.flatMap(_._2.approaches)
    check("edge cases occur")(
      all.exists(_.dateFull.isEmpty) && all.exists(_.orbitingBody.isEmpty) &&
        all.exists(_.orbitingBody.contains("Null")) &&
        all.exists(_.orbitingBody.contains("  Earth  ")) &&
        approaches.exists(_._2.approaches.isEmpty) &&
        approaches.exists(_._2.name == "NULL"))
  }

  def json(): Unit = {
    check("json escapes")(Json(Map("a\"b" -> "x\ny\\")) == "{\"a\\\"b\":\"x\\u000ay\\\\\"}")
    check("json refuses NaN")(
      try { Json(Double.NaN); false } catch { case _: IllegalArgumentException => true })
  }

  def recordedAnswers(): Unit = {
    val text = "{\n\"q1_agg\":{\"rows\":6,\"hash\":84},\n" +
      "\"q_star_join\":{\"rows\":5,\"hash\":103}\n}\n"
    check("every recorded answer parses")(Board.parseExpected(text) ==
      Map("q1_agg" -> (6L, 84L), "q_star_join" -> (5L, 103L)))
    val recorded = Board.parseExpected(Files.readString(
      java.nio.file.Paths.get("perfbench", "expected", "operator_board.json")))
    check("the recorded file covers every board query")(
      Board.Queries.forall(recorded.contains))
  }

  def main(args: Array[String]): Unit = {
    recordedAnswers()
    percentiles()
    listingDiff()
    generator()
    json()
    failures.foreach(f => println(s"FAIL $f"))
    println(s"$passed passed, ${failures.size} failed")
    if (failures.nonEmpty) sys.exit(1)
  }
}
