package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.BasicFileAttributes

/** The benchmark's own arithmetic: order statistics and byte accounting. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the value at 1-based rank ceil(p/100 * n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted
    s(rank(s.size, p) - 1)
  }

  private def rank(n: Int, p: Double): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Samples strictly beyond the nearest-rank `p`th percentile. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest of `candidates` with at least `minBeyond` samples beyond
    * it, with its value; None when even the lowest has too few.
    */
  def tail(xs: Seq[Double], candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 80, 75),
           minBeyond: Int = 10): Option[(Double, Double)] =
    candidates.sorted.reverse.find(p => beyond(xs.size, p) >= minBeyond)
      .map(p => p -> percentile(xs, p))

  /** Identity of one file in a listing: a rewritten file changes at least
    * one of size, modification time and file key (inode).
    */
  final case class FileId(size: Long, mtimeNs: Long, key: String)

  /** Every regular file under `root`, by path relative to it. */
  def listing(root: Path): Map[String, FileId] =
    if (!Files.exists(root)) Map.empty
    else {
      val it = Files.walk(root)
      try {
        val b = Map.newBuilder[String, FileId]
        it.forEach { p =>
          val a = Files.readAttributes(p, classOf[BasicFileAttributes])
          if (a.isRegularFile)
            b += root.relativize(p).toString -> FileId(a.size,
              a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
              String.valueOf(a.fileKey))
        }
        b.result()
      } finally it.close()
    }

  /** Bytes of the files in `after` that are new or rewritten since
    * `before`. Deleted files write nothing.
    */
  def bytesWritten(before: Map[String, FileId],
                   after: Map[String, FileId]): Long =
    after.iterator.collect {
      case (p, id) if !before.get(p).contains(id) => id.size
    }.sum

  def totalBytes(listing: Map[String, FileId]): Long =
    listing.valuesIterator.map(_.size).sum
}

/** Minimal JSON writer for flat result records (no dependency beyond
  * the JDK). Non-finite doubles have no JSON form and are refused.
  */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite value $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}
