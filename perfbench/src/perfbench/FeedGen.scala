package perfbench

import java.time.{LocalDate, ZoneOffset}
import java.util.{Locale, SplittableRandom}

import graft.sources.FeedFetcher
import graft.sources.NeoFixture.{Approach, Neo, feedJson}

/** Seeded NeoWs feed generator for arbitrary dates.
  *
  * Every document is built from the public [[graft.sources.NeoFixture]]
  * types and depends only on (seed, date), so the same seed yields the
  * same bytes for a date no matter which other dates were generated or
  * in what order.
  *
  * Shape of one day: `neosPerDay` NEOs whose ids are distinct within the
  * day and drawn from a pool of `poolSize` asteroids, so asteroids are
  * re-observed across days with slightly refined attributes. Each NEO
  * has 0-2 approaches dated on the feed date. The fixture's edge cases
  * occur at fixed rates: the `"NULL"` name placeholder, padded and
  * `"Null"` body placeholders, JSON-null bodies, second planets, and a
  * null `close_approach_date_full`.
  *
  * Two invariants keep the gold merge's survivor deterministic, so a
  * gold answer can be compared with one derived from silver: approach
  * minutes of one NEO on one day are distinct, and at most its first
  * approach has a null `close_approach_date_full`.
  */
final class FeedGen(seed: Long, neosPerDay: Int = 100,
                    poolSize: Int = 20000) {
  require(neosPerDay <= poolSize, "neosPerDay must not exceed poolSize")

  private def rng(salt: Long): SplittableRandom =
    new SplittableRandom(FeedGen.mix(seed * 0x9E3779B97F4A7C15L + salt))

  /** Pool slot -> NEO id (fits an int, as silver casts it). */
  def idOf(slot: Int): Int = 2000000 + slot * 53

  /** Day-independent attributes of a pool slot. */
  private final case class Base(name: String, magnitude: Double,
                                hazardous: Boolean, sentry: Boolean)

  private def base(slot: Int): Base = {
    val r = rng(1L << 40 | slot.toLong)
    val year = 1990 + r.nextInt(36)
    val letters = ('A' + r.nextInt(26)).toChar.toString +
      ('A' + r.nextInt(26)).toChar
    Base(s"($year $letters${r.nextInt(100)})",
      magnitude = 15.0 + r.nextInt(1300) / 100.0,
      hazardous = r.nextInt(100) < 12,
      sentry = r.nextInt(100) < 3)
  }

  /** The NEOs observed on `date`. */
  def neos(date: String): Seq[Neo] = {
    val day = LocalDate.parse(date)
    val r = rng(day.toEpochDay)
    // partial Fisher-Yates over a lazily materialized permutation:
    // neosPerDay distinct slots without touching the whole pool
    val swapped = scala.collection.mutable.HashMap.empty[Int, Int]
    val slots = (0 until neosPerDay).map { i =>
      val j = i + r.nextInt(poolSize - i)
      val at = swapped.getOrElse(j, j)
      swapped(j) = swapped.getOrElse(i, i)
      at
    }
    slots.map(slot => neo(slot, day, r))
  }

  private def neo(slot: Int, day: LocalDate, r: SplittableRandom): Neo = {
    val b = base(slot)
    // re-observations refine magnitude and diameter a little
    val mag = round2(b.magnitude + (r.nextInt(21) - 10) / 100.0)
    // the standard H -> diameter relation, albedo 0.25
    val diamMin = round4(1329.0 / math.sqrt(0.25) * math.pow(10, -0.2 * mag))
    val diamMax = round4(diamMin * 2.236)
    val name = if (r.nextInt(100) < 4) "NULL" else b.name
    val nApproaches = r.nextInt(10) match {
      case 0 => 0
      case 1 | 2 => 2
      case _ => 1
    }
    // distinct minutes of the day, ascending
    val minutes = Iterator.continually(r.nextInt(24 * 60))
      .distinct.take(nApproaches).toSeq.sorted
    val approaches = minutes.zipWithIndex.map { case (m, i) =>
      approach(day, m, nullDateFull = i == 0 && r.nextInt(100) < 5, r)
    }
    Neo(idOf(slot).toString, name, mag, b.hazardous, b.sentry,
      diamMin, diamMax, approaches)
  }

  private def approach(day: LocalDate, minuteOfDay: Int,
                       nullDateFull: Boolean,
                       r: SplittableRandom): Approach = {
    val hh = minuteOfDay / 60
    val mm = minuteOfDay % 60
    val month = FeedGen.months(day.getMonthValue - 1)
    val full = String.format(Locale.ROOT, "%04d-%s-%02d %02d:%02d",
      Int.box(day.getYear), month, Int.box(day.getDayOfMonth), Int.box(hh),
      Int.box(mm))
    val epoch = day.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli +
      minuteOfDay * 60000L
    val kmS = 3.0 + r.nextInt(27000) / 1000.0
    val missKm = 1.0e5 + r.nextInt(75000) * 1000.0
    val body = r.nextInt(100) match {
      case x if x < 3 => Some("Venus")
      case x if x < 6 => Some("Mars")
      case x if x < 9 => Some("  Earth  ")
      case x if x < 12 => Some("Null")
      case x if x < 15 => None
      case _ => Some("Earth")
    }
    Approach(day.toString, if (nullDateFull) None else Some(full), epoch,
      kmS = fmt("%.2f", kmS), kmH = fmt("%.1f", kmS * 3600),
      miH = fmt("%.1f", kmS * 2236.94),
      au = fmt("%.4f", missKm / 1.496e8), lunar = fmt("%.2f", missKm / 384400),
      km = fmt("%.1f", missKm), mi = fmt("%.1f", missKm * 0.621371),
      orbitingBody = body)
  }

  /** Feed document for the inclusive range, one map entry per date. */
  def document(start: String, end: String): String = {
    val s = LocalDate.parse(start)
    val e = LocalDate.parse(end)
    val dates = Iterator.iterate(s)(_.plusDays(1)).takeWhile(!_.isAfter(e))
      .map(_.toString).toSeq
    feedJson(dates.map(d => d -> neos(d)))
  }

  /** The generator behind the production [[FeedFetcher]] interface. */
  def fetcher: FeedFetcher = new FeedFetcher {
    def fetch(startDate: String, endDate: String): String =
      document(startDate, endDate)
  }

  private def fmt(pattern: String, x: Double): String =
    String.format(Locale.ROOT, pattern, Double.box(x))
  private def round2(x: Double): Double = math.rint(x * 100) / 100
  private def round4(x: Double): Double = math.rint(x * 10000) / 10000
}

object FeedGen {
  private val months = Vector("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  /** SplitMix64 finalizer: spreads nearby seeds over the state space. */
  private[perfbench] def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
