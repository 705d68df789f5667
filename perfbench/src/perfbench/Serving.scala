package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

/** The six `gold_serving` query templates and their answer checks. */
object Serving {

  /** One seeded query. `sampleOf` marks a `LIMIT n` read of a whole table
    * without ORDER BY, whose rows need only be some n rows of the table.
    */
  final case class Instance(text: String, sampleOf: Option[(String, Int)] = None)

  /** One dashboard panel: a template and its seeded instance. */
  final case class Template(name: String, instance: Instance)

  private val Star =
    """FROM fact_asteroid_approach f
      |JOIN dim_approach_date d ON f.sk_approach_date = d.sk_approach_date""".stripMargin

  /** The six templates over the served gold views, one seeded instance
    * each.
    */
  def templates(lake: Lake): IndexedSeq[Template] = {
    val rng = new SplittableRandom(FeedGen.mix(lake.run.opts.seed + 5))
    def pick[A](xs: IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
    val ids = lake.spark.sql("SELECT id FROM dim_asteroid ORDER BY id")
      .collect().map(_.getInt(0)).toIndexedSeq
    val days = lake.backlogDates.map(LocalDate.parse).toIndexedSeq
    def window(len: Int): (LocalDate, LocalDate) = {
      val d0 = pick(days.dropRight(len - 1))
      (d0, d0.plusDays(len - 1))
    }
    def exact(text: String) = Instance(text)

    IndexedSeq(
      Template("catalog_read", {
        val table = pick(IndexedSeq(
          "dim_asteroid", "fact_asteroid_approach", "dim_approach_date"))
        val limit = pick(IndexedSeq(10, 50, 100))
        Instance(s"SELECT * FROM $table LIMIT $limit", Some(table -> limit))
      }),
      Template("point_lookup", exact(
        s"SELECT * FROM dim_asteroid WHERE id = ${pick(ids)}")),
      Template("range_30d", {
        val (a, b) = window(30)
        exact(s"""SELECT count(*) AS n_approaches,
                 |  count(DISTINCT f.sk_asteroid) AS n_asteroids,
                 |  avg(f.miss_km) AS avg_miss_km,
                 |  max(f.velocity_km_s) AS max_velocity_km_s
                 |$Star
                 |WHERE d.approach_date BETWEEN DATE'$a' AND DATE'$b'""".stripMargin)
      }),
      Template("body_star", {
        val month = pick(days).getMonthValue
        exact(s"""SELECT b.orbiting_body,
                 |  count(*) AS n_approaches,
                 |  count(DISTINCT f.sk_asteroid) AS n_asteroids,
                 |  min(f.miss_km) AS min_miss_km,
                 |  max(f.velocity_km_s) AS max_velocity_km_s
                 |$Star
                 |JOIN dim_orbiting_body b ON f.sk_orbiting_body = b.sk_orbiting_body
                 |WHERE d.year = ${days.head.getYear} AND d.month = $month
                 |GROUP BY b.orbiting_body
                 |ORDER BY b.orbiting_body""".stripMargin)
      }),
      Template("hazardous_topk", {
        val (a, b) = window(60)
        val k = pick(IndexedSeq(10, 25))
        exact(s"""SELECT a.id, a.name, f.miss_km, d.approach_date_full
                 |$Star
                 |JOIN dim_asteroid a ON f.sk_asteroid = a.sk_asteroid
                 |WHERE a.is_hazardous
                 |  AND d.approach_date BETWEEN DATE'$a' AND DATE'$b'
                 |ORDER BY f.miss_km, a.id, d.approach_date_full
                 |LIMIT $k""".stripMargin)
      }),
      Template("year_month", {
        val maxMiss = pick(IndexedSeq(1e6, 5e6, 2e7, 5e7, 8e7))
        exact(s"""SELECT d.year, d.month, count(*) AS n_approaches,
                 |  count(DISTINCT f.sk_asteroid) AS n_asteroids
                 |$Star
                 |WHERE f.miss_km < $maxMiss
                 |GROUP BY d.year, d.month
                 |ORDER BY d.year, d.month""".stripMargin)
      }))
  }

  /** The answers that differ from the same SQL over the views `ref` serves.
    * A sampled read must return min(n, table rows) rows, all of them rows
    * of the table; any other answer must equal the reference row by row.
    */
  def wrongAnswers(ref: SparkSession,
                   answers: Seq[(Instance, Array[Row])]): Seq[Instance] = {
    val (sampled, exact) = answers.partition(_._1.sampleOf.isDefined)
    val expected = exact.map(_._1.text).distinct
      .map(text => text -> ref.sql(text).collect()).toMap
    val wrongExact = exact.collect { case (inst, rows)
      if rows.length != expected(inst.text).length ||
        !rows.zip(expected(inst.text)).forall { case (a, b) => close(a, b) } =>
      inst
    }
    val wrongSampled = sampled.groupBy(_._1.sampleOf.get._1).toSeq.flatMap {
      case (table, as) =>
        val all = ref.table(table).collect().toSet
        as.collect { case (inst, rows)
          if !rows.forall(all.contains) ||
            rows.length != math.min(inst.sampleOf.get._2, all.size) =>
          inst
        }
    }
    wrongExact ++ wrongSampled
  }

  /** Equal, with doubles equal to 1e-9 relative (sums over doubles depend
    * on the order a layout feeds them in).
    */
  def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => close(x.get(i), y.get(i)))
    case _ => a == b
  }
}
