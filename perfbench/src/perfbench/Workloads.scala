package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

/** The two lake workloads. Both stand on the same seeded lake;
  * `lake_daily` keeps merging new days into it, `gold_serving` only
  * reads it over SQL.
  */
object Workloads {

  /** Fewest timed ops per run, whatever `--seconds` says. Op costs keep
    * falling for several ops while the JIT compiles, so a run that timed
    * fewer ops would report a higher median. These counts take longer than
    * the benchmark's six seconds, so every run times the same ops.
    */
  val MinDays = 3
  val MinRounds = 5

  /** Untimed `gold_serving` rounds in set-up. Round costs fall by about
    * a third over the first ten rounds while the JIT compiles the
    * planner's hot paths; the timed rounds start past the steepest part.
    */
  val WarmupRounds = 2

  /** The set-up both lake workloads share: the backlog, then day 0 through
    * the daily pipeline, so the gold tables were last committed by
    * `SilverToGold.run` and are served by `Graft.serve`. Returns the
    * day's output check.
    */
  private def setUp(lake: Lake): (String, Boolean) = {
    lake.buildBacklog()
    lake.run.mark("backlog")
    val day = lake.newDay(0)
    val ok = daily(lake, day)._4
    lake.run.mark("day0")
    s"day $day visible in the served gold" -> ok
  }

  def lakeDaily(run: Run): Outcome = {
    val lake = new Lake(run)
    val day0 = setUp(lake)
    val setupS = run.sinceStartS()
    run.tracer.phase = "loop"

    val traced, untraced, days, cpu = mutable.ArrayBuffer.empty[Double]
    val written = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var i = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < run.opts.seconds ||
        i < run.minOps(MinDays)) {
      val isTraced = run.traceIteration(i)
      val (ms, cpuMs, writtenBytes, ok) = daily(lake, lake.newDay(i + 1))
      written += writtenBytes
      cpu += cpuMs
      (if (isTraced) traced else untraced) += ms
      days += ms
      if (!ok) failed += 1
      i += 1
    }
    run.tracer.detach()
    run.tracer.phase = "done"
    run.mark("loop")
    val spaceAmp = lake.spaceAmp()
    val checks = day0 +: lake.lakeChecks()
    run.mark("checks")
    checks.filterNot(_._2).foreach(c => run.log(s"check failed: ${c._1}"))
    val attempted = days.size + checks.size
    failed += checks.count(!_._2)
    val dayMs = Stats.median(days.toSeq)
    Outcome(attempted, failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("op_cpu_ms", Stats.median(cpu.toSeq), "ms"),
        ("space_amp", spaceAmp, "ratio")),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("day_s_p50", dayMs / 1000, "s"),
        ("day_cpu_s_p50", Stats.median(cpu.toSeq) / 1000, "s"),
        ("day_write_mb", Stats.median(written.toSeq) / 1e6, "MB"),
        ("space_amp", spaceAmp, "ratio"),
        ("error_rate", failed.toDouble / attempted, "fraction"),
        ("days", days.size.toDouble, "count")),
      notes = Map("day_ms" -> days, "day_cpu_ms" -> cpu, "day_written_bytes" -> written,
        "checks" -> checks.toMap) ++
        run.overheadPct(traced.toSeq, untraced.toSeq)
          .map("trace_overhead_pct" -> _))
  }

  /** Run one day; return its wall ms and CPU ms, the bytes it wrote under
    * the lake, and whether it succeeded and is visible through the served
    * views.
    */
  private def daily(lake: Lake, day: String): (Double, Double, Double, Boolean) = {
    val before = lake.listing()
    val c0 = lake.run.cpuMs()
    val (ms, r) = lake.run.timed(lake.runDay(day))
    val cpuMs = lake.run.cpuMs() - c0
    val written = Stats.bytesWritten(before, lake.listing()).toDouble
    r.left.foreach(e => lake.run.log(s"day $day failed: $e"))
    val fresh = r.isRight && lake.run.timed {
      lake.serve()
      lake.query(lake.dayRowsQuery(day)).head.getLong(0)
    }._2.exists(_ == lake.expectedDayRows(day))
    (ms, cpuMs, written, fresh)
  }

  def goldServing(run: Run): Outcome = {
    val lake = new Lake(run)
    val day0 = setUp(lake)
    val templates = Serving.templates(lake)
    for (_ <- 1 to WarmupRounds; t <- templates) lake.query(t.instance.text)
    run.mark("warmup")
    val spaceAmp = lake.spaceAmp()
    val setupS = run.sinceStartS()
    run.tracer.phase = "loop"

    val traced, untraced, rounds, cpu = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[(Serving.Instance, Array[Row])]
    val perTemplate = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var errors = 0
    var round = 0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < run.opts.seconds ||
        round < run.minOps(MinRounds)) {
      // a round refreshes all six panels; rounds alternate in a traced run
      val isTraced = run.traceIteration(round)
      var roundMs = 0.0
      val c0 = run.cpuMs()
      templates.foreach { t =>
        val inst = t.instance
        val (ms, r) = run.timed(lake.query(inst.text))
        roundMs += ms
        latencies += ms
        perTemplate.getOrElseUpdate(t.name, mutable.ArrayBuffer.empty) += ms
        r match {
          case Right(rows) => answers += ((inst, rows))
          case Left(e) =>
            errors += 1
            run.log(s"query failed: $e")
        }
      }
      cpu += run.cpuMs() - c0
      (if (isTraced) traced else untraced) += roundMs
      rounds += roundMs
      round += 1
    }
    run.tracer.detach()
    run.tracer.phase = "done"
    run.mark("loop")

    // every answer against the same SQL over views derived from silver
    lake.serveFromSilver()
    val wrong = Serving.wrongAnswers(run.spark, answers.toSeq)
    run.mark("checks")
    wrong.take(3).foreach(inst => run.log(s"wrong answer: ${inst.text}"))
    if (!day0._2) run.log(s"check failed: ${day0._1}")
    val lat = latencies.toSeq
    val failed = errors + wrong.size + (if (day0._2) 0 else 1)
    val attempted = lat.size + 1
    val tail = Stats.tail(lat)
    Outcome(attempted, failed,
      endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("op_cpu_ms", Stats.median(cpu.toSeq), "ms"),
        ("space_amp", spaceAmp, "ratio")),
      report = Seq(
        ("setup_s", setupS, "s"),
        ("round_ms_p50", Stats.median(rounds.toSeq), "ms"),
        ("round_cpu_ms_p50", Stats.median(cpu.toSeq), "ms"),
        ("query_ms_p50", Stats.median(lat), "ms")) ++
        tail.map { case (p, v) => (s"query_ms_p${fmtP(p)}", v, "ms") } ++ Seq(
        ("space_amp", spaceAmp, "ratio"),
        ("error_rate", failed.toDouble / attempted, "fraction"),
        ("queries", lat.size.toDouble, "count")),
      notes = Map("round_ms" -> rounds, "round_cpu_ms" -> cpu,
        "per_template_ms_p50" -> perTemplate.map { case (k, v) =>
          k -> Stats.median(v.toSeq) }) ++
        run.overheadPct(traced.toSeq, untraced.toSeq)
          .map("trace_overhead_pct" -> _))
  }

  private def fmtP(p: Double): String =
    if (p == p.floor) p.toInt.toString else p.toString.replace('.', '_')
}
