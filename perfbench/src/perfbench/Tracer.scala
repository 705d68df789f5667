package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer: a name, its interval, the span that
  * caused it, and the counters attributed to it.
  */
final class Span(val id: Long, val name: String, val parent: Option[Span],
                 val phase: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = startNs
  @volatile var endMs: Long = startMs
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(k: String, v: Double): Unit =
    synchronized { counters(k) = counters.getOrElse(k, 0.0) + v }
  def addJob(startMs: Long, endMs: Long): Unit =
    synchronized { jobs += ((startMs, endMs)) }
  def snapshot: Map[String, Double] = synchronized(counters.toMap)
  def jobIntervals: Seq[(Long, Long)] = synchronized(jobs.toSeq)
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program, with Spark's own
  * counters attributed to them from outside the program:
  *   - a [[SparkListener]] attributes jobs and task metrics to the span
  *     whose id rode the job's local properties;
  *   - a [[QueryExecutionListener]] adds each query execution's planning
  *     phases (analysis, optimization, planning) to the open span, once
  *     per execution;
  *   - the codegen compile count is the delta of Spark's
  *     `CodegenMetrics` compilation histogram across the span.
  *
  * Spans and counters stay in memory; [[report]] summarizes them when
  * the run ends. Spans must be opened from one caller thread.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val PropKey = "perfbench.span"
  private val nextId = new AtomicLong
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val openJobs = new ConcurrentHashMap[Int, (Span, Long)]
  private val seenQe = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]))
  private var stack: List[Span] = Nil
  @volatile private var open: Span = null
  private var attached = false
  private var lastClosed: Option[Span] = None

  /** Label given to spans opened from now on ("setup" or "loop"). */
  var phase: String = "setup"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.add("jobs", 1)
          openJobs.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageSpan.put(_, s))
        }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(openJobs.remove(e.jobId)).foreach { case (s, t0) =>
        s.addJob(t0, e.time)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("executor_run_ms", m.executorRunTime.toDouble)
          s.add("executor_cpu_ms", m.executorCpuTime / 1e6)
          s.add("gc_ms", m.jvmGCTime.toDouble)
          s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          s.add("shuffle_write_bytes",
            m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spill_bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
      notePlan(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      notePlan(qe)
  }

  /** Add `qe`'s planning phases to the open span, unless an earlier span
    * already counted this execution.
    */
  def notePlan(qe: QueryExecution): Unit = {
    val s = open
    if (s != null && seenQe.add(qe)) {
      val phases = qe.tracker.phases
      s.add("plan_ms", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum)
    }
  }

  /** Attach the listeners; spans are recorded only while attached. */
  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def isAttached: Boolean = attached

  private def compiles(): Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` inside a span named `name`; a plain call when detached. */
  def span[A](name: String)(body: => A): A =
    if (!attached) body
    else {
      val s = new Span(nextId.incrementAndGet(), name, stack.headOption, phase)
      byId.put(s.id, s)
      spans += s
      val outerProp = sc.getLocalProperty(PropKey)
      sc.setLocalProperty(PropKey, s.id.toString)
      stack = s :: stack
      open = s
      val c0 = compiles()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.add("codegen_compiles", (compiles() - c0).toDouble)
        // planning events of this span's queries land before the next
        // span opens
        PerfbenchBus.drain(sc)
        stack = stack.tail
        open = stack.headOption.orNull
        sc.setLocalProperty(PropKey, outerProp)
        lastClosed = Some(s)
      }
    }

  /** Add a counter measured from outside to the span that closed last. */
  def addToLast(k: String, v: Double): Unit =
    if (attached) lastClosed.foreach(_.add(k, v))

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }

  /** Every span's counters, plus `ms`, `self_ms` (the span minus the part
    * its child spans cover) and `driver_only_ms` (the span minus the
    * union of its job intervals).
    */
  def spanMetrics: Seq[(Span, Map[String, Double])] = {
    PerfbenchBus.drain(sc)
    val children = spans.groupBy(_.parent.map(_.id))
    spans.toSeq.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil)
        .map(k => (k.startNs, k.endNs)).toSeq
      val selfMs = s.ms - covered(kids, s.startNs, s.endNs) / 1e6
      val jobMs = covered(s.jobIntervals, s.startMs, s.endMs).toDouble
      s -> (s.snapshot ++ Map("ms" -> s.ms, "self_ms" -> selfMs,
        "driver_only_ms" -> math.max(0.0, s.ms - jobMs)))
    }
  }

  /** Per boundary: the mean per call of every counter, over the calls in
    * the timed loop, or over the set-up calls for a boundary the loop
    * never crossed. `ratios` name derived metrics computed as a ratio of
    * sums over the same calls: name -> (numerator, denominator).
    */
  def report(ratios: Map[String, (String, String)] = Map.empty)
      : Map[String, Map[String, Double]] =
    spanMetrics.groupBy(_._1.name).map { case (name, calls) =>
      val loop = calls.filter(_._1.phase == "loop")
      val chosen = (if (loop.nonEmpty) loop else calls).map(_._2)
      val keys = chosen.flatMap(_.keys).distinct
      val means = keys.map(k =>
        k -> chosen.map(_.getOrElse(k, 0.0)).sum / chosen.size).toMap
      val derived = ratios.collect {
        case (r, (num, den)) if keys.contains(num) && keys.contains(den) &&
            chosen.map(_.getOrElse(den, 0.0)).sum > 0 =>
          r -> chosen.map(_.getOrElse(num, 0.0)).sum /
            chosen.map(_.getOrElse(den, 0.0)).sum
      }
      name -> (means ++ derived + ("calls" -> chosen.size.toDouble) +
        ("phase_is_loop" -> (if (loop.nonEmpty) 1.0 else 0.0)))
    }

  /** All spans as JSON-ready maps, for the trace file. */
  def dump: Seq[Map[String, Any]] = spanMetrics.map { case (s, m) =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent.map(_.id),
      "phase" -> s.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "counters" -> m)
  }
}
