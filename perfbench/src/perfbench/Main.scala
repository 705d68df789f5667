package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.Graft

final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String, report: String,
                      sfDir: Option[String], expected: Option[String])

/** What one workload run hands back. `endToEnd` holds the metrics every
  * workload reports; `report` holds the workload's own named metrics.
  */
final case class Outcome(
    attempted: Int, failed: Int,
    endToEnd: Seq[(String, Double, String)],
    report: Seq[(String, Double, String)],
    notes: Map[String, Any] = Map.empty)

/** State shared by a run: the session, the tracer, and the clock. */
final class Run(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds from process start to now: the set-up time when called just
    * before the first timed op.
    */
  def sinceStartS(): Double = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU milliseconds the JVM has run so far on all its threads, less its
    * JIT compiler threads'. The kernel leaves time the host steals from
    * the VM out of CPU time, so this moves far less with the host's load
    * than wall time does; compiling is a first-use cost, left out as
    * warm-up is.
    */
  def cpuMs(): Double = (osBean.getProcessCpuTime - Run.compilerCpuNs()) / 1e6

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Seconds since process start at each named set-up step. */
  val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def mark(step: String): Unit = marks(step) = sinceStartS()

  /** Wall milliseconds of `body`, with its result or its failure. */
  def timed[A](body: => A): (Double, Either[Throwable, A]) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case scala.util.control.NonFatal(e) => Left(e) }
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** In a traced run, trace odd iterations and leave even ones untraced,
    * so one process measures the tracing overhead. The first iteration,
    * which still pays first-use costs, is untraced.
    */
  def traceIteration(i: Int): Boolean = {
    if (opts.trace) {
      if (i % 2 == 1) tracer.attach() else tracer.detach()
    }
    tracer.isAttached
  }

  /** Fewest timed ops of a run that must time at least `n`. A traced run
    * needs three: one traced, and two untraced, as the first is left out.
    */
  def minOps(n: Int): Int = if (opts.trace) math.max(n, 3) else n

  /** Overhead of tracing: traced over untraced median op time, minus one,
    * in %. `untraced` leaves out the first op, which pays first-use costs.
    */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Option[Double] =
    if (traced.isEmpty || untraced.size < 2) None
    else Some((Stats.median(traced) / Stats.median(untraced.tail) - 1) * 100)
}

object Run {
  /** CPU nanoseconds the JIT compiler threads have run, from `/proc`
    * (0 where it is absent). The JVM runs with a fixed set of compiler
    * threads, so none exits and takes its time out of the sum.
    */
  def compilerCpuNs(): Long =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          Files.readString(t.toPath.resolve("schedstat")).trim.split(' ')(0).toLong
        else 0L
      } catch { case _: java.io.IOException => 0L }
    }.sum
}

/** Benchmark entry point; `perfbench/run.py` builds and launches it.
  *
  * `--workload lake_daily|gold_serving|operator_board --seed N
  * --seconds S --trace 0|1 --work DIR --report FILE [--sf-dir DIR]`.
  * The full record, with the per-layer breakdown and every span of a
  * traced run, goes to the report file.
  */
object Main {
  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--report"),
      kv.get("--sf-dir"), kv.get("--expected"))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val cpus = Runtime.getRuntime.availableProcessors
    // half the cores run tasks; the rest keep the driver, the JIT and GC
    // from waiting for a core, which made op times swing with the host
    val threads = math.max(1, cpus / 2)
    val spark = Graft.newSession(s"local[$threads]", "perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    if (opts.trace) tracer.attach()
    val run = new Run(spark, opts, tracer)
    run.mark("session")
    val out = opts.workload match {
      case "lake_daily" => Workloads.lakeDaily(run)
      case "gold_serving" => Workloads.goldServing(run)
      case "operator_board" => Board.run(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.phase = "done"
    val layers = if (opts.trace) tracer.report(Map(
      "rewrite_ratio" -> ("gold_written_bytes", "gold_net_bytes")))
    else Map.empty[String, Map[String, Double]]
    val traceDump = if (opts.trace) tracer.dump else Nil
    val record = Map(
      "workload" -> opts.workload, "seed" -> opts.seed,
      "seconds" -> opts.seconds, "trace" -> opts.trace,
      "cpus" -> cpus, "task_threads" -> threads, "spark_version" -> spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.toSeq.map(_.toString).filter(_.startsWith("-X")),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "end_to_end" -> out.endToEnd.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "report" -> out.report.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "notes" -> out.notes,
      "marks_s" -> run.marks,
      "layers" -> layers,
      "spans" -> traceDump)
    Files.createDirectories(Paths.get(opts.report).toAbsolutePath.getParent)
    Files.writeString(Paths.get(opts.report), Json(record) + "\n")
    spark.stop()
  }
}
