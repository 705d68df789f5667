package graft.operators

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline observability via `Dataset.observe`: named metrics (row
  * counts, null counts, sums) that ride the EXISTING action — unlike a
  * Deequ-style post-hoc audit there is no second scan, and unlike
  * accumulators the values are tied to exactly one query execution
  * (no double-counting on retries/reuse). The write itself reports
  * what it wrote.
  *
  * 100 TB posture: observe() plants an `CollectMetrics` operator — a
  * streaming-safe, partial-aggregated side computation with constant
  * memory — so instrumenting a petabyte write costs one extra
  * map-side fold, not a pass.
  */
object Observability {

  /** Attach standard write-audit metrics to `df` under `name`:
    * n_rows, plus a null count per listed column. Read the values
    * back through a [[MetricsTap]] after any action on the result.
    */
  def audited(df: DataFrame, name: String,
              nullCheckCols: Seq[String] = Nil): DataFrame = {
    val nullCounts = nullCheckCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_null_$c"))
    df.observe(name, count(lit(1)).as("n_rows"), nullCounts: _*)
  }

  /** Captures observed metrics from completed query executions. The
    * listener bus delivers asynchronously — [[await]] polls with a
    * deadline (tests and batch jobs alike should use it rather than
    * reading immediately after the action).
    */
  final class MetricsTap(spark: SparkSession) extends AutoCloseable {
    // keyed by name, VALUED by every (executionId, row) that carried the
    // name: two executions observing the same name (a retry, a rerun, a
    // concurrent pipeline) must not overwrite each other — last-writer-
    // wins here returned the WRONG execution's audit row
    private val seen = TrieMap.empty[String, Vector[(Long, Row)]]

    private val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) =>
          seen.updateWith(k) {
            case Some(rows) if rows.exists(_._1 == qe.id) => Some(rows)
            case Some(rows) => Some(rows :+ (qe.id, v))
            case None => Some(Vector((qe.id, v)))
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    /** Latest observed row for `name`, if any execution carried it.
      * With several executions observing the same name, prefer
      * [[history]] and correlate by execution.
      */
    def metrics(name: String): Option[Row] =
      seen.get(name).flatMap(_.lastOption).map(_._2)

    /** Every captured (executionId, row) for `name`, arrival order. */
    def history(name: String): Seq[(Long, Row)] =
      seen.get(name).getOrElse(Vector.empty)

    /** Poll until ≥ `minCount` executions carrying `name` have completed
      * (or the deadline passes); returns the latest row.
      */
    def await(name: String, timeoutMs: Long = 10000L,
              minCount: Int = 1): Option[Row] = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (history(name).size < minCount && System.nanoTime() < deadline)
        Thread.sleep(25L)
      if (history(name).size < minCount) None else metrics(name)
    }

    override def close(): Unit =
      spark.listenerManager.unregister(listener)
  }

  /** Spark jobs and tasks counted by [[launched]]. */
  final case class Launched(jobs: Int, tasks: Int)

  /** Jobs and tasks launched by `body`: the jobs it runs on this thread,
    * plus every job of a streaming query that starts while it runs. A
    * stream runs its micro-batches on its own thread under job group =
    * the query's run id, not the caller's group, so those groups are
    * added as their queries start. A job run after `body` drains the
    * listener queue: its end event is delivered after every event `body`
    * posted, so the counts are complete when this returns.
    *
    * Calls nest: `body` runs under a job group named below the caller's
    * (`<caller>/launched-<n>`), an outer call counts every group below
    * its own, and the barrier job is named outside the tree. So an inner
    * call hides nothing from the outer count, and the caller's job group
    * is restored on exit.
    */
  def launched(spark: SparkSession)(body: => Unit): Launched = {
    val sc = spark.sparkContext
    val jobProps = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel")
    val saved = jobProps.map(k => k -> sc.getLocalProperty(k))
    val group = Option(sc.getLocalProperty("spark.jobGroup.id"))
      .fold("")(_ + "/") + s"launched-${System.nanoTime()}"
    val barrier = s"barrier:$group"
    def groupOf(props: java.util.Properties): String =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
    val groups = ConcurrentHashMap.newKeySet[String]()
    groups.add(group)
    def counted(props: java.util.Properties): Boolean = {
      val g = groupOf(props)
      groups.contains(g) || g.startsWith(s"$group/")
    }
    val jobs = new AtomicInteger()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger()
    val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: QueryStartedEvent => groups.add(s.runId.toString)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (counted(e.properties)) jobs.incrementAndGet()
        else if (groupOf(e.properties) == barrier) barrierJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrierJobs.contains(e.jobId)) drained.countDown()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (counted(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(barrier, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      if (!drained.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("listener queue never drained")
      Launched(jobs.get(), tasks.get())
    } finally {
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.removeSparkListener(listener)
    }
  }
}
