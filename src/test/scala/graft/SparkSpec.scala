package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions

import graft.operators.Fixpoint

/** One SparkSession shared by every suite in the forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.newSession("local[4]", "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Spark jobs and tasks counted by [[SparkSpec.launched]]. */
final case class Launched(jobs: Int, tasks: Int)

trait SparkSpec extends Assertions {
  lazy val spark: SparkSession = TestSpark.spark

  /** `op`'s result under the default driver budget (its driver mirror
    * where the input fits) must equal its result with every mirror
    * forced off ([[Fixpoint.withDriverBudget]] 0, the distributed loop).
    */
  def mirrorMatchesDistributed[T](clue: String)(op: => T): Unit = {
    val mirror = op
    val distributed = Fixpoint.withDriverBudget(0)(op)
    assert(mirror === distributed, clue)
  }

  /** Jobs and tasks launched by the jobs `body` runs on this thread. A
    * job run after `body` drains the listener queue: its end event is
    * delivered after every event `body` posted.
    */
  def launched(body: => Unit): Launched = {
    val sc = spark.sparkContext
    val group = s"launched-${System.nanoTime()}"
    val barrier = s"$group-barrier"
    def groupOf(props: java.util.Properties) =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val jobs = new AtomicInteger()
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new AtomicInteger()
    val barrierJobs = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groupOf(e.properties) match {
          case `group` => jobs.incrementAndGet()
          case `barrier` => barrierJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (barrierJobs.contains(e.jobId)) drained.countDown()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties) == group) stages.add(e.stageInfo.stageId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(barrier, "listener barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener never drained")
      Launched(jobs.get(), tasks.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** events.parquet with the type-adaptive epoch-ms column appended —
    * specs must derive event time through [[Tables.epochMs]] (never a raw
    * `ts div`), so a testdata regeneration that changes the parquet
    * physical type cannot silently split specs from the engine.
    */
  def eventsWithMs(path: String): org.apache.spark.sql.DataFrame = {
    val ev = spark.read.parquet(path)
    ev.withColumn("ms", Tables.epochMs(ev))
  }
}
