package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Assertions

import graft.operators.{Fixpoint, Observability}

/** One SparkSession shared by every suite in the forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.newSession("local[4]", "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

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

  /** `body` with `spark.sql.files.maxPartitionBytes` set to `bytes`,
    * the scan split that decides when a frame is planned as one
    * partition; the previous value is restored on exit.
    */
  def withSplit[T](bytes: Long)(body: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** [[Observability.launched]] on the shared session. */
  def launched(body: => Unit): Observability.Launched =
    Observability.launched(spark)(body)

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
