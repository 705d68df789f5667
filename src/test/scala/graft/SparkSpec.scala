package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = Graft.newSession("local[4]", "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = TestSpark.spark

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
