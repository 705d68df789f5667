package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Observability
import graft.operators.Observability.MetricsTap

/** observe()-based write audit: metrics ride the action, match actual
  * data, and survive to the listener exactly once per execution.
  */
class ObservabilitySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("audited write reports row and null counts without a second scan") {
    val tap = new MetricsTap(spark)
    try {
      val df = Seq(
        (1L, Some("a")), (2L, None), (3L, Some("c")), (4L, None)
      ).toDF("id", "v")
      val out = Files.createTempDirectory("graft_obs_").toString
      Observability.audited(df, "silver_write", Seq("v"))
        .write.mode("overwrite").parquet(out)
      val m = tap.await("silver_write")
      assert(m.nonEmpty, "observed metrics never arrived")
      assert(m.get.getAs[Long]("n_rows") === 4L)
      assert(m.get.getAs[Long]("n_null_v") === 2L)
      // and the write itself is untouched by the instrumentation
      assert(spark.read.parquet(out).count() === 4L)
    } finally tap.close()
  }

  test("metrics are per-execution: a second action refreshes the row") {
    val tap = new MetricsTap(spark)
    try {
      val a = Observability.audited(
        Seq(1L, 2L, 3L).toDF("id"), "tap_demo")
      a.count()
      assert(tap.await("tap_demo").map(_.getAs[Long]("n_rows"))
        === Some(3L))
      val b = Observability.audited(
        Seq(1L).toDF("id"), "tap_demo")
      b.count()
      val deadline = System.nanoTime() + 10000L * 1000000L
      var latest = tap.metrics("tap_demo").map(_.getAs[Long]("n_rows"))
      while (latest != Some(1L) && System.nanoTime() < deadline) {
        Thread.sleep(25L)
        latest = tap.metrics("tap_demo").map(_.getAs[Long]("n_rows"))
      }
      assert(latest === Some(1L))
    } finally tap.close()
  }

  test("launched counts the micro-batch jobs of a stream started in body") {
    val dir = Files.createTempDirectory("graft_launched_").toString
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$dir/in")
    val sink = s"launched_${System.nanoTime()}"
    val counted = launched {
      val q = spark.readStream.schema("id BIGINT").parquet(s"$dir/in")
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$dir/checkpoint")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000L), "stream never terminated")
    }
    assert(spark.table(sink).count() === 3L)
    // the batch runs its jobs under the query's own job group
    assert(counted.jobs > 0)
    assert(counted.tasks > 0)
  }

  test("launched nests and restores the caller's job group") {
    // a shuffle and a result stage: more than one job and task to count
    def body(): Unit =
      spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k")
        .groupBy("k").count().collect()
    val plain = launched(body())
    assert(plain.jobs > 0)
    var inner = Observability.Launched(-1, -1)
    val outer = launched { inner = launched(body()) }
    assert(outer === plain)
    assert(inner === plain)
    val sc = spark.sparkContext
    sc.setJobGroup("caller", "set before the count")
    try {
      launched(body())
      assert(sc.getLocalProperty("spark.jobGroup.id") === "caller")
      assert(sc.getLocalProperty("spark.job.description") ===
        "set before the count")
    } finally sc.clearJobGroup()
  }
}
