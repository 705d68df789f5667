package graft

import java.util.concurrent.{CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** Gates that build an on-disk table on every call, run concurrently in
  * one session: each call writes its table into its own scratch slot,
  * so two calls at once return what one call alone returns.
  */
class ConcurrencySpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().toSeq.map(_.toString).sorted

  test("q_time_travel and q_compaction on two threads at once equal " +
    "the serial run") {
    val names = Seq("q_time_travel", "q_compaction")
    val serial = names.map(n => n -> rows(n)).toMap
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val start = new CyclicBarrier(2)
    try {
      val threads = Seq.fill(2)(Future {
        start.await()
        names.map(n => n -> rows(n))
      })
      val results = threads.flatMap(Await.result(_, 10.minutes))
      assert(results.size === 4)
      results.foreach { case (n, r) => assert(r === serial(n), n) }
    } finally {
      pool.shutdown()
      Graft.releaseCaches()
    }
  }
}
