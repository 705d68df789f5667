package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session conf: [[Graft.localWorkerThreads]] (shuffle
  * partitions must track the ACTUAL worker-thread count for every local
  * master form Spark accepts — `local` runs one thread, and defaulting
  * it to nproc fanned every small shuffle into nproc near-empty tasks),
  * the spec suite's session carrying [[Graft.sessionConf]], and no
  * session built anywhere but through it.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val nproc = Runtime.getRuntime.availableProcessors

  test("local master forms map to their worker-thread counts") {
    assert(Graft.localWorkerThreads("local") === Some(1))
    assert(Graft.localWorkerThreads("local[7]") === Some(7))
    assert(Graft.localWorkerThreads("local[7,3]") === Some(7))
    assert(Graft.localWorkerThreads("local[*]") === Some(nproc))
    assert(Graft.localWorkerThreads("local[*,2]") === Some(nproc))
    assert(Graft.localWorkerThreads("local-cluster[2,3,1024]") ===
      Some(6))
  }

  test("cluster masters are left to site config") {
    assert(Graft.localWorkerThreads("yarn") === None)
    assert(Graft.localWorkerThreads("spark://host:7077") === None)
    assert(Graft.localWorkerThreads("k8s://https://host:443") === None)
    // malformed local-ish strings: never guess a thread count
    assert(Graft.localWorkerThreads("localhost") === None)
    assert(Graft.localWorkerThreads("local[]") === None)
  }

  test("the test session carries every conf of Graft.sessionConf") {
    val conf = Graft.sessionConf("local[4]")
    assert(conf.toMap.get("spark.sql.shuffle.partitions") === Some("4"))
    conf.foreach { case (k, v) =>
      assert(TestSpark.spark.conf.getOption(k) === Some(v), k)
    }
  }

  test("only Graft.scala calls the SparkSession builder") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder("
    val roots = Seq("src/main/scala", "src/test/scala", "perfbench/src")
    val hits = roots.map(Paths.get(_)).flatMap { root =>
      assert(Files.isDirectory(root), s"$root missing")
      Files.walk(root).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains(needle)).toList
    }.map(_.toString)
    assert(hits === Seq("src/main/scala/graft/Graft.scala"))
  }
}
