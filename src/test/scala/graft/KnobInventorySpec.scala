package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the settings the library reads: every `SPARK_GRAFT_*` name and
  * every `graft.*` system property in `src/main/scala`. A new knob has to
  * be added here and to the README's Settings table; a deleted one has
  * to leave both. Also pins the runnable mains (Bench is the one timing
  * loop, PlanAudit the one plan tool), the one scratch allocator,
  * [[CacheRegistry.scratch]], and the one staged-once helper,
  * [[StageDirs.stageOnce]].
  */
class KnobInventorySpec extends AnyFunSuite {

  // (file name, source) of every file under src/main/scala
  private val mainFiles: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root missing")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toList
  }

  private val mainSources: Seq[String] = mainFiles.map(_._2)

  private def scan(pattern: String): Set[String] =
    mainSources.flatMap(pattern.r.findAllMatchIn(_).map(_.group(1))).toSet

  test("SPARK_GRAFT_* environment names equal the pinned list") {
    assert(scan("SPARK_GRAFT_([A-Z_]+)") === Set(
      "BENCH_OUT", "CPUS", "ONLY", "REPS", "SF_DIR", "STAGE_DIR"))
  }

  test("the objects declaring a main equal the pinned list") {
    // each `def main(` belongs to the nearest `object` declared above it
    val mains = mainSources.flatMap { src =>
      "def main\\(".r.findAllMatchIn(src).map { m =>
        "\\bobject ([A-Z]\\w*)".r.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted === Seq("Bench", "PipelineRunner", "PlanAudit",
      "ScaleStage", "Verify"))
  }

  test("graft.* system properties equal the pinned list") {
    assert(scan("""sys\.props\.get\("(graft\.[A-Za-z0-9_.]+)"\)""") ===
      Set.empty[String])
  }

  test("operator scratch has one allocator: no scratchDir parameter, " +
    "no StageDirs.scratch") {
    assert(scan("""\b(scratchDir)\s*:""") === Set.empty[String])
    assert(scan("""(StageDirs\.scratch)\b""") === Set.empty[String])
  }

  test("per-call state has one home: no temp directories, one staged-once " +
    "marker") {
    def hits(needle: String): Seq[String] =
      mainFiles.flatMap { case (name, src) =>
        needle.r.findAllMatchIn(src).map(_ => name) }
    assert(hits("""Files\.createTempDirectory""") === Nil)
    assert(hits("\"_STAGED\"").filterNot(_ == "StageDirs.scala") === Nil)
  }

  test("Bench's full record defaults to this checkout, partial runs to /tmp") {
    assert(Bench.fullRecordPath(None, partial = false) ===
      Paths.get(sys.props("user.dir"), "BENCH_FULL.json").toString)
    assert(Bench.fullRecordPath(None, partial = true) ===
      "/tmp/bench_partial.json")
    assert(Bench.fullRecordPath(Some("/x/out.json"), partial = false) ===
      "/x/out.json")
    // the stdout record names the file it wrote, relative to the checkout
    assert(Bench.shownRecordPath(Bench.fullRecordPath(None,
      partial = false)) === "BENCH_FULL.json")
    assert(Bench.shownRecordPath(Bench.fullRecordPath(None,
      partial = true)) === "/tmp/bench_partial.json")
    assert(Bench.shownRecordPath(Bench.fullRecordPath(Some("/x/out.json"),
      partial = false)) === "/x/out.json")
  }
}
