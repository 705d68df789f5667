package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the settings the library reads: every `SPARK_GRAFT_*` name and
  * every `graft.*` system property in `src/main/scala`. A new knob has to
  * be added here and to the README's Settings table; a deleted one has
  * to leave both. Also pins the runnable mains (Bench is the one timing
  * loop, PlanAudit the one plan tool), the one scratch allocator,
  * [[CacheRegistry.scratch]], the one staged-once helper,
  * [[StageDirs.stageOnce]], the one parquet reader,
  * [[operators.VersionedTable.readParquet]], the one persist,
  * [[CacheRegistry.persist]], and the [[Graft]] surface.
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

  // (file, name of the nearest def above) of every match of `pattern`
  private def sites(pattern: String): Seq[(String, String)] =
    mainFiles.flatMap { case (name, src) =>
      pattern.r.findAllMatchIn(src).map { m =>
        name -> "\\bdef (\\w+)".r.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse("")
      }
    }

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
    assert(sites("""Files\.createTempDirectory""") === Nil)
    assert(sites("\"_STAGED\"").filterNot(_._1 == "StageDirs.scala") === Nil)
  }

  test("Graft's public members are the session, pipeline, serving and " +
    "table surface") {
    val src = mainFiles.collect { case ("Graft.scala", s) => s }.head
    val members = "(?m)^  (?:def|val|lazy val|var) (\\w+)".r
      .findAllMatchIn(src).map(_.group(1)).toSet
    assert(members === Set("sessionConf", "newSession", "runPipeline",
      "serve", "table", "releaseCaches"))
  }

  test("every parquet read goes through VersionedTable.readParquet") {
    assert(sites("""\.read\.parquet\(""")
      .filterNot(_._1 == "VersionedTable.scala") === Nil)
  }

  test("every persist goes through CacheRegistry.persist, bar the serving " +
    "pin") {
    assert(sites("""(?<!CacheRegistry)\.persist\(""").filterNot(site =>
      site._1 == "CacheRegistry.scala" ||
        site == ("SilverToGold.scala" -> "pinned")) === Nil)
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
