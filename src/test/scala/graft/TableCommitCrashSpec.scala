package graft

import java.io.IOException
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DirSwap, MergeUpsert, VersionedTable}

/** Local filesystem that, while [[CrashingLocalFS.armed]], fails the
  * promoting rename of a table commit (tmp → live table) the way a
  * writer killed between the swap's two renames would leave it: live
  * table renamed away, complete tmp not yet promoted. It also logs the
  * listings and renames it serves.
  */
class CrashingLocalFS extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingLocalFS.calls.add(s"rename ${src.getName} -> ${dst.getName}")
    if (src.getName.endsWith("__tmp_swap") &&
        CrashingLocalFS.armed.compareAndSet(true, false))
      throw new IOException(s"injected crash promoting $src")
    super.rename(src, dst)
  }

  override def listStatus(p: Path): Array[FileStatus] = {
    CrashingLocalFS.calls.add(s"list ${p.toUri.getPath}")
    super.listStatus(p)
  }
}

object CrashingLocalFS {
  val armed = new AtomicBoolean(false)
  val calls = new ConcurrentLinkedQueue[String]()
}

/** Crash matrix for the one table commit: a writer killed between the
  * swap's renames, then a DIFFERENT kind of writer on the same path.
  * Every writer runs the same transaction over the same swap artifacts,
  * so the next writer must roll the crashed commit forward: no
  * committed row is lost, `_graft_version` never decreases, and a
  * `retain > 0` writer parks the displaced versions for time travel.
  */
class TableCommitCrashSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private type Rows = Map[Long, Long]

  private def withCrashingFs[T](body: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CrashingLocalFS].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try body
    finally {
      CrashingLocalFS.armed.set(false)
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }
  }

  private def fsOf(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Rows =
    df.select($"id", $"v").as[(Long, Long)].collect().toMap

  private def incDf(inc: Rows) = inc.toSeq.toDF("id", "v")

  private val base: Rows = (0L until 1000L).map(i => i -> i * 3).toMap

  /** (name, runs the op on a path, its effect on the rows). */
  private case class Op(name: String, run: String => Unit, effect: Rows => Rows)

  private val crashInc: Rows = Map(0L -> -1L, 1000L -> 1L, 1001L -> 2L)
  private val nextInc: Rows = Map(5L -> -5L, 2000L -> 7L)

  private val crashedOps = Seq(
    Op("merge",
      p => MergeUpsert.saveOrUpdate(spark, incDf(crashInc), p, Seq("id")),
      _ ++ crashInc),
    Op("optimize",
      p => VersionedTable(spark, p, retain = 0).optimize(1L << 30),
      identity),
    Op("versioned delete",
      p => VersionedTable(spark, p, retain = 3).delete(col("id") === 1L),
      _ - 1L))

  private val nextOps = Seq(
    Op("merge",
      p => MergeUpsert.saveOrUpdate(spark, incDf(nextInc), p, Seq("id")),
      _ ++ nextInc) -> 0,
    Op("optimize",
      p => VersionedTable(spark, p, retain = 0).optimize(1L << 30),
      identity) -> 0,
    Op("versioned merge",
      p => VersionedTable(spark, p, retain = 3).merge(incDf(nextInc), Seq("id")),
      _ ++ nextInc) -> 3)

  for (crashed <- crashedOps; (next, nextRetain) <- nextOps)
    test(s"crash in ${crashed.name} at the promoting rename, then " +
      s"${next.name}: no committed row lost, versions monotonic") {
      withCrashingFs {
        val p = Files.createTempDirectory("graft-commit-crash")
          .toString + "/t"
        val target = new Path(p)
        val t = VersionedTable(spark, p, retain = 3)
        // v1: the base table, many small files
        MergeUpsert.saveOrUpdate(spark,
          base.toSeq.toDF("id", "v").repartition(8), p, Seq("id"))
        assert(t.version() === 1L)

        CrashingLocalFS.armed.set(true)
        val e = intercept[IOException](crashed.run(p))
        assert(e.getMessage.contains("injected crash"))
        val fs = fsOf(p)
        // killed between the renames: live gone, v1 parked as old,
        // complete v2 in tmp
        assert(!fs.exists(target))
        assert(DirSwap.readVersion(fs, DirSwap.oldPath(target)) === 1L)
        assert(DirSwap.readVersion(fs, DirSwap.tmpPath(target)) === 2L)

        next.run(p)
        val afterCrash = crashed.effect(base)
        assert(rowsOf(t.read()) === next.effect(afterCrash))
        assert(t.version() === 3L) // v2 rolled forward, then v3
        assert(!fs.exists(DirSwap.tmpPath(target)))
        assert(!fs.exists(DirSwap.oldPath(target)))
        if (nextRetain > 0) {
          // the recovering writer parked v1, its own commit parked v2
          assert(t.retainedVersions() === Seq(1L, 2L))
          assert(rowsOf(t.readAt(1)) === base)
          assert(rowsOf(t.readAt(2)) === afterCrash)
        } else assert(t.retainedVersions().isEmpty)
      }
    }

  test("a retain = 0 commit neither lists the table's parent nor parks " +
    "the displaced copy") {
    withCrashingFs {
      val p = Files.createTempDirectory("graft-commit-calls").toString + "/t"
      val parent = new Path(p).getParent.toUri.getPath
      MergeUpsert.saveOrUpdate(spark, incDf(base), p, Seq("id"))
      CrashingLocalFS.calls.clear()
      MergeUpsert.saveOrUpdate(spark, incDf(nextInc), p, Seq("id"))
      VersionedTable(spark, p, retain = 0).optimize(1L << 30)
      val calls = CrashingLocalFS.calls.asScala.toSeq
      assert(!calls.exists(_.stripSuffix("/") == s"list $parent"), calls)
      assert(!calls.exists(c => c.startsWith("rename") && c.contains("__v")),
        calls)
      assert(VersionedTable(spark, p, retain = 0).version() === 3L)
    }
  }
}
