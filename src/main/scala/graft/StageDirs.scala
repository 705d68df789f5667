package graft

import java.nio.file.Paths

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Process-wide root for staging and scratch directories.
  *
  * The base is derived from `user.dir` (the sbt working directory), so a
  * checkout anywhere works, and is overridable with
  * `SPARK_GRAFT_STAGE_DIR` for cluster runs where staging and scratch
  * must live on shared storage (an `hdfs://` or `s3a://` URI).
  *
  * Two kinds of directory live under it:
  *   - [[stable]] homes, shared by every call and every JVM on the
  *     checkout: the fixtures [[stageOnce]] writes once and reuses, and
  *     the two homes the NEO oracle SQL and the backfill fold name
  *     (`neo_oracle`, `neo_backfill`);
  *   - per-call state, handed out by [[CacheRegistry.scratch]] under
  *     `scratch/<jvm-id>/`: operator scratch (the lineage-truncation
  *     parquet of [[graft.operators.Fixpoint]]), stream checkpoints and
  *     sinks, and the tables the ops gates rebuild on every call. It is
  *     deleted with the caches at [[Graft.releaseCaches]], so no call
  *     ever deletes a directory another call still uses.
  *
  * Every path under the base is built and deleted through Hadoop
  * `Path`/`FileSystem`, never `java.nio`: a nio path collapses the `//`
  * of a URI base (`hdfs://nn:8020` becomes `hdfs:/nn:8020`), and a
  * local-FS delete of a shared-storage path silently does nothing.
  */
object StageDirs {

  /** Root for all staging: `$SPARK_GRAFT_STAGE_DIR`, else
    * `<user.dir>/target/graft_stage`.
    */
  val base: String = sys.env.getOrElse(
    "SPARK_GRAFT_STAGE_DIR",
    Paths.get(sys.props("user.dir"), "target", "graft_stage").toString)

  /** Stable per-component home `<base>/<tag>`, shared across calls. */
  def stable(tag: String): String = s"$base/$tag"

  private val Marker = "_STAGED"

  /** The fixture `stable(tag)`, written once and then reused by every
    * call in every JVM. The first caller runs `build` on a fresh
    * [[CacheRegistry.scratch]] slot of its own, marks the finished copy
    * and publishes it with one Hadoop rename, so `stable(tag)` only
    * ever appears complete. Hadoop's rename moves a directory INTO a
    * target that already exists, so a caller that loses the race to a
    * concurrent stager deletes its own copy, nested or not, and reads
    * the winner's.
    */
  def stageOnce(tag: String)(build: String => Unit): String = {
    val out = new Path(stable(tag))
    val marker = new Path(out, Marker)
    val fs = this.fs(out)
    if (!fs.exists(marker)) {
      val slot = new Path(CacheRegistry.scratch("stage"))
      build(slot.toString)
      fs.create(new Path(slot, Marker)).close()
      fs.mkdirs(out.getParent)
      val nested = new Path(out, slot.getName)
      if (fs.exists(out) || !fs.rename(slot, out) || fs.exists(nested)) {
        deleteRecursively(nested.toString)
        deleteRecursively(slot.toString)
      }
      require(fs.exists(marker), s"$out holds no $Marker marker: a " +
        "partial copy from an older stager; delete it to re-stage")
    }
    out.toString
  }

  /** The FileSystem `p` names, under the running session's Hadoop conf
    * (a bare Hadoop conf when no session is up).
    */
  private[graft] def fs(p: Path): FileSystem =
    p.getFileSystem(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration()))

  /** Delete `dir` and everything under it; a missing `dir` is a no-op.
    * Best effort: a failed delete (an outage, a permission, a malformed
    * path) is reported and left behind, never thrown, so a cleanup can
    * not fail the query or the release it runs in.
    */
  private[graft] def deleteRecursively(dir: String): Unit =
    try { val p = new Path(dir); fs(p).delete(p, true) }
    catch {
      case NonFatal(e) =>
        System.err.println(s"[stage-dirs] delete of $dir failed " +
          s"(left behind): ${e.getMessage}")
    }
}
