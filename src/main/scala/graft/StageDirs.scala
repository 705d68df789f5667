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
  *   - [[stable]] homes, one per component, for the lifecycle gates and
  *     fixtures that rebuild their contents on every invocation;
  *   - operator scratch (the lineage-truncation parquet of
  *     [[graft.operators.Fixpoint]]), handed out per call by
  *     [[CacheRegistry.scratch]] under `scratch/<jvm-id>/` and deleted
  *     with the caches at [[Graft.releaseCaches]].
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

  /** Stable per-component staging dir: used by the lifecycle gates that
    * rebuild their fixture from scratch on every invocation anyway.
    */
  def stable(tag: String): String = s"$base/$tag"

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
