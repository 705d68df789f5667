package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Process-wide root for operator staging/scratch directories.
  *
  * Two problems this solves (ADVICE r10):
  *   - `OpsGate`/`StreamGateQueries` hard-coded `/root/repo/target/...`,
  *     breaking any checkout outside /root/repo. The base is now derived
  *     from `user.dir` (the sbt working directory) and overridable with
  *     `SPARK_GRAFT_STAGE_DIR` for cluster runs where scratch must live
  *     on shared storage.
  *   - the iterative graph/BPE operators ([[graft.operators.Clusters]],
  *     [[graft.operators.Bpe]]) defaulted their lineage-truncation
  *     scratch ([[graft.operators.Fixpoint]]) to a FRESH `/tmp` dir per
  *     invocation and deleted only superseded iteration dirs —
  *     Verify plus 3 Bench reps leaked
  *     O(nodes) parquet per rep. [[scratch]] hands out a deterministic
  *     per-operator slot instead and retires old slots itself, bounding
  *     disk at two generations per operator per JVM.
  *
  * Contract for [[scratch]] callers: the returned directory (and thus
  * any DataFrame whose final parquet lives under it) stays valid until
  * the SAME operator tag has been invoked twice more in this JVM. Every
  * consumer in this repo (Verify writes results immediately, Bench
  * counts immediately, specs assert immediately) satisfies that; a
  * library user who needs longer-lived results passes an explicit
  * `scratchDir`.
  */
object StageDirs {

  /** Root for all staging: `$SPARK_GRAFT_STAGE_DIR`, else
    * `<user.dir>/target/graft_stage`.
    */
  val base: String = sys.env.getOrElse(
    "SPARK_GRAFT_STAGE_DIR",
    Paths.get(sys.props("user.dir"), "target", "graft_stage").toString)

  /** Stable per-component staging dir (not generation-rotated): used by
    * the lifecycle gates that rebuild their fixture from scratch on
    * every invocation anyway.
    */
  def stable(tag: String): String = s"$base/$tag"

  private val gen = new ConcurrentHashMap[String, AtomicLong]()

  /** A fresh scratch slot for `tag`, rotating out the grandparent
    * generation. Keeping the PARENT generation alive lets one query
    * invoke the same operator twice (e.g. CC for two detectors) while
    * both results are still being read; anything older is dead by the
    * caller contract above and is deleted here.
    */
  def scratch(tag: String): String = {
    val n = gen.computeIfAbsent(tag, _ => new AtomicLong(0L))
      .incrementAndGet()
    if (n > 2) deleteRecursively(Paths.get(base, tag, s"run_${n - 2}"))
    val dir = Paths.get(base, tag, s"run_$n")
    Files.createDirectories(dir)
    dir.toString
  }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      try Files.walk(p)
        .sorted(Comparator.reverseOrder[Path]())
        .forEach(f => { val _ = Files.deleteIfExists(f) })
      catch { case _: java.io.IOException => () } // best-effort cleanup
    }
}
