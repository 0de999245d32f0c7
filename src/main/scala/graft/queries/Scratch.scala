package graft.queries

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

/** The engine's one scratch-and-staging helper.
  *
  * - [[dir]] hands out fresh dirs under one per-JVM root,
  *   `<java.io.tmpdir>/graft_run_<pid>_*`, made on first use. A single
  *   JVM shutdown hook deletes the whole root, so nothing a run stages
  *   outlives it. The scope is the JVM, not a session: memoised stages
  *   outlive sessions (Verify's per-query `newSession()`, test suites),
  *   and returned frames read their dirs lazily. On a cluster the stage
  *   target would be a shared, explicitly-lifecycled location; the
  *   shutdown hook is the local[] equivalent of that lifecycle.
  * - [[delete]] is the one recursive delete, for dirs a caller reclaims
  *   before exit (scratch checkpoints, writer dirs).
  * - [[once]] is the one once-per-corpus staging memo, keyed by stage
  *   name and sf dir.
  */
object Scratch {

  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory(s"graft_run_${ProcessHandle.current().pid()}_")
    Runtime.getRuntime.addShutdownHook(new Thread("graft-scratch-cleanup") {
      override def run(): Unit =
        try delete(r.toString)
        catch { case _: Throwable => () } // best-effort: a failed delete leaks space, never data
    })
    r
  }

  /** A fresh dir under the run's scratch root, removed at JVM exit. */
  def dir(prefix: String): String = Files.createTempDirectory(root, prefix).toString

  /** Recursively deletes `path`; a missing path is a no-op. */
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.deleteIfExists(q))
      finally paths.close()
    }
  }

  private final class Holder[A](build: => A) { lazy val value: A = build }

  private val staged = new ConcurrentHashMap[(String, String), Holder[_]]()

  /** `build`'s value, computed once per (`name`, sf dir `d`) per JVM.
    *
    * Stages call each other (NearDupComponents → NgramPairStage →
    * ShingleStage), and a nested `computeIfAbsent` on one map throws
    * `IllegalStateException: Recursive update`. So the map only
    * installs a per-key holder and `build` runs outside it, in the
    * holder's `lazy val`: concurrent callers of one key block until the
    * value is built, other keys are not blocked, and a build that
    * throws is dropped, so the next call retries it.
    */
  def once[A](name: String, d: String)(build: => A): A = {
    val key = (name, d)
    val h = staged.computeIfAbsent(key, _ => new Holder(build)).asInstanceOf[Holder[A]]
    try h.value
    catch { case e: Throwable => staged.remove(key, h); throw e }
  }
}
