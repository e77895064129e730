package graft.core

import java.nio.file.{Files, Path, Paths}

/** Deterministic per-purpose scratch directories for the write-then-read
  * capability queries: every writer uses mode("overwrite"), so repeated
  * gate/bench/spec runs reuse ONE path per purpose instead of
  * accumulating orphaned `createTempDirectory` trees in /tmp. The paths
  * live under a per-process root, `graft_scratch_<pid>` in
  * `java.io.tmpdir`, removed at JVM exit, so two JVMs on one host never
  * share (and corrupt) a directory. */
object Scratch {
  /** This process's scratch root. A root already carrying this pid was
    * left by a dead process (no live process shares the pid) and is
    * cleared first. */
  lazy val root: Path = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_${ProcessHandle.current.pid}")
    clear(p, keepRoot = false)
    Files.createDirectories(p)
    sys.addShutdownHook {
      try clear(p, keepRoot = false)
      catch { case scala.util.control.NonFatal(_) => () } // best effort at exit
    }
    p
  }

  def dir(name: String): String =
    Files.createDirectories(root.resolve(name)).toString

  /** Like [[dir]], but emptied first — for multi-commit lifecycles
    * (manifest tables) where "overwrite" is not a single write mode and
    * stale state from a previous gate run would change the result. */
  def wiped(name: String): String = {
    val p = Paths.get(dir(name))
    clear(p, keepRoot = true)
    p.toString
  }

  private def clear(root: Path, keepRoot: Boolean): Unit =
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(root)
      try {
        // sorted() drains the walk before the first delete runs
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala
          .filter(p => !keepRoot || p != root)
          .foreach(Files.delete)
      } finally walk.close()
    }
}
