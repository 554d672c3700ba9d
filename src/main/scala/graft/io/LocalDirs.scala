package graft.io

import java.nio.file.{Files, Path, Paths}

/** Local scratch directories through `java.nio.file`: the one recursive
  * delete and the one per-JVM scratch root of the program. Spark's own
  * `JavaUtils.deleteRecursively` forks `rm -rf` on Unix, so it is not
  * used here. */
object LocalDirs {

  /** Deletes `p` and everything under it, children first; a missing `p`
    * is a no-op. */
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => { Files.deleteIfExists(f); () })
    finally s.close()
  }

  /** `root/<prefix><this JVM's pid>`, after removing every sibling
    * `root/<prefix><pid>` whose pid is not a live process: each forked
    * run gets a fresh pid, so without the sweep every run leaks its
    * scratch. Live siblings (a concurrently running JVM) are left alone,
    * and a sibling that vanishes mid-sweep is fine. */
  def pidScoped(root: Path, prefix: String): Path = {
    def alive(pid: Long): Boolean = {
      val h = ProcessHandle.of(pid)
      h.isPresent && h.get().isAlive
    }
    if (Files.isDirectory(root)) {
      val s = Files.list(root)
      try s.forEach { p =>
        val n = p.getFileName.toString
        val stale = n.startsWith(prefix) &&
          scala.util.Try(n.stripPrefix(prefix).toLong).toOption.forall(!alive(_))
        if (stale) { scala.util.Try(deleteRecursively(p)); () }
      } finally s.close()
    }
    root.resolve(prefix + ProcessHandle.current().pid)
  }

  /** Per-(dir, JVM) scratch root under `java.io.tmpdir/base`: two JVMs
    * on one host never share it, and two input dirs never share it
    * within one JVM. */
  def pidScopedScratch(base: String, dir: String): String =
    pidScoped(Paths.get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), base),
      Integer.toHexString(dir.hashCode) + "_").toString
}
