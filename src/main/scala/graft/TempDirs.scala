package graft

import java.nio.file.{Files, Path}

/** Scratch directories that live at most as long as the JVM. Each one is
  * created under a single per-JVM root in `java.io.tmpdir` (`graft_jvm*`),
  * and a shutdown hook deletes that root recursively, so session-scoped
  * derived data (SketchStore's gate stores and stream sources, Serve's
  * default work dir, test fixtures) never outlives its process. A DURABLE
  * location is always a caller-chosen path and never routes through here.
  */
object TempDirs {

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_jvm")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r),
      "graft-tempdir-sweep"))
    r
  }

  /** A fresh directory named `prefix…` under the per-JVM root. */
  def apply(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  private def deleteTree(d: Path): Unit =
    try {
      val st = Files.walk(d)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => { try Files.deleteIfExists(p) catch { case _: Exception => () } })
      finally st.close()
    } catch { case _: Exception => () }
}
