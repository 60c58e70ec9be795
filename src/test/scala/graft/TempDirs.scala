package graft

import java.nio.file.{Files, Path}

/** Temp directories that tests delete after use, so repeated runs leave
  * nothing behind under `java.io.tmpdir`. */
object TempDirs {

  /** Runs `body` on a fresh temp directory named `prefix` plus a random
    * suffix and deletes it recursively afterwards, also when `body` throws. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally deleteRecursively(dir)
  }

  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      // Files.walk holds a directory stream open until closed
      scala.util.Using.resource(Files.walk(root)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
      }
    }
}
