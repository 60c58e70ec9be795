package graft

import java.nio.file.Files
import graft.core.ScratchDir

/** Temp directories that tests delete after use, so repeated runs leave
  * nothing behind under `java.io.tmpdir`. */
object TempDirs {

  /** Runs `body` on a fresh temp directory named `prefix` plus a random
    * suffix and deletes it recursively afterwards, also when `body` throws.
    * A directory that cannot be fully deleted fails the caller. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally if (!ScratchDir.delete(dir)) throw new java.io.IOException(s"could not delete $dir")
  }
}
