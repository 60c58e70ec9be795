package graft.core

/** Scratch directories. `shm` picks a RAM-backed `spark.local.dir`
  * (shuffle scratch) for the bench and soak harness mains: prefer
  * `/dev/shm` when it has ≥ 32 GiB headroom, else fall back to the
  * platform default. Measured on the striped 512³ zoom, rep times over
  * ext4 /tmp swing 1.6–13.7 s purely from dirty-page writeback contention
  * between reps (~1.2 GB shuffle per rep), while /dev/shm holds a flat
  * ~2.5 s. Production deployments make the same choice by
  * provisioning local SSDs — this is the single-box analog, never a
  * correctness dependency. (Streaming drains checkpoint to a per-drain temp
  * dir instead; see `StreamingOps.runAvailableNow`.) */
object ScratchDir {
  def shm(subdir: String): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > 32L * (1L << 30)) {
      val d = new java.io.File(shm, subdir)
      d.mkdirs()
      if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
    } else None
  }

  /** Deletes `root` and everything under it, best effort: the walk stops
    * at a file that cannot be deleted and nothing is thrown, so a `finally`
    * that cleans up never hides the body's own result or error. Returns
    * whether `root` is gone, for callers that must know. */
  def delete(root: java.nio.file.Path): Boolean = {
    try {
      // Files.walk holds a directory stream open until closed — scope it
      // with Using so the fd is released even when deletion throws
      scala.util.Using.resource(java.nio.file.Files.walk(root)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    !java.nio.file.Files.exists(root)
  }
}
