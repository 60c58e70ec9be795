package graft.core

/** RAM-backed `spark.local.dir` (shuffle scratch) selection for the
  * bench and soak harness mains: prefer `/dev/shm` when it has ≥ 32 GiB
  * headroom, else fall back to the platform default. Shuffle traffic on an
  * ext4 tmp dir showed multi-second rep-to-rep writeback swings on
  * otherwise-idle hosts; tmpfs makes it deterministic. Production
  * deployments make the same choice by provisioning local SSDs — this is
  * the single-box analog, never a correctness dependency. (Streaming
  * drains checkpoint to a per-drain temp dir instead; see
  * `StreamingOps.runAvailableNow`.) */
object ScratchDir {
  def shm(subdir: String): Option[String] = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > 32L * (1L << 30)) {
      val d = new java.io.File(shm, subdir)
      d.mkdirs()
      if (d.isDirectory && d.canWrite) Some(d.getAbsolutePath) else None
    } else None
  }
}
