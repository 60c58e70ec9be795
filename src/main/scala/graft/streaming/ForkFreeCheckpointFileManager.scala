package graft.streaming

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager

/** Checkpoint file manager for local paths that starts no processes.
  * Without libhadoop, Hadoop's local file system sets permissions by
  * forking `chmod` on every create and mkdir, and Spark's default
  * FileContext-based manager also forks `readlink` on every rename; a
  * micro-batch writes an offset file, a commit file and a state delta
  * (plus checksum files) per epoch, so the forks, not the I/O, set a
  * small drain's floor.
  *
  * Only local paths take a different route: the temp file is opened with
  * `java.io` (default permissions from the umask, no `chmod`), `mkdirs`
  * goes through `Files.createDirectories`, and an overwriting rename is
  * one atomic `rename(2)`. The rest is the stock manager: temp-then-rename
  * publish through `FileSystem.rename` (which forks nothing), `cancel`,
  * the `overwriteIfPossible = false` check, and Spark's state-file
  * checksum wrapper on top. The stock local path calls no
  * `hsync`/`hflush` on these streams, so neither does this one. Other
  * file systems go to `super`.
  *
  * Spark builds it from `spark.sql.streaming.checkpointFileManagerClass`
  * through the `(Path, Configuration)` constructor;
  * [[StreamingOps.runAvailableNow]] sets that conf for its drain only. */
class ForkFreeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {

  private def localFile(p: Path): Option[File] = fs match {
    case l: LocalFileSystem => Some(l.pathToFile(p))
    case r: RawLocalFileSystem => Some(r.pathToFile(p))
    case _ => None
  }

  override def createTempFile(p: Path): FSDataOutputStream = localFile(p) match {
    case Some(f) =>
      // FileSystem.create makes missing parents; keep that contract
      Files.createDirectories(f.getParentFile.toPath)
      new FSDataOutputStream(new BufferedOutputStream(new FileOutputStream(f)), null)
    case None => super.createTempFile(p)
  }

  override def mkdirs(p: Path): Unit = localFile(p) match {
    case Some(d) => Files.createDirectories(d.toPath)
    case None => super.mkdirs(p)
  }

  // Spark's jars include hive-exec, whose ProxyLocalFileSystem can serve
  // file: and refuses to rename onto an existing file; the stock method
  // then keeps the old file, without an error, and leaves the temp file.
  override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit =
    (localFile(src), localFile(dst)) match {
      case (Some(s), Some(d)) if overwriteIfPossible =>
        Files.move(s.toPath, d.toPath, StandardCopyOption.ATOMIC_MOVE)
      case _ => super.renameTempFile(src, dst, overwriteIfPossible)
    }
}
